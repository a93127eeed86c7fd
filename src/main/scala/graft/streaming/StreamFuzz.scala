package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Sessions

/** Streaming twin FUZZER (r11 VERDICT #1): the differential method that
  * certifies the batch dialect (FuzzGen + DuckDB), generalized to the
  * streaming surface. Each scenario draws a random topology — windowed
  * aggregation (TUMBLE/HOP/SESSION × agg set × keyed/global), a
  * stream-stream interval join (INNER/LEFT/RIGHT/FULL × interval bounds,
  * with planted never-matching rows so the outer null sides are
  * non-vacuous), the composed join→windowed-agg chain (r13 — the
  * reference's two-hop pipeline shape), or the per-row EMIT CHANGES
  * operators (StreamOps.perRowAggs / perRowAggsWindowed)
  * — plus a seeded event stream with out-of-order, duplicate, NULL-ts and
  * decisively-LATE records, replays it through live Structured Streaming
  * (file micro-batches, one parquet file per batch, processAllAvailable
  * between appends → a deterministic watermark trajectory), and compares
  * the final emission set against the SAME aggregation expressions run as
  * a batch plan over the referee's survivor set.
  *
  * The referee (expected late-drops) re-implements nothing subtle: the
  * generator places every record DECISIVELY — normal records jitter
  * backwards strictly less than the watermark delay (so they always
  * arrive at-or-above the watermark), and late records are ~2 DAYS older
  * than anything seen (so every window/interval that could admit them
  * closed long ago, under any boundary convention). A record the two
  * rules would classify differently cannot be generated, so a
  * streaming-vs-batch mismatch is an engine/topology bug, not a referee
  * artifact. NULL-ts records are dropped at ingestion by BOTH plans (an
  * explicit IS NOT NULL filter is part of every topology — event-time
  * operators have no meaning for a NULL event time).
  *
  * Value columns are small LONGs (and their SUM/AVG therefore exact in
  * double arithmetic), so every comparison is exact — no tolerances.
  *
  * Reference contract: the reference asserts last-value + subsequence
  * semantics for streaming SQL (hstream/test/HStream/RunSQLSpec.hs:85-92);
  * the twin equality asserted here is strictly stronger.
  *
  * In-CI half: StreamFuzzSpec runs pinned seeds. Offline roaming:
  * `sbt "runMain graft.streaming.StreamFuzz <seedCsv> [scenariosPerSeed]"`.
  */
object StreamFuzz {

  final case class Report(name: String, ok: Boolean, detail: String)

  private val T0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val LateMs = T0 - 2L * 86400 * 1000      // decisively late
  private val SentinelMs = T0 + 370L * 86400 * 1000 // closes everything

  /** One generated record. `lateMarked` is the generator's classification
    * (decisive by construction — see the scaladoc). */
  private final case class Ev(k: Long, tsMs: Option[Long], v: Option[Long],
                              typ: String, lateMarked: Boolean)

  private final case class Scenario(
      name: String,
      kind: String,              // tumble|hop|session|join_{inner,left,right,full,agg}|perrow*|asof
      batches: Vector[Vector[Ev]],
      sizeMin: Int, advanceMin: Int, gapMin: Int,
      delayMin: Int,
      beforeMin: Int, afterMin: Int,
      keyed: Boolean,
      aggs: Seq[String])         // subset of cnt,cv,sv,mnv,mxv,av

  private def mix(seed: Long, i: Int): Random = {
    val m1 = scala.util.hashing.MurmurHash3.productHash((seed, i))
    val m2 = scala.util.hashing.MurmurHash3.productHash((i, seed, 0x9e3779b9L))
    new Random((m1.toLong << 32) | (m2.toLong & 0xffffffffL))
  }

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  private def genScenario(seed: Long, i: Int): Scenario = {
    val r = mix(seed, i)
    // r13 (VERDICT #2): RIGHT/FULL outer interval joins (the V2
    // reference implements all four join types — DiffFlow/Types.hs:
    // 323-328) and the composed two-operator chain join_agg
    // (interval-join → windowed aggregation, the reference's two-hop
    // pipeline shape — RunSQLSpec.hs:93-128) join the generator.
    // r14 (VERDICT #5): chain3 — THREE chained stateful operators
    // (interval join → TUMBLE agg → coarser TUMBLE re-agg over
    // window_time), the deepest composed topology; the agg→join
    // direction is a PINNED REJECTION matching the reference
    // (Codegen/V1.hs:295-300 rejects joins over aggregated streams) —
    // see SqlEngineSpec's streaming-rejection pin.
    val kind = Vector("tumble", "hop", "session", "join_inner", "join_left",
      "perrow", "perrow_win", "perrow_session", "asof",
      "join_right", "join_full", "join_agg", "latest", "chain3")(i % 14)
    val delayMin = pick(r, Seq(5, 10, 15))
    // session kinds can't take decisively-late records (their merge
    // semantics would need the referee to model eviction timing); every
    // other kind gets them in batches ≥ 1
    val withLate = !kind.contains("session") && r.nextBoolean()
    val nBatches = 3 + r.nextInt(2)
    val nKeys = 1 + r.nextInt(5)
    val segMin = 20 // each batch covers ~20 min of event time
    val oooMs = (delayMin * 60000L * 4) / 5 // jitter < delay: never late
    val batches = (0 until nBatches).map { b =>
      val n = 40 + r.nextInt(60)
      val rows = Vector.newBuilder[Ev]
      (0 until n).foreach { j =>
        val base = T0 + b.toLong * segMin * 60000L +
          r.nextInt(segMin * 60000).toLong
        val ts = base - (r.nextDouble() * oooMs).toLong // bounded backward jitter
        val ev = Ev(
          k = r.nextInt(nKeys).toLong,
          tsMs = if (r.nextInt(20) == 0) None else Some(ts),
          v = if (r.nextInt(8) == 0) None else Some(r.nextInt(101).toLong - 50),
          typ = if (r.nextBoolean()) "a" else "b",
          lateMarked = false)
        rows += ev
        if (r.nextInt(6) == 0) rows += ev // verbatim duplicate
      }
      if (withLate && b >= 1)
        (0 until 1 + r.nextInt(3)).foreach { j =>
          rows += Ev(r.nextInt(nKeys).toLong, Some(LateMs + j * 60000L),
            Some(7L), if (r.nextBoolean()) "a" else "b", lateMarked = true)
        }
      // outer-join kinds get GUARANTEED-unmatched rows on each null-
      // capable side (keys outside the shared domain, one side only), so
      // the null-side-at-watermark path is never vacuously certified:
      // LEFT/FULL plant left-only rows (→ null-RIGHT output), RIGHT/FULL
      // plant right-only rows (→ null-LEFT output)
      if (kind == "join_right" || kind == "join_full" || kind == "join_left")
        (0 until 1 + r.nextInt(2)).foreach { j =>
          val base = T0 + b.toLong * segMin * 60000L +
            r.nextInt(segMin * 60000).toLong
          if (kind != "join_left")
            rows += Ev(200L + j, Some(base), Some(r.nextInt(9).toLong), "b",
              lateMarked = false)
          if (kind != "join_right")
            rows += Ev(100L + j, Some(base + 1000L),
              Some(r.nextInt(9).toLong), "a", lateMarked = false)
        }
      r.shuffle(rows.result())
    }.toVector
    val allAggs = Seq("cnt", "cv", "sv", "mnv", "mxv", "av")
    val aggs = "cnt" +: r.shuffle(allAggs.tail).take(1 + r.nextInt(4))
    val sizeMin = pick(r, Seq(10, 20, 30))
    Scenario(f"sfz_${seed}%d_${i}%02d_$kind", kind, batches,
      sizeMin = sizeMin,
      // Spark requires slide ≤ size for hopping windows
      advanceMin = pick(r, Seq(5, 10, 15).filter(_ <= sizeMin)),
      gapMin = pick(r, Seq(5, 10, 20)),
      delayMin = delayMin,
      beforeMin = pick(r, Seq(0, 5, 10)),
      afterMin = pick(r, Seq(5, 10)),
      keyed = kind == "session" || r.nextBoolean(),
      aggs = aggs)
  }

  // ---- execution -----------------------------------------------------------

  private val evSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = true),
    StructField("v", LongType, nullable = true),
    StructField("typ", StringType, nullable = false)))

  private def toDf(spark: SparkSession, evs: Seq[Ev]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(evs.map(e => Row(
        e.k, e.tsMs.map(new java.sql.Timestamp(_)).orNull,
        e.v.map(Long.box).orNull, e.typ)), 1),
      evSchema)

  private def aggCols(aggs: Seq[String]): Seq[Column] = aggs.map {
    case "cnt" => count(lit(1)).as("cnt")
    case "cv" => count(col("v")).as("cv")
    case "sv" => sum(col("v")).as("sv")
    case "mnv" => min(col("v")).as("mnv")
    case "mxv" => max(col("v")).as("mxv")
    case "av" => avg(col("v")).as("av")
  }

  /** Referee: watermark trajectory over the staged batches (global, the
    * min across both branch watermarks for joins — equal delays make the
    * distinction moot at our margins) and the survivor set. Every record
    * is decisively placed; the assert is a harness self-check. */
  private def survivors(sc: Scenario): Seq[Ev] = {
    var wmMs = 0L
    val keep = Seq.newBuilder[Ev]
    sc.batches.foreach { b =>
      b.foreach { e =>
        e.tsMs.foreach { ts =>
          val decisiveKeep = ts >= wmMs
          val decisiveDrop = ts + 12L * 3600 * 1000 < wmMs
          require(decisiveKeep != decisiveDrop || decisiveKeep,
            s"ambiguous record ts=$ts wm=$wmMs — generator bug")
          require(e.lateMarked == decisiveDrop,
            s"marking mismatch ts=$ts wm=$wmMs late=${e.lateMarked}")
          if (!decisiveDrop) keep += e
        }
      }
      val mx = b.flatMap(_.tsMs).maxOption.getOrElse(Long.MinValue)
      wmMs = math.max(wmMs, mx - sc.delayMin * 60000L)
    }
    keep.result()
  }

  /** Stage batches as one-parquet-file micro-batches, run `plan` over the
    * stream, appending a sentinel batch at the end (one row per typ, key
    * −1), and return the memory sink's rows. */
  private def replay(spark: SparkSession, sc: Scenario,
                     mkPlan: DataFrame => DataFrame, mode: String,
                     sinkName: String, sentinel: Boolean): Seq[Row] = {
    val dir = Files.createTempDirectory(s"graft_sfz_$sinkName").toString
    def writeBatch(evs: Seq[Ev]): Unit =
      toDf(spark, evs).coalesce(1).write.mode("append").parquet(dir)
    writeBatch(sc.batches.head)
    val stream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = mkPlan(stream).writeStream.outputMode(mode)
      .format("memory").queryName(sinkName).start()
    try {
      q.processAllAvailable()
      sc.batches.tail.foreach { b =>
        writeBatch(b); q.processAllAvailable()
      }
      if (sentinel) {
        writeBatch(Seq(
          Ev(-1L, Some(SentinelMs), Some(0L), "a", lateMarked = false),
          Ev(-1L, Some(SentinelMs), Some(0L), "b", lateMarked = false)))
        q.processAllAvailable()
      }
      spark.table(sinkName).collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(sinkName)
      // delete the staged batches once the query is down (r13 ADVICE: a
      // long roaming run leaked one temp dir per scenario into /tmp)
      try {
        import scala.jdk.CollectionConverters._
        Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      } catch { case _: Exception => () } // cleanup is best-effort
    }
  }

  /** Canonical multiset of rows for exact comparison. */
  private def canon(rows: Seq[Row]): Map[String, Int] = {
    def cell(v: Any): String = v match {
      case null => "∅"
      case d: java.lang.Double =>
        BigDecimal(d).underlying.stripTrailingZeros.toPlainString
      case other => other.toString
    }
    rows.map(_.toSeq.map(cell).mkString("\t")).groupBy(identity)
      .map { case (k, vs) => k -> vs.size }
  }

  private def diffMsg(got: Map[String, Int], want: Map[String, Int]): String = {
    val extra = got.collect { case (k, n) if n > want.getOrElse(k, 0) => k }
    val missing = want.collect { case (k, n) if n > got.getOrElse(k, 0) => k }
    s"rows got=${got.values.sum} want=${want.values.sum}; " +
      s"extra=${extra.take(3).mkString(" | ")}; " +
      s"missing=${missing.take(3).mkString(" | ")}"
  }

  /** Run one scenario; None = twin equality holds. */
  private def runOne(spark: SparkSession, sc: Scenario): Option[String] = {
    val surv = survivors(sc)
    val survDf = toDf(spark, surv)
    val delay = s"${sc.delayMin} minutes"
    val keys: Seq[Column] = if (sc.keyed) Seq(col("k")) else Nil
    def winProj(df: DataFrame, winCol: String): DataFrame =
      df.select((keys :+ col(s"$winCol.start").as("ws") :+
        col(s"$winCol.end").as("we")) ++ sc.aggs.map(col) : _*)
    def dropSentinel(rows: Seq[Row]): Seq[Row] =
      rows.filterNot { r =>
        (sc.keyed && r.getLong(0) == -1L) ||
          r.getAs[java.sql.Timestamp](if (sc.keyed) 1 else 0)
            .getTime >= T0 + 180L * 86400 * 1000
      }

    sc.kind match {
      case "tumble" | "hop" | "session" =>
        val mk: DataFrame => DataFrame = { s0 =>
          val s = s0.filter(col("ts").isNotNull)
          val grouped = sc.kind match {
            case "tumble" => StreamOps.tumble(s, "ts", s"${sc.sizeMin} minutes",
              keys, grace = delay)
            case "hop" => StreamOps.hop(s, "ts", s"${sc.sizeMin} minutes",
              s"${sc.advanceMin} minutes", keys, grace = delay)
            case _ => StreamOps.session(s, "ts", s"${sc.gapMin} minutes",
              keys, grace = delay)
          }
          val winCol = if (sc.kind == "session") "session_window" else "window"
          winProj(grouped.agg(aggCols(sc.aggs).head, aggCols(sc.aggs).tail: _*),
            winCol)
        }
        val got = dropSentinel(replay(spark, sc, mk, "append", sc.name,
          sentinel = true))
        val batchGrouped = sc.kind match {
          case "tumble" => survDf.filter(col("ts").isNotNull)
            .groupBy(window(col("ts"), s"${sc.sizeMin} minutes") +: keys: _*)
          case "hop" => survDf.filter(col("ts").isNotNull)
            .groupBy(window(col("ts"), s"${sc.sizeMin} minutes",
              s"${sc.advanceMin} minutes") +: keys: _*)
          case _ => survDf.filter(col("ts").isNotNull)
            .groupBy(session_window(col("ts"), s"${sc.gapMin} minutes") +: keys: _*)
        }
        val winCol = if (sc.kind == "session") "session_window" else "window"
        val want = winProj(
          batchGrouped.agg(aggCols(sc.aggs).head, aggCols(sc.aggs).tail: _*),
          winCol).collect().toSeq
        // append mode must also emit each finalized group EXACTLY once
        val gotC = canon(got); val wantC = canon(want)
        if (gotC == wantC) None else Some(diffMsg(gotC, wantC))

      case "join_inner" | "join_left" | "join_right" | "join_full" =>
        val jt = sc.kind match {
          case "join_left" => "leftOuter"
          case "join_right" => "rightOuter"
          case "join_full" => "fullOuter"
          case _ => "inner"
        }
        def sides(df: DataFrame): (DataFrame, DataFrame) = (
          df.filter(col("ts").isNotNull && col("typ") === "a")
            .select(col("k").as("lk"), col("ts").as("lts"), col("v").as("lv")),
          df.filter(col("ts").isNotNull && col("typ") === "b")
            .select(col("k").as("rk"), col("ts").as("rts"), col("v").as("rv")))
        val mk: DataFrame => DataFrame = { s =>
          val (l, rr) = sides(s)
          StreamOps.intervalJoin(l, rr, "lts", "rts",
            s"${sc.beforeMin} minutes", s"${sc.afterMin} minutes",
            col("lk") === col("rk"), joinType = jt, grace = delay)
            .select(col("lk"), col("lts"), col("lv"),
              col("rk"), col("rts"), col("rv"))
        }
        // outer sides make lk NULLABLE — sentinel rows filter null-safely
        // (the matched sentinel pair carries lk = rk = −1)
        val got = replay(spark, sc, mk, "append", sc.name, sentinel = true)
          .filterNot(r => (!r.isNullAt(0) && r.getLong(0) == -1L) ||
            (!r.isNullAt(3) && r.getLong(3) == -1L))
        val (lb, rb) = sides(survDf)
        val range =
          col("rts") >= col("lts") - expr(s"INTERVAL ${sc.beforeMin} minutes") &&
          col("rts") <= col("lts") + expr(s"INTERVAL ${sc.afterMin} minutes")
        val want = lb.join(rb, range && col("lk") === col("rk"), jt)
          .select(col("lk"), col("lts"), col("lv"),
            col("rk"), col("rts"), col("rv"))
          .collect().toSeq
        // non-vacuity (r13): the generator plants unmatched rows on every
        // null-capable side, so the watermark-close null-row path is
        // actually inside the compared surface, not a lucky zero
        val nullLeft = want.count(_.isNullAt(0))
        val nullRight = want.count(_.isNullAt(3))
        if ((sc.kind == "join_left" || sc.kind == "join_full") && nullRight == 0)
          return Some("vacuous outer draw: no null-RIGHT rows in the twin")
        if ((sc.kind == "join_right" || sc.kind == "join_full") && nullLeft == 0)
          return Some("vacuous outer draw: no null-LEFT rows in the twin")
        val gotC = canon(got); val wantC = canon(want)
        if (gotC == wantC) None else Some(diffMsg(gotC, wantC))

      case "join_agg" =>
        // composed two-operator chain (the reference's two-hop pipeline
        // shape): inner interval join, then a TUMBLE aggregation over the
        // joined stream's LEFT event time — Spark's multiple-stateful-
        // operator path (watermark propagates through the join into the
        // window operator). Twin: the same join + agg as one batch plan
        // over the survivor set.
        def sides(df: DataFrame): (DataFrame, DataFrame) = (
          df.filter(col("ts").isNotNull && col("typ") === "a")
            .select(col("k").as("lk"), col("ts").as("lts"), col("v").as("lv")),
          df.filter(col("ts").isNotNull && col("typ") === "b")
            .select(col("k").as("rk"), col("ts").as("rts"), col("v").as("rv")))
        def agg(joined: DataFrame): DataFrame = joined
          .groupBy(window(col("lts"), s"${sc.sizeMin} minutes"), col("lk"))
          .agg(count(lit(1)).as("cnt"), sum(col("lv")).as("svl"),
            sum(col("rv")).as("svr"))
          .select(col("lk"), col("window.start").as("ws"),
            col("window.end").as("we"), col("cnt"), col("svl"), col("svr"))
        val mk: DataFrame => DataFrame = { s =>
          val (l, rr) = sides(s)
          agg(StreamOps.intervalJoin(l, rr, "lts", "rts",
            s"${sc.beforeMin} minutes", s"${sc.afterMin} minutes",
            col("lk") === col("rk"), joinType = "inner", grace = delay))
        }
        val got = replay(spark, sc, mk, "append", sc.name, sentinel = true)
          .filterNot(r => r.getLong(0) == -1L ||
            r.getAs[java.sql.Timestamp](1).getTime >= T0 + 180L * 86400 * 1000)
        val (lb, rb) = sides(survDf)
        val range =
          col("rts") >= col("lts") - expr(s"INTERVAL ${sc.beforeMin} minutes") &&
          col("rts") <= col("lts") + expr(s"INTERVAL ${sc.afterMin} minutes")
        val want = agg(lb.join(rb, range && col("lk") === col("rk"), "inner"))
          .collect().toSeq
        val gotC = canon(got); val wantC = canon(want)
        if (gotC == wantC) None else Some(diffMsg(gotC, wantC))

      case "chain3" =>
        // THREE chained stateful operators (r14): inner interval join →
        // TUMBLE(size) aggregation on the joined stream's left event time
        // → a COARSER TUMBLE(2×size) re-aggregation over the first agg's
        // window via window_time (Spark's chained-time-window path — the
        // watermark must propagate join → agg1 → agg2 and close both
        // window layers). Twin: the identical three-operator composition
        // as one batch plan over the survivor set.
        def sides3(df: DataFrame): (DataFrame, DataFrame) = (
          df.filter(col("ts").isNotNull && col("typ") === "a")
            .select(col("k").as("lk"), col("ts").as("lts"), col("v").as("lv")),
          df.filter(col("ts").isNotNull && col("typ") === "b")
            .select(col("k").as("rk"), col("ts").as("rts"), col("v").as("rv")))
        def agg1(joined: DataFrame): DataFrame = joined
          .groupBy(window(col("lts"), s"${sc.sizeMin} minutes"), col("lk"))
          .agg(count(lit(1)).as("cnt"), sum(col("lv")).as("svl"))
        def agg2(a: DataFrame): DataFrame = a
          .groupBy(window(window_time(col("window")),
            s"${2 * sc.sizeMin} minutes"), col("lk"))
          .agg(sum(col("cnt")).as("cnt2"), sum(col("svl")).as("svl2"),
            count(lit(1)).as("nwin"))
          .select(col("lk"), col("window.start").as("ws"),
            col("window.end").as("we"), col("cnt2"), col("svl2"), col("nwin"))
        val mk: DataFrame => DataFrame = { s =>
          val (l, rr) = sides3(s)
          agg2(agg1(StreamOps.intervalJoin(l, rr, "lts", "rts",
            s"${sc.beforeMin} minutes", s"${sc.afterMin} minutes",
            col("lk") === col("rk"), joinType = "inner", grace = delay)))
        }
        val got = replay(spark, sc, mk, "append", sc.name, sentinel = true)
          .filterNot(r => r.getLong(0) == -1L ||
            r.getAs[java.sql.Timestamp](1).getTime >= T0 + 180L * 86400 * 1000)
        val (lb3, rb3) = sides3(survDf)
        val range3 =
          col("rts") >= col("lts") - expr(s"INTERVAL ${sc.beforeMin} minutes") &&
          col("rts") <= col("lts") + expr(s"INTERVAL ${sc.afterMin} minutes")
        val want = agg2(agg1(
          lb3.join(rb3, range3 && col("lk") === col("rk"), "inner")))
          .collect().toSeq
        val gotC = canon(got); val wantC = canon(want)
        if (gotC == wantC) None else Some(diffMsg(gotC, wantC))

      case "perrow" =>
        // unwindowed EMIT CHANGES: no watermark operator exists, so ALL
        // non-null-ts records (late included) flow through; the final
        // state per key is the emission whose cnt equals the key's input
        // count, and the per-row cadence means emissions == input rows
        val rowAggs = sc.aggs.map {
          case "cnt" => StreamOps.RowAgg("cnt", "count", "*")
          case "cv" => StreamOps.RowAgg("cv", "count", "v")
          case "sv" => StreamOps.RowAgg("sv", "sum", "v")
          case "mnv" => StreamOps.RowAgg("mnv", "min", "v")
          case "mxv" => StreamOps.RowAgg("mxv", "max", "v")
          case "av" => StreamOps.RowAgg("av", "avg", "v")
        }
        val mk: DataFrame => DataFrame =
          s => StreamOps.perRowAggs(s.filter(col("ts").isNotNull),
            Seq("k"), rowAggs)
        val got = replay(spark, sc, mk, "update", sc.name, sentinel = false)
        val all = sc.batches.flatten.filter(_.tsMs.isDefined)
        val perKey = all.groupBy(_.k).view.mapValues(_.size.toLong).toMap
        if (got.size != all.size)
          return Some(s"cadence: ${got.size} emissions for ${all.size} input rows")
        val cntIdx = 1 + sc.aggs.indexOf("cnt")
        val finals = got.filter(r => r.getLong(cntIdx) == perKey(r.getLong(0)))
        val want = toDf(spark, all).groupBy(col("k"))
          .agg(aggCols(sc.aggs).head, aggCols(sc.aggs).tail: _*).collect().toSeq
        val gotC = canon(finals); val wantC = canon(want)
        if (gotC == wantC) None
        else Some("final states: " + diffMsg(gotC, wantC))

      case "asof" =>
        // streaming as-of enrichment (asofEnrich's flatMapGroupsWithState
        // machine: watermark-held pending lefts, trimmed right history
        // with one carry row) vs the batch as-of operator over survivors.
        // The right payload is a FUNCTION of (k, ts): duplicate right
        // (key, ts) rows are ambiguous in BOTH engines (the operator's
        // documented caveat), and identical payloads make the ambiguity
        // unobservable instead of requiring a stateful dedup
        def lSide(df: DataFrame) = df
          .filter(col("ts").isNotNull && col("typ") === "a")
          .select(col("k"), col("ts"), col("v").as("lv"))
        def rSide(df: DataFrame) = df
          .filter(col("ts").isNotNull && col("typ") === "b")
          .select(col("k"), col("ts"),
            (unix_micros(col("ts")) / 1000L % 997L + col("k") * 7L).as("rv"),
            col("ts").as("rts"))
        val mk: DataFrame => DataFrame = s =>
          StreamOps.asofEnrich(lSide(s), rSide(s), "k", "k", "ts", "ts",
            Seq("rv", "rts"), grace = delay)
        val got = replay(spark, sc, mk, "append", sc.name, sentinel = true)
          .filterNot(_.getLong(0) == -1L)
        val want = graft.operators.AsofJoin.backward(
          lSide(survDf), rSide(survDf), "k", "k", "ts", "ts",
          Seq("rv", "rts")).collect().toSeq
        val gotC = canon(got); val wantC = canon(want)
        if (gotC == wantC) None else Some(diffMsg(gotC, wantC))

      case "perrow_session" =>
        // per-row EMIT CHANGES over SESSION windows — the fluid-window
        // state machine (sessions extend and MERGE as rows arrive): the
        // cadence is one emission per surviving row, and every
        // batch-final session row must appear verbatim among the
        // emissions (a merged session's LAST emission carries its final
        // bounds + accumulators)
        val rowAggs = Seq(StreamOps.RowAgg("cnt", "count", "*"),
          StreamOps.RowAgg("sv", "sum", "v"),
          StreamOps.RowAgg("mxv", "max", "v"))
        val mk: DataFrame => DataFrame =
          s => StreamOps.perRowAggsSession(s.filter(col("ts").isNotNull),
            Seq("k"), rowAggs, ts = "ts", gap = s"${sc.gapMin} minutes",
            grace = delay)
        val got = replay(spark, sc, mk, "update", sc.name, sentinel = false)
        val nSurv = survivors(sc).size
        val want = survDf.filter(col("ts").isNotNull)
          .groupBy(col("k"), session_window(col("ts"), s"${sc.gapMin} minutes"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"),
            max(col("v")).as("mxv"))
          .select(col("k"), col("cnt"), col("sv"), col("mxv"),
            col("session_window.start"), col("session_window.end"))
          .collect().toSeq
        val gotC = canon(got)
        val missing = canon(want).keys.filterNot(gotC.contains)
        if (got.size != nSurv)
          Some(s"cadence: ${got.size} emissions for $nSurv surviving rows")
        else if (missing.nonEmpty)
          Some(s"${missing.size} batch session rows never emitted: ${missing.take(3).mkString(" | ")}")
        else None

      case "latest" =>
        // the reference's TABLE SOURCE (latest value per key,
        // Stream.hs:89-135) as a live update-mode topology. No watermark
        // operator exists, so ALL non-null-ts rows count (late included).
        // The payload is a FUNCTION of (k, ts) — rows tying on (k, ts)
        // are ambiguous in both engines and identical payloads make that
        // unobservable (the asof-kind protocol). Final state per key =
        // the emission carrying the key's maximum ts (the running latest
        // is monotone in ts); the batch twin is the same operator over
        // the full input.
        def proj(df: DataFrame): DataFrame = df
          .filter(col("ts").isNotNull)
          .select(col("k"), col("ts"),
            (unix_micros(col("ts")) / 1000L % 997L + col("k") * 7L).as("pv"))
        val mk: DataFrame => DataFrame =
          s => StreamOps.latestPerKey(proj(s), Seq("k"), "ts")
        val got = replay(spark, sc, mk, "update", sc.name, sentinel = false)
        val all = sc.batches.flatten.filter(_.tsMs.isDefined)
        val want = StreamOps.latestPerKey(proj(toDf(spark, all)), Seq("k"), "ts")
          .collect().toSeq
        val finals = got.groupBy(_.getLong(0)).values
          .map(_.maxBy(_.getAs[java.sql.Timestamp](1).getTime)).toSeq
        val gotC = canon(finals); val wantC = canon(want)
        if (gotC == wantC) None else Some("final latest: " + diffMsg(gotC, wantC))

      case "perrow_win" =>
        // per-row EMIT CHANGES over TUMBLE windows: every batch-final
        // window row must appear among the emissions (its last per-row
        // emission), and the cadence is one emission per surviving
        // expanded row
        val rowAggs = Seq(StreamOps.RowAgg("cnt", "count", "*"),
          StreamOps.RowAgg("sv", "sum", "v"))
        val mk: DataFrame => DataFrame =
          s => StreamOps.perRowAggsWindowed(s.filter(col("ts").isNotNull),
            Seq("k"), rowAggs, ts = "ts", size = s"${sc.sizeMin} minutes",
            grace = delay)
        val got = replay(spark, sc, mk, "update", sc.name, sentinel = false)
        val want = survDf.filter(col("ts").isNotNull)
          .groupBy(col("k"), window(col("ts"), s"${sc.sizeMin} minutes"))
          .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"))
          .select(col("k"), col("cnt"), col("sv"),
            col("window.start"), col("window.end"))
          .collect().toSeq
        val gotC = canon(got)
        val missing = canon(want).keys.filterNot(gotC.contains)
        if (got.size != survivors(sc).size)
          Some(s"cadence: ${got.size} emissions for ${survivors(sc).size} surviving rows")
        else if (missing.nonEmpty)
          Some(s"${missing.size} batch window rows never emitted: ${missing.take(3).mkString(" | ")}")
        else None
    }
  }

  /** Run `n` scenarios for a seed; a Report per scenario. */
  def run(spark: SparkSession, seed: Long, n: Int): Seq[Report] =
    (0 until n).map { i =>
      val sc = genScenario(seed, i)
      try runOne(spark, sc) match {
        case None => Report(sc.name, ok = true, "")
        case Some(d) => Report(sc.name, ok = false, d)
      } catch {
        case e: Throwable =>
          Report(sc.name, ok = false, s"EXEC ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }

  /** Offline roaming: `runMain graft.streaming.StreamFuzz <seedCsv> [n]`. */
  def main(args: Array[String]): Unit = {
    val seeds = args.headOption.getOrElse("1").split(",").map(_.trim.toLong)
    val n = if (args.length > 1) args(1).toInt else 28
    val spark = Sessions.local(Sessions.cpus(8))
    var ok = 0; var fail = 0
    seeds.foreach { s =>
      run(spark, s, n).foreach { rep =>
        if (rep.ok) { ok += 1; System.err.println(s"[sfz] ok   ${rep.name}") }
        else {
          fail += 1
          System.err.println(s"[sfz] FAIL ${rep.name}: ${rep.detail}")
        }
      }
    }
    println(s"""{"metric":"streamfuzz","ok":$ok,"fail":$fail,"seeds":"${seeds.mkString(",")}","per_seed":$n}""")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
