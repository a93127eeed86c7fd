package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Sessions

/** VIEW-MAINTENANCE differential fuzzer (r12 VERDICT #1): the largest
  * custom body in the engine — complete-mode snapshots, incremental
  * whole-bucket upsert, DURATION retention, engine-restart recovery
  * (Engine.scala §3.2) — was certified only by hand-written specs. This
  * generalizes the twin method to it: each scenario draws a random
  * (view definition × maintenance mode × append schedule × restart
  * event × two-hop CSAS feed × pull predicates), maintains the
  * view LIVE through a file-backed stream (optionally through a CSAS
  * middle hop — the reference's stream → CSAS → view pipeline,
  * RunSQLSpec.hs:93-128/RegressionSpec — whose stateless transform the
  * referee applies to its own raw rows), and after EVERY trigger compares
  * every pull against a from-scratch batch recompute over all rows
  * appended so far.
  *
  * Reference contract: pull queries serve the view's maintained state
  * with the immediate WHERE applied (hstream/src/HStream/Server/Core/
  * View.hs:166-254); update-mode maintenance = the reference's
  * incremental state (View.hs:94-141). The twin equality asserted here
  * is the materialization-independence of that contract: whatever the
  * store did — whole-bucket rewrite, snapshot flip, manifest recovery
  * after a restart — a pull must equal the same aggregation run fresh
  * over the full input. Key predicates prune incremental pulls to one
  * bucket, so a wrongly-pruned bucket LOSES rows and breaks the multiset
  * equality.
  *
  * Retention uses wall-clock DURATION (the engine's semantics): expired
  * keys carry DECISIVELY-ancient event times (2015) and live keys
  * near-now times, so both the engine's current_timestamp() filter and
  * the referee's agree regardless of evaluation instant.
  *
  * In-CI: ViewFuzzSpec (pinned seeds). Offline roaming:
  * `sbt "runMain graft.streaming.ViewFuzz <seedCsv> [scenariosPerSeed]"`.
  */
object ViewFuzz {

  final case class Report(name: String, ok: Boolean, detail: String,
                          rewrites: Int = 0, expired: Int = 0)

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("_ts", TimestampType)))

  private final case class Scenario(
      name: String,
      mode: String,            // complete | inc | append
      windowed: Boolean,       // TUMBLE(10 min) grouping (inc only)
      retention: Boolean,      // DURATION retention (inc only)
      restartAt: Option[Int],  // engine restart before batch i
      twoHop: Boolean,         // stream → CSAS → view (the two-hop shape)
      buckets: Int,
      aggs: Seq[String],       // subset of cnt, sv, mnv, mxv, av
      batches: Vector[Vector[(String, Long, String)]], // (k, v, ts)
      preds: Vector[String])

  // the audited two-half MurmurHash mix (r12 ADVICE a: near-linear seeds
  // repeat java.util.Random's first bounded draws verbatim across queries)
  private def mix(seed: Long, i: Int): Random = {
    val m1 = scala.util.hashing.MurmurHash3.productHash((seed, i, 19))
    val m2 = scala.util.hashing.MurmurHash3.productHash((i, seed, 0x9e3779b9L))
    new Random((m1.toLong << 32) | (m2.toLong & 0xffffffffL))
  }

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  /** Event times: near-now for live rows (minutes back from wall clock),
    * 2015 for decisively-expired rows. Rendered in the engine's literal
    * timestamp format. */
  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def tsOf(minutesAgo: Long): String =
    // explicit pattern: LocalDateTime.toString OMITS ":ss" when the
    // second is zero, which Timestamp.valueOf rejects — a wall-clock-
    // dependent flake (one in sixty runs, found by the full-suite run)
    java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .minusMinutes(minutesAgo).withNano(0).format(tsFmt)

  private def genScenario(seed: Long, i: Int): Scenario = {
    val r = mix(seed, i)
    // two of every four scenarios are incremental
    val mode = Vector("complete", "inc", "inc", "append")(i % 4)
    val windowed = mode == "inc" && r.nextBoolean()
    val retention = mode == "inc" && r.nextBoolean()
    val nBatches = 3 + r.nextInt(3)
    val keys = ('a' to ('a' + 3 + r.nextInt(4)).toChar).map(_.toString)
    val hot = pick(r, keys)
    val ancient = if (retention) Seq("old0", "old1") else Nil
    val batches = (0 until nBatches).map { b =>
      val n = 15 + r.nextInt(30)
      Vector.tabulate(n) { j =>
        val k =
          if (ancient.nonEmpty && r.nextInt(8) == 0) pick(r, ancient)
          else if (r.nextBoolean()) hot
          else pick(r, keys)
        val ts =
          if (k.startsWith("old")) s"2015-01-01 00:0${r.nextInt(9)}:00"
          else tsOf(60L - b * 10 - r.nextInt(10))
        (k, r.nextInt(21).toLong - 10, ts)
      }
    }.toVector
    val aggs = "cnt" +: r.shuffle(Seq("sv", "mnv", "mxv", "av"))
      .take(1 + r.nextInt(3))
    val preds = Vector(
      "true",
      s"k = '$hot'",
      s"k = '${pick(r, keys)}' OR k = '${pick(r, keys)}'") ++
      (if (aggs.contains("sv")) Vector(s"sv > ${r.nextInt(21) - 10}",
        s"sv <= ${r.nextInt(21) - 10} AND cnt >= 1") else Vector.empty)
    val twoHop = mode != "append" && r.nextInt(3) == 0
    Scenario(
      name = f"vfz_${seed}%d_${i}%02d_$mode" +
        (if (windowed) "_win" else "") + (if (retention) "_ret" else "") +
        (if (twoHop) "_hop" else ""),
      mode = mode, windowed = windowed, retention = retention,
      restartAt = if (mode != "append" && r.nextBoolean())
        Some(1 + r.nextInt(nBatches - 1)) else None,
      twoHop = twoHop,
      buckets = pick(r, Seq(4, 8)),
      aggs = aggs, batches = batches, preds = preds)
  }

  // ---- plans ---------------------------------------------------------------

  private def aggExprs(sc: Scenario) = sc.aggs.map {
    case "cnt" => count(lit(1)).as("cnt")
    case "sv" => sum(col("v")).as("sv")
    case "mnv" => min(col("v")).as("mnv")
    case "mxv" => max(col("v")).as("mxv")
    case "av" => avg(col("v")).as("av")
  } ++ (if (sc.retention) Seq(max(col("_ts")).as("mts")) else Nil)

  /** The view plan over `src` — IDENTICAL shape for the live view and the
    * batch referee (only the input differs), so a mismatch is the STORE's
    * fault, not the aggregation's. */
  private def viewPlan(sc: Scenario, src: DataFrame): DataFrame = {
    val out = (keys: Seq[org.apache.spark.sql.Column]) =>
      src.groupBy(keys: _*).agg(aggExprs(sc).head, aggExprs(sc).tail: _*)
    if (sc.mode == "append") // session windows (the append-mode contract)
      src.withWatermark("_ts", "10 minutes")
        .groupBy(session_window(col("_ts"), "5 minutes"), col("k"))
        .agg(aggExprs(sc).head, aggExprs(sc).tail: _*)
        .select(Seq(col("session_window.start").as("ws"),
          col("session_window.end").as("we"),
          col("k")) ++ sc.aggs.map(col): _*)
    else if (sc.windowed)
      out(Seq(window(col("_ts"), "10 minutes"), col("k")))
        .select(Seq(col("window.start").as("ws")) ++
          (col("k") +: sc.aggs.map(col)) ++
            (if (sc.retention) Seq(col("mts")) else Nil): _*)
    else out(Seq(col("k")))
  }

  private def upsertKeys(sc: Scenario): Seq[String] =
    if (sc.windowed) Seq("ws", "k") else Seq("k")

  // ---- referee -------------------------------------------------------------

  /** From-scratch recompute over every row appended so far, with the
    * retention horizon applied the same way the store does (to the
    * AGGREGATE row's mts — the store sheds/filters stored rows, whose
    * mts is the key's full-history latest event time). */
  private def recompute(spark: SparkSession, sc: Scenario,
                        rows: Seq[(String, Long, String)]): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v, ts) =>
        Row(k, v, java.sql.Timestamp.valueOf(ts)) }, 4), schema)
    val agg = viewPlan(sc, df)
    val ret = if (sc.retention)
      agg.where(col("mts") >= current_timestamp() - expr("INTERVAL 30 days"))
    else agg
    ret
  }

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

  // ---- execution -------------------------------------------------------------

  /** Run one scenario; Report.ok = every pull equaled its recompute.
    * Without `driverCopy`, incremental views keep no driver copy, so every
    * pull scans parquet. */
  def runOne(spark: SparkSession, sc: Scenario, driverCopy: Boolean = true): Report = {
    val srcDir = Files.createTempDirectory(s"graft_vfz_src").toString
    val viewRoot = Files.createTempDirectory(s"graft_vfz_root").toString
    val ckptRoot = Files.createTempDirectory(s"graft_vfz_ckpt").toString
    val midDir = Files.createTempDirectory(s"graft_vfz_mid").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    val stream = s"${sc.name}_s"; val view = s"${sc.name}_v"
    val mid = s"${sc.name}_m"
    var expired = 0
    // the two-hop CSAS transform (stateless filter + project — a file
    // sink is append-mode); the referee applies the SAME mapping to its
    // raw rows (csasRows below)
    def csas(df: DataFrame): DataFrame = df.filter(col("v") =!= 0)
      .select(col("k"), (col("v") * 2 - 1).as("v"), col("_ts"))
    def mkEngine(): Engine = {
      val e = new Engine(spark)
      if (!driverCopy) e.incViewDriverRows = 0
      e.createFileStream(stream, srcDir, schema)
      val src = if (sc.twoHop) {
        e.createFileStream(mid, midDir, schema)
        e.createStreamAs(mid, csas(e.df(stream)))
        e.df(mid)
      } else e.df(stream)
      sc.mode match {
        case "complete" => e.createView(view, viewPlan(sc, src))
        case "append" => e.createViewAppend(view, viewPlan(sc, src))
        case _ => e.createViewIncremental(view, viewPlan(sc, src),
          keys = upsertKeys(sc), buckets = sc.buckets,
          retainOn = if (sc.retention) Some("mts") else None,
          retention = if (sc.retention) Some("30 days") else None)
      }
      e
    }
    def csasRows(rows: Seq[(String, Long, String)]) =
      if (!sc.twoHop) rows
      else rows.collect { case (k, v, ts) if v != 0 => (k, v * 2 - 1, ts) }
    def stopAll(e: Engine): Unit = {
      try e.terminate(view) catch { case _: Exception => () }
      if (sc.twoHop) try e.terminate(mid) catch { case _: Exception => () }
    }
    var engine = mkEngine()
    val seen = Vector.newBuilder[(String, Long, String)]
    try {
      sc.batches.zipWithIndex.foreach { case (batch, b) =>
        if (sc.restartAt.contains(b)) {
          // restart event: kill the maintenance (and CSAS) queries
          // mid-run; the new engine must recover the manifest/snapshot
          // AND the agg state (and the CSAS file-sink commit log)
          stopAll(engine)
          engine = mkEngine()
        }
        Files.writeString(java.nio.file.Paths.get(srcDir, s"b$b.json"),
          batch.map { case (k, v, ts) =>
            s"""{"k":"$k","v":$v,"_ts":"$ts"}""" }.mkString("\n"))
        engine.processAll()
        seen ++= batch
        // append-mode visibility: closed sessions only — pulls compare at
        // the closure point (after the sentinel) instead of per batch
        if (sc.mode != "append") {
          val all = csasRows(seen.result())
          sc.preds.foreach { pred =>
            val got = engine.pull(view, pred).collect().toSeq
            val want = recompute(spark, sc, all).where(pred).collect().toSeq
            val (g, w) = (canon(got), canon(want))
            if (g != w)
              return Report(sc.name, ok = false,
                s"batch $b pred [$pred]: got=${g.values.sum} want=${w.values.sum}" +
                  s" extra=${(g.keySet -- w.keySet).take(2).mkString(" | ")}" +
                  s" missing=${(w.keySet -- g.keySet).take(2).mkString(" | ")}")
          }
          if (sc.retention) {
            val lives = engine.pull(view, "true").collect()
            if (all.exists(_._1.startsWith("old")) &&
                !lives.exists(r => r.getString(
                  if (sc.windowed) 1 else 0).startsWith("old"))) expired += 1
          }
        }
      }
      if (sc.mode == "append") {
        // sentinel closes every session; its own (still-open) session is
        // invisible to pulls AND absent from the referee's input
        Files.writeString(java.nio.file.Paths.get(srcDir, "sentinel.json"),
          s"""{"k":"zz","v":0,"_ts":"${tsOf(-525600L)}"}""")
        engine.processAll()
        val all = seen.result()
        sc.preds.foreach { pred =>
          val got = engine.pull(view, pred).collect().toSeq
          val want = recompute(spark, sc, all).where(pred).collect().toSeq
          val (g, w) = (canon(got), canon(want))
          if (g != w)
            return Report(sc.name, ok = false,
              s"append-close pred [$pred]: got=${g.values.sum} want=${w.values.sum}" +
                s" missing=${(w.keySet -- g.keySet).take(2).mkString(" | ")}")
        }
      }
      Report(sc.name, ok = true, "", expired = expired)
    } catch {
      // NonFatal, NOT Throwable: the mismatch `return Report(...)` sites
      // above sit inside foreach closures, so they unwind through here as
      // ControlThrowable — a Throwable catch would swallow them and
      // replace the detailed diff with "EXEC NonLocalReturnControl"
      case scala.util.control.NonFatal(e) =>
        Report(sc.name, ok = false,
          s"EXEC ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      stopAll(engine)
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
      Seq(srcDir, viewRoot, ckptRoot, midDir).foreach { d =>
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
            .toSeq.reverse.foreach(p => Files.deleteIfExists(p))
        } catch { case _: Exception => () }
      }
    }
  }

  // ---- concurrent maintenance (r13 VERDICT #4) ------------------------------

  /** A second view's shape for the MULTI-VIEW scenarios: the reference
    * serves many views over shared streams concurrently (per-query
    * allocation, Handler/Query.hs:81-84) — each view here gets its own
    * mode/buckets/agg subset over ONE source stream, and pulls interleave
    * across the two after every batch. */
  private final case class ViewCfg(mode: String, // complete | inc
                                   windowed: Boolean, buckets: Int,
                                   aggs: Seq[String])

  private def cfgAggs(cfg: ViewCfg) = cfg.aggs.map {
    case "cnt" => count(lit(1)).as("cnt")
    case "sv" => sum(col("v")).as("sv")
    case "mnv" => min(col("v")).as("mnv")
    case "mxv" => max(col("v")).as("mxv")
    case "av" => avg(col("v")).as("av")
  }

  private def cfgPlan(cfg: ViewCfg, src: DataFrame): DataFrame =
    if (cfg.windowed)
      src.groupBy(window(col("_ts"), "10 minutes"), col("k"))
        .agg(cfgAggs(cfg).head, cfgAggs(cfg).tail: _*)
        .select(col("window.start").as("ws") +:
          (col("k") +: cfg.aggs.map(col)): _*)
    else src.groupBy(col("k")).agg(cfgAggs(cfg).head, cfgAggs(cfg).tail: _*)

  private def cfgRecompute(spark: SparkSession, cfg: ViewCfg,
                           rows: Seq[(String, Long, String)]): DataFrame =
    cfgPlan(cfg, spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (k, v, ts) =>
        Row(k, v, java.sql.Timestamp.valueOf(ts)) }, 4), schema))

  private final case class MultiScenario(
      name: String, a: ViewCfg, b: ViewCfg, restartAt: Option[Int],
      batches: Vector[Vector[(String, Long, String)]],
      preds: Vector[String])

  private def genMulti(seed: Long, i: Int): MultiScenario = {
    val r = mix(seed, i + 5000) // disjoint stream from genScenario's
    val nBatches = 3 + r.nextInt(3)
    val keys = ('a' to ('a' + 3 + r.nextInt(4)).toChar).map(_.toString)
    val hot = pick(r, keys)
    val batches = (0 until nBatches).map { b =>
      Vector.tabulate(15 + r.nextInt(30)) { _ =>
        (if (r.nextBoolean()) hot else pick(r, keys),
          r.nextInt(21).toLong - 10, tsOf(60L - b * 10 - r.nextInt(10)))
      }
    }.toVector
    val modes = r.shuffle(Seq("complete", "inc", "inc"))
    def cfg(m: String) = {
      val windowed = m != "complete" && r.nextBoolean()
      val buckets = pick(r, Seq(2, 4, 8))
      r.nextInt(2) // unused draw: keeps the pinned seeds' later draws
      ViewCfg(m, windowed, buckets, aggs = "cnt" +:
        r.shuffle(Seq("sv", "mnv", "mxv", "av")).take(1 + r.nextInt(3)))
    }
    MultiScenario(
      name = f"vfzm_${seed}%d_${i}%02d_${modes(0)}_${modes(1)}",
      a = cfg(modes(0)), b = cfg(modes(1)),
      restartAt = if (r.nextBoolean()) Some(1 + r.nextInt(nBatches - 1))
                  else None,
      batches = batches,
      preds = Vector("true", s"k = '$hot'"))
  }

  /** Two views, different modes/buckets, SAME source stream; pulls
    * interleave across the views after every batch (A first on even
    * batches, B first on odd), and a restart kills and recovers BOTH
    * maintenance queries. ok = every pull equals that view's own
    * from-scratch recompute. */
  def runMultiOne(spark: SparkSession, sc: MultiScenario): Report = {
    val srcDir = Files.createTempDirectory("graft_vfzm_src").toString
    val viewRoot = Files.createTempDirectory("graft_vfzm_root").toString
    val ckptRoot = Files.createTempDirectory("graft_vfzm_ckpt").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    val stream = s"${sc.name}_s"
    val views = Seq(("a", sc.a), ("b", sc.b)).map { case (sfx, cfg) =>
      (s"${sc.name}_v$sfx", cfg) }
    var rewrites = 0
    def mkEngine(): Engine = {
      val e = new Engine(spark)
      e.createFileStream(stream, srcDir, schema)
      views.foreach { case (vn, cfg) =>
        cfg.mode match {
          case "complete" => e.createView(vn, cfgPlan(cfg, e.df(stream)))
          case _ => e.createViewIncremental(vn, cfgPlan(cfg, e.df(stream)),
            keys = if (cfg.windowed) Seq("ws", "k") else Seq("k"),
            buckets = cfg.buckets)
        }
      }
      e
    }
    def stopAll(e: Engine): Unit = views.foreach { case (vn, _) =>
      try e.terminate(vn) catch { case _: Exception => () } }
    def incManifests(e: Engine): Map[String, Map[Int, String]] =
      views.collect { case (vn, cfg) if cfg.mode == "inc" =>
        vn -> e.viewManifest(vn) }.toMap
    var engine = mkEngine()
    val seen = Vector.newBuilder[(String, Long, String)]
    try {
      sc.batches.zipWithIndex.foreach { case (batch, b) =>
        if (sc.restartAt.contains(b)) { stopAll(engine); engine = mkEngine() }
        val before = incManifests(engine)
        Files.writeString(java.nio.file.Paths.get(srcDir, s"b$b.json"),
          batch.map { case (k, v, ts) =>
            s"""{"k":"$k","v":$v,"_ts":"$ts"}""" }.mkString("\n"))
        engine.processAll()
        seen ++= batch
        val all = seen.result()
        // interleave: alternate which view answers first each batch
        val order = if (b % 2 == 0) views else views.reverse
        sc.preds.foreach { pred =>
          order.foreach { case (vn, cfg) =>
            val got = canon(engine.pull(vn, pred).collect().toSeq)
            val want = canon(
              cfgRecompute(spark, cfg, all).where(pred).collect().toSeq)
            if (got != want)
              return Report(sc.name, ok = false,
                s"batch $b view $vn pred [$pred]: got=${got.values.sum}" +
                  s" want=${want.values.sum}" +
                  s" missing=${(want.keySet -- got.keySet).take(2).mkString(" | ")}")
          }
        }
        // a batch that rewrote a bucket some earlier generation served
        val after = incManifests(engine)
        if (before.exists { case (vn, m) => rewritten(m, after(vn)).nonEmpty })
          rewrites += 1
      }
      Report(sc.name, ok = true, "", rewrites = rewrites)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Report(sc.name, ok = false,
          s"EXEC ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      stopAll(engine)
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
      Seq(srcDir, viewRoot, ckptRoot).foreach { d =>
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
            .toSeq.reverse.foreach(p => Files.deleteIfExists(p))
        } catch { case _: Exception => () }
      }
    }
  }

  /** The buckets whose leaf in manifest `before` was replaced by a new one
    * in `after`: rewrites of buckets an earlier generation served. */
  private def rewritten(before: Map[Int, String],
                        after: Map[Int, String]): Iterable[Int] =
    before.keys.filter(b => after.get(b).exists(_ != before(b)))

  def runMulti(spark: SparkSession, seed: Long, n: Int): Seq[Report] =
    (0 until n).map(i => runMultiOne(spark, genMulti(seed, i)))

  /** Pull racing an in-flight maintenance transaction (r13 VERDICT #4b):
    * an incremental view over a few hot keys and 2–4 buckets is
    * maintained live, and the [[Engine.incViewSeam]] test seam issues a
    * FULL pull + referee compare from the maintenance thread at each
    * transaction point — after the generation's files are written but
    * before the manifest flips (must serve the PRE-batch state), after
    * the in-memory flip but before persistence (must serve the POST-batch
    * state), and after persistence before GC (post-batch state). Any torn
    * read — new files behind an old manifest, a half-flipped manifest —
    * breaks the multiset equality. Non-vacuity: at least one trigger must
    * rewrite a bucket an earlier generation already served, with the
    * post-write pull serving the old leaf while the new leaf's file
    * exists. Without `driverCopy`, every pull scans parquet, so the
    * post-write pull reads the old leaf files. */
  def runRaceOne(spark: SparkSession, seed: Long, i: Int,
                 driverCopy: Boolean = true): Report = {
    val r = mix(seed, i + 9000)
    val name = f"vfzr_${seed}%d_${i}%02d"
    val keys = ('a' to ('a' + 2 + r.nextInt(3)).toChar).map(_.toString)
    val hot = pick(r, keys)
    val nBatches = 3 + r.nextInt(2)
    val batches = (0 until nBatches).map { b =>
      Vector.tabulate(10 + r.nextInt(15)) { _ =>
        (if (r.nextBoolean()) hot else pick(r, keys),
          r.nextInt(21).toLong - 10, tsOf(60L - b * 10 - r.nextInt(10)))
      }
    }.toVector
    val cfg = ViewCfg("inc", windowed = false,
      buckets = pick(r, Seq(2, 4)),
      aggs = "cnt" +: r.shuffle(Seq("sv", "mnv", "mxv"))
        .take(1 + r.nextInt(2)))
    val srcDir = Files.createTempDirectory("graft_vfzr_src").toString
    val viewRoot = Files.createTempDirectory("graft_vfzr_root").toString
    val ckptRoot = Files.createTempDirectory("graft_vfzr_ckpt").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    val stream = s"${name}_s"; val view = s"${name}_v"
    val engine = new Engine(spark)
    if (!driverCopy) engine.incViewDriverRows = 0
    val mismatches = scala.collection.mutable.Buffer.empty[String]
    var rewritesSeen = 0
    try {
      engine.createFileStream(stream, srcDir, schema)
      engine.createViewIncremental(view, cfgPlan(cfg, engine.df(stream)),
        keys = Seq("k"), buckets = cfg.buckets)
      val fs = new org.apache.hadoop.fs.Path(viewRoot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def exists(leaf: String) = fs.exists(new org.apache.hadoop.fs.Path(leaf))
      val seen = Vector.newBuilder[(String, Long, String)]
      batches.zipWithIndex.foreach { case (batch, b) =>
        val pre = canon(
          cfgRecompute(spark, cfg, seen.result()).collect().toSeq)
        val post = canon(
          cfgRecompute(spark, cfg, seen.result() ++ batch).collect().toSeq)
        var served = Map.empty[Int, String] // the manifest at "post-write"
        engine.incViewSeam = (v, point) => if (v == view) {
          val got = canon(engine.pull(view, "true").collect().toSeq)
          val want = if (point == "post-write") pre else post
          if (got != want) mismatches +=
            s"batch $b seam $point: got=${got.values.sum} want=${want.values.sum}"
          if (point == "post-write") served = engine.viewManifest(view)
          // the generation's leaves are written before "post-write", so
          // a rewritten bucket's new leaf existed while the old one served
          if (point == "post-flip") {
            val now = engine.viewManifest(view)
            val rw = rewritten(served, now)
            if (rw.nonEmpty &&
                rw.forall(bk => exists(served(bk)) && exists(now(bk))))
              rewritesSeen += 1
          }
        }
        Files.writeString(java.nio.file.Paths.get(srcDir, s"b$b.json"),
          batch.map { case (k, v, ts) =>
            s"""{"k":"$k","v":$v,"_ts":"$ts"}""" }.mkString("\n"))
        engine.processAll()
        seen ++= batch
      }
      if (mismatches.nonEmpty)
        Report(name, ok = false, mismatches.take(3).mkString(" | "))
      else if (rewritesSeen == 0)
        Report(name, ok = false,
          "vacuous: no trigger rewrote a bucket an earlier generation served")
      else Report(name, ok = true, "", rewrites = rewritesSeen)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Report(name, ok = false,
          s"EXEC ${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      engine.incViewSeam = (_, _) => ()
      try engine.terminate(view) catch { case _: Exception => () }
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
      Seq(srcDir, viewRoot, ckptRoot).foreach { d =>
        try {
          import scala.jdk.CollectionConverters._
          Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
            .toSeq.reverse.foreach(p => Files.deleteIfExists(p))
        } catch { case _: Exception => () }
      }
    }
  }

  def runRace(spark: SparkSession, seed: Long, n: Int,
              driverCopy: Boolean = true): Seq[Report] =
    (0 until n).map(i => runRaceOne(spark, seed, i, driverCopy))

  def run(spark: SparkSession, seed: Long, n: Int,
          driverCopy: Boolean = true): Seq[Report] =
    (0 until n).map(i => runOne(spark, genScenario(seed, i), driverCopy))

  def main(args: Array[String]): Unit = {
    val seeds = args.headOption.getOrElse("1").split(",").map(_.trim.toLong)
    val n = if (args.length > 1) args(1).toInt else 12
    val spark = Sessions.local(Sessions.cpus(8))
    var ok = 0; var fail = 0; var expired = 0
    seeds.foreach { s =>
      val nSide = math.max(2, n / 3) // multi-view + race tiers per seed
      (run(spark, s, n) ++ runMulti(spark, s, nSide) ++
        runRace(spark, s, nSide)).foreach { rep =>
        if (rep.ok) {
          ok += 1; expired += rep.expired
          System.err.println(s"[vfz] ok   ${rep.name} rewrites=${rep.rewrites}" +
            s" expired=${rep.expired}")
        } else { fail += 1; System.err.println(s"[vfz] FAIL ${rep.name}: ${rep.detail}") }
      }
    }
    println(s"""{"metric":"viewfuzz","ok":$ok,"fail":$fail,"expired":$expired,"seeds":"${seeds.mkString(",")}"}""")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
