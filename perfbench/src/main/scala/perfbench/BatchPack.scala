package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Deterministic tables in the layout and schema of the engine's test data
  * (one `<table>.parquet` per table), at the row counts of its sf0.01
  * tier. Every value is a hash of the row id, so the tables do not depend
  * on partitioning or the run seed and their query checksums can be
  * committed. */
object BatchData {
  private def h(salt: Int) = s"xxhash64(id, $salt)"
  private def u(salt: Int) = s"((${h(salt)} & 4294967295) / 4294967296.0)"
  private def pick(salt: Int, xs: String*) =
    s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), cast(pmod(${h(salt)}, ${xs.size}) as int) + 1)"
  private def mod(salt: Int, n: Int) = s"pmod(${h(salt)}, $n)"

  val vocab: Seq[String] = Seq("batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "vector", "the", "join", "customer",
    "index", "shard", "token", "event", "user", "state", "view", "pull", "push", "log")

  /** Bump when the generator changes, so cached tables are rebuilt. */
  val version = "v1"

  /** The tables under `root`, generated on first use and then reused:
    * they are an input fixture, fixed by `version`, not run state. */
  def ensure(spark: SparkSession, root: Path): Path = {
    val dir = root.resolve(s"tables-$version")
    if (!Files.exists(dir.resolve("_complete"))) {
      val tmp = root.resolve(s"tables-$version.tmp-${ProcessHandle.current().pid()}")
      generate(spark, tmp)
      Files.createFile(tmp.resolve("_complete"))
      try Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException => Sys.rmrf(tmp) } // lost a race: reuse the winner's
    }
    dir
  }

  def generate(spark: SparkSession, dir: Path): Unit = {
    def range(n: Long, cols: (String, String)*): DataFrame =
      spark.range(0, n, 1, 4).selectExpr(cols.map { case (c, e) => s"$e AS $c" }: _*)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)

    write("region", range(5, "r_regionkey" -> "cast(id as int)",
      "r_name" -> "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), cast(id as int) + 1)"))
    write("nation", range(25, "n_nationkey" -> "cast(id as int)", "n_name" -> "concat('NATION_', id)",
      "n_regionkey" -> "cast(id % 5 as int)"))
    write("customer", range(1500, "c_custkey" -> "id", "c_name" -> "format_string('Customer#%09d', id)",
      "c_nationkey" -> s"cast(${mod(1, 25)} as int)", "c_acctbal" -> s"round(${u(2)} * 10998.99 - 999.99, 2)",
      "c_mktsegment" -> pick(3, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))
    write("supplier", range(100, "s_suppkey" -> "id", "s_name" -> "format_string('Supplier#%09d', id)",
      "s_nationkey" -> s"cast(${mod(1, 25)} as int)", "s_acctbal" -> s"round(${u(2)} * 10998.99 - 999.99, 2)"))
    write("part", range(2000, "p_partkey" -> "id",
      "p_name" -> s"concat(${pick(1, "blue", "hot", "small", "old", "red", "new", "cold", "large")}, ' ', ${pick(2, "bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut")})",
      "p_brand" -> s"concat('Brand#', ${mod(3, 25)} + 1)",
      "p_type" -> pick(4, "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"),
      "p_size" -> s"cast(${mod(5, 50)} + 1 as int)", "p_retailprice" -> "900 + (id % 1000) / 10.0"))
    write("orders", range(15000, "o_orderkey" -> "id", "o_custkey" -> mod(1, 1500),
      "o_orderstatus" -> pick(2, "O", "F", "P"), "o_totalprice" -> s"round(1000 + ${u(3)} * 499000, 2)",
      "o_orderdate" -> s"cast(date_add(date'1995-01-01', cast(${mod(4, 2404)} as int)) as timestamp)",
      "o_orderpriority" -> pick(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    write("lineitem", range(60000, "l_orderkey" -> mod(1, 15000), "l_partkey" -> mod(2, 2000),
      "l_suppkey" -> mod(3, 100), "l_linenumber" -> s"cast(${mod(4, 7)} + 1 as int)",
      "l_quantity" -> s"cast(${mod(5, 50)} + 1 as double)", "l_extendedprice" -> s"round(900 + ${u(6)} * 104100, 2)",
      "l_discount" -> s"${mod(7, 11)} / 100.0", "l_tax" -> s"${mod(8, 9)} / 100.0",
      "l_returnflag" -> pick(9, "A", "N", "R"), "l_linestatus" -> pick(10, "O", "F"),
      "l_shipdate" -> s"cast(date_add(date'1995-01-02', cast(${mod(11, 2498)} as int)) as timestamp)"))
    write("events", range(10000, "event_id" -> "id",
      "ts" -> s"timestamp_micros(1704067200000000 + id * 259200000 + ${mod(1, 259200000)})",
      "user_id" -> mod(2, 150), "event_type" -> pick(3, "view", "click", "purchase", "signup", "error"),
      "value" -> s"round(${u(4)} * 560, 2)", "props" -> s"concat('{\"k\": ', ${mod(5, 100)}, '}')"))
    // one document in ten near-duplicates the one seven ids before it:
    // same words but the third
    val words = vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val docs = spark.range(0, 500, 1, 4)
      .selectExpr("id", s"if(${mod(9, 10)} = 0 AND id >= 10, id - 7, id) AS base")
      .selectExpr("id", "base",
        s"transform(sequence(1, cast(pmod(xxhash64(base, 1), 80) + 8 as int)), i -> element_at($words, " +
          s"cast(pmod(xxhash64(if(i = 3, id, base), i, 77), ${vocab.size}) as int) + 1)) AS w")
      .selectExpr("id AS doc_id", "array_join(w, ' ') AS text",
        s"${pick(12, "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "de", "de", "fr", "fr", "es", "es", "en")} AS lang",
        s"concat('src', ${mod(13, 20)}) AS source")
      .selectExpr("doc_id", "text", "lang", "source", "cast(length(text) as bigint) AS n_chars")
    write("documents", docs)
    write("embeddings", spark.range(0, 500, 1, 4)
      .selectExpr("id", s"cast(${mod(1, 10)} as int) AS label")
      .selectExpr("id", "label",
        "transform(sequence(0, 63), j -> ((xxhash64(label, j, 5) & 4294967295) / 4294967296.0 - 0.5) + " +
          "0.6 * ((xxhash64(id, j, 6) & 4294967295) / 4294967296.0 - 0.5)) AS raw")
      .selectExpr("id AS vec_id",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0D, (a, y) -> a + y * y)) as float)) AS embedding",
        "label"))
  }
}

/** batch_pack: rows of graft.Bench.headline through the noop sink over
  * the generated tables, each with an order-insensitive checksum. */
object BatchPack {
  /** The headline rows run here: one or two per operator family, plus the
    * three dialect rows. The rest of the headline is too slow for a
    * bounded run on a small box. */
  val pack: Seq[String] = Seq(
    "q_agg_pricing", "q_join_revenue_by_nation", "q_window_session", "q_topk", "q_scalar_math",
    "q_text_stats", "q_dedup_exact", "q_ann_lsh_bucketed",
    "q_sql_agg_having", "q_sql_interval_join", "q_sql_join_cross")

  final case class Expect(rows: Long, xor: Long, countOnly: Boolean)

  def readExpected(p: Path): Map[String, Expect] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty).map { l =>
        val f = l.split("\t")
        f(0) -> Expect(f(1).toLong, java.lang.Long.parseUnsignedLong(f(2), 16), f(3) == "count")
      }.toMap

  /** One query through the noop sink, with a (row count, xor of row
    * hashes) checksum observed in the same pass. Returns (ms, rows, xor). */
  def runOne(ctx: Ctx, q: (SparkSession, String) => DataFrame, name: String, dir: String,
             pass: Int): (Double, Long, Long) = {
    val spark = ctx.spark
    val opId = s"$name-$pass"
    spark.sparkContext.setLocalProperty(ExecListener.OpKey, opId)
    val obs = Observation(s"chk_${name}_${ctx.nextId()}")
    try {
      val t0 = Sys.nowNs
      Trace.span("queries.run", opId) {
        val df = q(spark, dir)
        // the frame's own execution is never run (the write plans a new
        // one), but its tracker holds the eager analysis of the query
        if (Trace.on) ctx.opPlans.add(opId -> Layers.phases(df))
        val cols = df.schema.fields.toSeq.map { f =>
          val c = col(s"`${f.name}`")
          f.dataType match { case _: MapType => to_json(c); case _ => c }
        }
        val observed = df.observe(obs, count(lit(1)).as("n"), bit_xor(xxhash64(cols: _*)).as("x"))
        Trace.span("exec.write", null)(observed.write.format("noop").mode("overwrite").save())
      }
      val ms = (Sys.nowNs - t0) / 1e6
      val m = obs.get
      val x = Option(m("x")).map(_.asInstanceOf[Long]).getOrElse(0L)
      (ms, m("n").asInstanceOf[Long], x)
    } finally {
      spark.catalog.clearCache()
      graft.operators.Cdc.restoreShuffleSizing(spark)
      spark.sparkContext.setLocalProperty(ExecListener.OpKey, null)
    }
  }

  /** Per-query times are the minimum over the last `keep` timed passes,
    * so every run reports the same sample count however many passes fit.
    * The passes interleave the queries, and contention on a shared host
    * only adds time, so the minimum is the steadiest figure (as in
    * graft.Bench). */
  val keep = 3

  /** Untimed passes before the timed ones. */
  val warmPasses = 3

  final case class Pass(ms: Map[String, Seq[Double]], fromNs: Long, toNs: Long) {
    def best: Map[String, Double] = ms.map { case (k, v) => k -> v.takeRight(keep).min }
  }

  /** Passes over the pack in seed-shuffled order until `seconds` elapse
    * (at least `minPasses`); checks every checksum. */
  def passes(ctx: Ctx, names: Seq[String], dir: String, expected: Map[String, Expect],
             seconds: Double, minPasses: Int, label: String): Pass = {
    val qs = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly
    val rnd = new SplittableRandom(ctx.args.seed)
    val ms = mutable.LinkedHashMap.empty[String, Vector[Double]]
    val fromNs = Sys.epochNs
    val end = Sys.nowNs + (seconds * 1e9).toLong
    var pass = 0
    while (pass < minPasses || Sys.nowNs < end) {
      val order = names.toArray
      for (i <- order.indices.reverse) { val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
      order.foreach { n =>
        ctx.outcome.attempt()
        try {
          val (t, rows, x) = runOne(ctx, qs(n), n, dir, pass)
          ms(n) = ms.getOrElse(n, Vector.empty) :+ t
          checkSum(ctx, n, rows, x, expected)
        } catch { case e: Exception => ctx.outcome.fail(s"$label $n failed: $e") }
      }
      pass += 1
    }
    Pass(ms.toMap, fromNs, Sys.epochNs)
  }

  /** The checksum of a query result against its committed value. */
  private def checkSum(ctx: Ctx, n: String, rows: Long, x: Long, expected: Map[String, Expect]): Unit =
    if (ctx.args.writeExpected) ctx.observed(n) = (rows, x)
    else expected.get(n) match {
      case None => ctx.outcome.check(ok = false, s"$n: no committed checksum")
      case Some(e0) =>
        val e = if (ctx.args.corrupt) e0.copy(rows = e0.rows + 1, xor = ~e0.xor) else e0
        val ok = rows == e.rows && (e.countOnly || x == e.xor) && rows > 0
        ctx.outcome.check(ok, f"$n: got $rows rows / $x%016x, expected ${e.rows} / ${e.xor}%016x")
    }

  def run(ctx: Ctx): Unit = {
    // the tables are generated on a checkout's first run only; that is
    // not set-up of the engine, so it is taken out of setup_s
    val g0 = Sys.nowNs
    val dir = BatchData.ensure(ctx.spark, ctx.args.dataDir).toString
    ctx.notSetup(Sys.nowNs - g0)
    ctx.detail.put("data_s", (Sys.nowNs - g0) / 1e9, "s")
    val expected = readExpected(ctx.args.expected)
    val names = if (ctx.args.smoke) pack.take(3) else pack
    ctx.log("data generated")
    // untimed warm-up passes: JIT, first-query caches and lazy fixtures.
    // After one pass the queries still got faster pass by pass, and a slow
    // host, fitting fewer timed passes, then also timed colder ones.
    if (!ctx.args.smoke) passes(ctx, names, dir, expected, 0, warmPasses, "warm-up")
    ctx.log("warm-up passes done")
    ctx.markTimed()
    val base = passes(ctx, names, dir, expected, ctx.untracedSeconds, if (ctx.args.smoke) 1 else keep, "timed")
    ctx.e2e.put("heap_retained_mb", ctx.heapMb(), "MB")
    report(ctx, base)
    if (ctx.args.trace) {
      val tr = ctx.traced(passes(ctx, names, dir, expected, ctx.args.seconds, keep, "traced"))
      val after = passes(ctx, names, dir, expected, ctx.untracedSeconds, keep, "after")
      ctx.overhead(e2eOf(tr), e2eOf(base), e2eOf(after))
      val best = tr.best
      names.foreach(n => ctx.layer.put(s"queries.${n}_ms", best.getOrElse(n, 0.0), "ms"))
      Layers.exec(ctx, tr.fromNs, tr.toNs)
      val ops = Trace.all.filter(s => s.name == "queries.run" && s.startNs >= tr.fromNs && s.endNs <= tr.toNs)
      Layers.catalyst(ctx, ops.map(_.op), ctx.opPlans.asScala.toSeq ++ Layers.byTime(ops, ctx.plans.runs.asScala.toSeq))
      Layers.selfTimes(ctx, tr.fromNs, tr.toNs)
    }
    if (ctx.args.writeExpected) writeExpected(ctx)
  }

  private def e2eOf(p: Pass): Map[String, Double] = {
    val best = p.best.values
    Map("op_ms" -> Stats.geomean(best), "tail_ms" -> Stats.pct(best, 90), "work_s" -> best.sum / 1000)
  }

  private def report(ctx: Ctx, p: Pass): Unit = {
    val e = e2eOf(p)
    e.foreach { case (k, v) => ctx.e2e.put(k, v, if (k == "work_s") "s" else "ms") }
    ctx.detail.put("batch_total_s", e("work_s"), "s")
    ctx.detail.put("batch_geomean_ms", e("op_ms"), "ms")
    ctx.detail.put("batch_passes", p.ms.values.map(_.size).min.toDouble, "count")
    p.best.toSeq.sortBy(_._1).foreach { case (k, v) => ctx.detail.put(s"query.$k", v, "ms") }
  }

  private def writeExpected(ctx: Ctx): Unit = {
    val old = readExpected(ctx.args.expected)
    val lines = pack.flatMap(n => ctx.observed.get(n).map { case (rows, x) =>
      val mode = if (old.get(n).exists(_.countOnly)) "count" else "exact"
      f"$n\t$rows\t$x%016x\t$mode"
    })
    Files.write(ctx.args.expected, (("# query\trows\txor of xxhash64 row hashes\tmode (exact|count)" +: lines)
      .mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
  }
}
