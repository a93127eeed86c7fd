package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Streaming scale probe: replay 1× vs 10× the sf0.1 corpus through the
  * live streaming topologies (the four headline s_stream_* shapes and the
  * three twin state machines: funnel, retention, incremental dedup) at
  * FIXED parallelism and FIXED rows-per-micro-batch (10× data = 10× more
  * equally-sized files, maxFilesPerTrigger = 1), and report
  *   - drain-time ratio (≤ ~10 with fixed parallelism = the bounded-state
  *     claims hold under load; super-linear = state growing with history);
  *   - PEAK state-store rows and bytes per shape (from the progress
  *     stream), the direct measurement of the "state is bounded by keys /
  *     watermark horizon, not by replayed history" arguments in
  *     StreamOps' comments.
  *
  * Replay files are range-partitioned and sorted on event time, so the
  * watermark advances the way a live ingest's would (late data bounded),
  * identically at both scales.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.StreamScaleProbe"`
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus(32))
    // keep every progress update of a drain for the peak state-row scan
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "256")
    import spark.implicits._

    val events = Tables.load(spark, sfDir, "events")
    val docs = Tables.load(spark, sfDir, "documents")

    // 10× with OFFSET ids/users: distinct-key count grows with the data,
    // so keyed state is honestly 10× keys, not 10× same-key combining
    def x10Events(df: DataFrame): DataFrame = (0 until 10).map(i =>
      df.withColumn("event_id", $"event_id" + lit(i * 1000000000L))
        .withColumn("user_id", $"user_id" + lit(i * 10000000L)))
      .reduce(_ unionAll _)
    def x10Docs(df: DataFrame): DataFrame = (0 until 10).map(i =>
      df.withColumn("doc_id", $"doc_id" + lit(i * 10000000L))
        .withColumn("text", concat($"text", lit(s" probe$i"))))
      .reduce(_ unionAll _)

    /** Stage a NORMALIZED frame as `files` time-ordered parquet files and
      * open it as a file stream (one file per micro-batch). */
    def stage(df: DataFrame, files: Int, orderCol: String): (String, () => DataFrame) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_sprobe").toString
      df.repartitionByRange(files, col(orderCol))
        .sortWithinPartitions(orderCol)
        .write.mode("overwrite").parquet(dir)
      val schema = spark.read.parquet(dir).schema
      (dir, () => spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir))
    }

    /** Drain and report (secs, peak state rows, peak state bytes). */
    def drain(plan: DataFrame, mode: String): (Double, Long, Long) = {
      val t0 = System.nanoTime()
      val q = plan.writeStream.outputMode(mode).format("noop").start()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      q.stop()
      val rows = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L)
      val bytes = progress.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .maxOption.getOrElse(0L)
      (secs, rows, bytes)
    }

    def filterShape(s: DataFrame) = (
      s.filter($"event_type" === "purchase" && $"value" > 100.0)
        .select($"event_id", $"user_id", ($"value" * 2).as("v2")), "append")
    def aggShape(s: DataFrame) = (
      s.groupBy($"user_id").agg(count(lit(1)).as("cnt"), sum($"value").as("sv")),
      "update")
    def windowShape(s: DataFrame) = (
      StreamOps.tumble(s, "ts", "1 day")
        .agg(count(lit(1)).as("cnt"), sum($"value").as("sv")), "update")
    def funnelShape(s: DataFrame) = (
      StreamOps.funnel(s, "user_id", "event_type", "ts",
        Seq("view", "purchase"), stepWindow = "24 hours"), "append")
    def retentionShape(s: DataFrame) = (
      StreamOps.retention(s, "user_id", "ts"), "append")
    // incremental dedup twin: live docs banded map-side, stream-static
    // band join against a FIXED existing-corpus store, min_by verdict —
    // the streamed batch grows 10×, the store does not (a crawl's shape)
    val oldBanded = graft.queries.DedupQueries
      .sigWithBands(docs.filter($"doc_id" % 4 =!= 0).select($"doc_id", $"text"))
      .filter(size($"hs") > 0)
      .select($"doc_id".as("old_id"), $"hs".as("old_hs"),
        explode($"bands").as("band"))
      .persist()
    def dedupShape(s: DataFrame) = {
      import graft.functions.PipelineFunctions._
      (graft.queries.DedupQueries
        .sigWithBands(s.select($"doc_id", $"text"))
        .filter(size($"hs") > 0)
        .select($"doc_id".as("new_id"), $"hs".as("new_hs"),
          explode($"bands").as("band"))
        .join(oldBanded, "band")
        .select($"new_id", $"old_id",
          round(jaccard($"new_hs", $"old_hs"), 6).as("jac"))
        .filter($"jac" >= 0.5)
        .groupBy($"new_id")
        .agg(min_by(struct($"old_id", $"jac"), $"old_id").as("m")), "update")
    }

    val (_, ev1) = stage(events, 10, "ts")
    val (_, ev10) = stage(x10Events(events), 100, "ts")
    val (_, dc1) = stage(docs.filter($"doc_id" % 4 === 0)
      .select($"doc_id", $"text"), 5, "doc_id")
    val (_, dc10) = stage(x10Docs(docs).filter($"doc_id" % 4 === 0)
      .select($"doc_id", $"text"), 50, "doc_id")

    def probe(name: String, mk: DataFrame => (DataFrame, String),
              s1: () => DataFrame, s10: () => DataFrame,
              warmup: Boolean = false): String = {
      // warmup drain (untimed): the first execution of a shape pays its
      // JIT/classloading once per JVM — without it the 1× timing carries
      // that constant and the ratio reads high (r9's s_twin_retention
      // 10.68 was the only probe above 10; it is also the last
      // flatMapGroupsWithState shape to run cold)
      if (warmup) { val (pw, mw) = mk(s1()); drain(pw, mw) }
      val (p1, m1) = mk(s1()); val (t1, r1, b1) = drain(p1, m1)
      val (p10, m10) = mk(s10()); val (t10, r10, b10) = drain(p10, m10)
      System.err.println(f"[sprobe] $name t1=$t1%.1f t10=$t10%.1f rows=$r1/$r10")
      f""""$name":{"t1x":$t1%.2f,"t10x":$t10%.2f,"ratio":${t10 / t1}%.2f,""" +
        f""""state_rows_1x":$r1,"state_rows_10x":$r10,""" +
        f""""state_mb_1x":${b1 / 1e6}%.1f,"state_mb_10x":${b10 / 1e6}%.1f}"""
    }

    // LEFT OUTER variant (r10 VERDICT #6): the null side buffers
    // unmatched lefts until the watermark proves no right can arrive —
    // the peak state this row measures is exactly that buffer + the
    // inner join's. joinType is the ONLY delta vs s_stream_join.
    def joinShapeTyped(s: () => DataFrame, joinType: String) = {
      val l = s().filter($"event_id" % 2 === 0)
        .select($"user_id".as("lu"), $"ts".as("lts"), $"event_id".as("lid"))
      val r = s().filter($"event_id" % 2 === 1)
        .select($"user_id".as("ru"), $"ts".as("rts"), $"event_id".as("rid"))
      (StreamOps.intervalJoin(l, r, "lts", "rts", "2 minutes", "2 minutes",
        col("lu") === col("ru"), joinType = joinType, grace = "2 minutes")
        .select($"lid", $"rid"), "append")
    }
    def joinRowFor(name: String, joinType: String) = {
      val (p1, m1) = joinShapeTyped(ev1, joinType)
      val (t1, r1, b1) = drain(p1, m1)
      val (p10, m10) = joinShapeTyped(ev10, joinType)
      val (t10, r10, b10) = drain(p10, m10)
      System.err.println(f"[sprobe] $name t1=$t1%.1f t10=$t10%.1f")
      f""""$name":{"t1x":$t1%.2f,"t10x":$t10%.2f,"ratio":${t10 / t1}%.2f,""" +
        f""""state_rows_1x":$r1,"state_rows_10x":$r10,""" +
        f""""state_mb_1x":${b1 / 1e6}%.1f,"state_mb_10x":${b10 / 1e6}%.1f}"""
    }
    val joinRow = joinRowFor("s_stream_join", "inner")
    val joinLeftRow = joinRowFor("s_stream_join_left", "leftOuter")

    // KEYLESS WITHIN cross join (r14 VERDICT #4): the banded streaming
    // path (StreamOps.bandedKeylessJoin — time-bucket equi key + exact
    // residual, the plan Translate now emits for streaming CROSS JOIN …
    // WITHIN). A keyless time join's OUTPUT is inherently quadratic in
    // event density (10× rows over the same span = ~100× true pairs), so
    // the honest scale claim is not t10/t1 ≈ 10 but t10/t1 ≤ output
    // ratio: time linear in OUTPUT, state watermark-bounded and spread
    // across bucket partitions (not the one-partition empty-key hash).
    // Both sides are thinned 200× so the 10× output (~3-4M pairs) stays
    // drainable; the per-output normalization is what scales.
    def crossShape(s: () => DataFrame) = {
      val l = s().filter($"event_id" % 200 === 0)
        .select($"ts".as("lts"), $"event_id".as("lid"))
        .withWatermark("lts", "2 minutes")
      val r = s().filter($"event_id" % 200 === 1)
        .select($"ts".as("rts"), $"event_id".as("rid"))
        .withWatermark("rts", "2 minutes")
      val range = $"rts" >= $"lts" - expr("INTERVAL 2 minutes") &&
        $"rts" <= $"lts" + expr("INTERVAL 2 minutes")
      (StreamOps.bandedKeylessJoin(l, r, col("lts"), col("rts"),
        120000000L, range).select($"lid", $"rid"), "append")
    }
    def drainOut(plan: DataFrame, mode: String): (Double, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val q = plan.writeStream.outputMode(mode).format("noop").start()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq
      q.stop()
      val rows = progress.map(_.stateOperators.map(_.numRowsTotal).sum)
        .maxOption.getOrElse(0L)
      val bytes = progress.map(_.stateOperators.map(_.memoryUsedBytes).sum)
        .maxOption.getOrElse(0L)
      val out = progress.map(_.sink.numOutputRows).sum
      (secs, rows, bytes, out)
    }
    val crossRow = {
      val (p1, m1) = crossShape(ev1)
      val (t1, r1, b1, o1) = drainOut(p1, m1)
      val (p10, m10) = crossShape(ev10)
      val (t10, r10, b10, o10) = drainOut(p10, m10)
      System.err.println(f"[sprobe] s_stream_join_cross t1=$t1%.1f t10=$t10%.1f out=$o1/$o10")
      val outRatio = o10.toDouble / math.max(o1, 1L)
      val perOut = (t10 / t1) / math.max(outRatio, 1e-9)
      f""""s_stream_join_cross":{"t1x":$t1%.2f,"t10x":$t10%.2f,"ratio":${t10 / t1}%.2f,""" +
        f""""out_1x":$o1,"out_10x":$o10,"out_ratio":$outRatio%.2f,"ratio_per_output":$perOut%.3f,""" +
        f""""state_rows_1x":$r1,"state_rows_10x":$r10,""" +
        f""""state_mb_1x":${b1 / 1e6}%.1f,"state_mb_10x":${b10 / 1e6}%.1f}"""
    }

    val heapRows = Seq(
      probe("s_stream_filter", filterShape, ev1, ev10),
      probe("s_stream_agg", aggShape, ev1, ev10),
      probe("s_stream_window", windowShape, ev1, ev10),
      joinRow,
      joinLeftRow,
      crossRow,
      probe("s_twin_funnel", funnelShape, ev1, ev10),
      probe("s_twin_retention", retentionShape, ev1, ev10, warmup = true),
      probe("s_twin_incdedup", dedupShape, dc1, dc10))

    // RocksDB state-store tier (r11 VERDICT #4): at 100 TB the HDFS-backed
    // heap store is not the production choice — state must live off-heap.
    // The provider class is read per-QUERY from the session conf, so the
    // same session re-runs the three keyed-state headline shapes under
    // RocksDB at 1×/10×; ratios and peak rows/MB land next to the heap
    // rows (memoryUsedBytes here reports RocksDB's own usage estimate).
    // Runs AFTER the heap tier so both tiers see warm JIT for the shared
    // shapes (the heap tier already self-warms via its earlier probes).
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val rocksRows = Seq(
      probe("s_stream_agg_rocksdb", aggShape, ev1, ev10),
      joinRowFor("s_stream_join_rocksdb", "inner"),
      joinRowFor("s_stream_join_left_rocksdb", "leftOuter"))
    spark.conf.unset(providerKey)

    val rows = heapRows ++ rocksRows

    println(s"""{"metric":"streamscaleprobe","probes":${rows.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    spark.stop()
  }
}
