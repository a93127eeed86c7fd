package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** End-to-end streaming semantics, mirroring the reference's server tests
  * (hstream/test/HStream/RunSQLSpec.hs:50-128): insert → continuous query →
  * assert final values (the reference asserts last value / subsequence, not
  * the exact emission stream — RunSQLSpec.hs:85-92).
  */
class EngineSpec extends SparkSpec {

  private def newEngine = new Engine(spark)

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("_ts", TimestampType)))

  private def rec(k: String, v: Long, ts: String) =
    s"""{"k":"$k","v":$v,"_ts":"$ts"}"""

  test("filter+project push query (EMIT CHANGES, RunSQLSpec.hs:50-64)") {
    val e = newEngine
    e.createStream("s1", schema)
    val plan = e.df("s1").filter(col("v") > 1)
      .select(col("k"), (col("v") * 2).as("x"))
    e.emitChanges("out1", plan)
    e.insert("s1", rec("a", 1, "2024-01-01 00:00:00"),
      rec("b", 2, "2024-01-01 00:00:01"), rec("c", 3, "2024-01-01 00:00:02"))
    e.processAll()
    val got = spark.table("out1").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 4L), ("c", 6L)))
    e.terminate("out1")
  }

  test("unwindowed groupBy agg re-emits updated values (GroupedStream.hs:102)") {
    val e = newEngine
    e.createStream("s2", schema)
    val plan = e.df("s2").groupBy(col("k"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("s"))
    e.emitChanges("out2", plan)
    e.insert("s2", rec("a", 1, "2024-01-01 00:00:00"), rec("a", 2, "2024-01-01 00:00:01"))
    e.processAll()
    e.insert("s2", rec("a", 4, "2024-01-01 00:00:02"), rec("b", 7, "2024-01-01 00:00:03"))
    e.processAll()
    // update mode: last emission per key carries the final aggregate
    val last = spark.table("out2").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    assert(last("a") == (3L, 7L) && last("b") == (1L, 7L))
    e.terminate("out2")
  }

  test("tumbling window agg with watermark (TimeWindows.hs:34-40)") {
    val e = newEngine
    e.createStream("s3", schema)
    val plan = StreamOps.tumble(e.df("s3"), "_ts", "1 minute")
      .agg(sum(col("v")).as("s"))
      .select(col("window.start").as("ws"), col("s"))
    e.emitChanges("out3", plan)
    e.insert("s3", rec("a", 1, "2024-01-01 00:00:10"),
      rec("a", 2, "2024-01-01 00:00:50"), rec("a", 10, "2024-01-01 00:01:10"))
    e.processAll()
    val byWindow = spark.table("out3").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).groupBy(_._1)
      .map { case (w, vs) => w -> vs.last._2 }
    assert(byWindow("2024-01-01 00:00:00.0") == 3L)
    assert(byWindow("2024-01-01 00:01:00.0") == 10L)
    e.terminate("out3")
  }

  test("session window merges overlapping sessions (SessionWindowedStream.hs:93-138)") {
    val e = newEngine
    e.createStream("s4", schema)
    // session windows emit on close (append mode): 1 s grace so the flush
    // record advances the watermark past both sessions
    val plan = StreamOps.session(e.df("s4"), "_ts", "30 seconds", Seq(col("k")),
        grace = "1 second")
      .agg(count(lit(1)).as("cnt"))
      .select(col("k"), col("session_window.start").as("ss"), col("cnt"))
    e.createStreamAs("out4", plan)
    // two bursts 10s apart merge; a third 100s later is a new session
    e.insert("s4", rec("a", 1, "2024-01-01 00:00:00"),
      rec("a", 1, "2024-01-01 00:00:10"), rec("a", 1, "2024-01-01 00:02:00"))
    e.processAll()
    e.insert("s4", rec("flush", 0, "2024-01-01 01:00:00"))
    e.processAll()
    val sessions = spark.table("out4").collect().filter(_.getString(0) == "a")
      .map(r => r.getTimestamp(1).toString -> r.getLong(2)).toMap
    assert(sessions("2024-01-01 00:00:00.0") == 2L)
    assert(sessions("2024-01-01 00:02:00.0") == 1L)
    e.terminate("out4")
  }

  test("stream-stream interval join WITHIN (Stream.hs:273-312)") {
    val e = newEngine
    e.createStream("l", schema)
    e.createStream("r", StructType(Seq(
      StructField("k2", StringType), StructField("w", LongType),
      StructField("_ts2", TimestampType))))
    // drop the producer-assigned _ts on the right side (its event time is
    // the declared _ts2) to keep column references unambiguous
    val plan = StreamOps.intervalJoin(
      e.df("l"), e.df("r").drop("_ts"), "_ts", "_ts2", "1 minute", "1 minute",
      col("k") === col("k2"))
      .select(col("k"), col("v"), col("w"))
    e.createStreamAs("outj", plan) // stream-stream joins emit in append mode
    e.insert("l", rec("a", 1, "2024-01-01 00:00:00"), rec("b", 2, "2024-01-01 00:00:00"))
    e.insert("r",
      """{"k2":"a","w":10,"_ts2":"2024-01-01 00:00:30"}""",  // within 1m → match
      """{"k2":"b","w":20,"_ts2":"2024-01-01 00:05:00"}""")  // 5m away → no match
    e.processAll()
    val got = spark.table("outj").collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(got == Set(("a", 10L)))
    e.terminate("outj")
  }

  test("LEFT outer interval join emits unmatched rows with nulls (V2 semantics, DiffFlow/Types.hs:323-328)") {
    val e = newEngine
    e.createStream("lo", schema)
    e.createStream("ro", StructType(Seq(
      StructField("k2", StringType), StructField("w", LongType),
      StructField("_ts2", TimestampType))))
    val plan = StreamOps.intervalJoin(
      e.df("lo"), e.df("ro").drop("_ts"), "_ts", "_ts2", "1 minute", "1 minute",
      col("k") === col("k2"), joinType = "left", grace = "1 second")
      .select(col("k"), col("v"), col("w"))
    e.createStreamAs("outlo", plan)
    e.insert("lo", rec("a", 1, "2024-01-01 00:00:00"),
      rec("b", 2, "2024-01-01 00:00:00"))
    e.insert("ro", """{"k2":"a","w":10,"_ts2":"2024-01-01 00:00:30"}""")
    e.processAll()
    // advance both watermarks far past the join window so the unmatched
    // left row ("b") must emit with null right side
    e.insert("lo", rec("flush", 0, "2024-01-01 02:00:00"))
    e.insert("ro", """{"k2":"flush","w":0,"_ts2":"2024-01-01 02:00:00"}""")
    e.processAll()
    val got = spark.table("outlo").collect()
      .filter(r => r.getString(0) == "a" || r.getString(0) == "b")
      .map(r => (r.getString(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set(("a", 10L), ("b", -1L)), s"got $got")
    e.terminate("outlo")
  }

  test("zero-width intervalJoin through the Scala API equals the equality join") {
    // the dialect's Validate refuses WITHIN 0; the Scala API does not, and
    // the band width divides by it (DIVIDE_BY_ZERO under ANSI unclamped)
    import spark.implicits._
    val t = (s: String) => java.sql.Timestamp.valueOf(s)
    val l = Seq(("a", 1L, t("2024-01-01 00:00:00")),
      ("b", 2L, t("2024-01-01 00:00:01")),
      ("c", 3L, t("2024-01-01 00:00:02.000001"))).toDF("k", "v", "lts")
    val r = Seq(("a", 10L, t("2024-01-01 00:00:00")),
      ("b", 20L, t("2024-01-01 00:00:01.000001")),
      ("c", 30L, t("2024-01-01 00:00:02.000001")),
      ("c", 31L, t("2024-01-01 00:00:02"))).toDF("k2", "w", "rts")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "w").as[(String, Long, Long)].collect().toSet
    val got = rows(StreamOps.intervalJoin(l, r, "lts", "rts",
      "0 seconds", "0 seconds", col("k") === col("k2")))
    val want = rows(l.join(r, col("k") === col("k2") && col("lts") === col("rts")))
    assert(want == Set(("a", 1L, 10L), ("c", 3L, 30L)))
    assert(got == want)
  }

  test("materialized view + pull query (Core/View.hs:166-254)") {
    val e = newEngine
    e.createStream("s5", schema)
    val plan = e.df("s5").groupBy(col("k")).agg(sum(col("v")).as("total"))
    e.createView("v5", plan)
    e.insert("s5", rec("a", 1, "2024-01-01 00:00:00"),
      rec("a", 2, "2024-01-01 00:00:01"), rec("b", 5, "2024-01-01 00:00:02"))
    e.processAll()
    // pull with immediate WHERE (predicate applied before serving)
    assert(e.pull("v5", "total > 2").collect().map(_.getString(0)).toSet == Set("a", "b"))
    assert(e.pull("v5", "k = 'a'").head().getLong(1) == 3L)
    // bounded pull: driver memory O(limit) regardless of view size
    assert(e.pullBounded("v5", limit = 1).size == 1)
    // view keeps updating
    e.insert("s5", rec("b", 10, "2024-01-01 00:00:03"))
    e.processAll()
    assert(e.pull("v5", "k = 'b'").head().getLong(1) == 15L)
    e.terminate("v5")
  }

  test("stream-table lookup join (joinTable, Stream.hs:314-356)") {
    val e = newEngine
    e.createStream("s8", schema)
    // static dim table: the "table" side of the reference's stream⋈table —
    // each stream row joins the current value for its key
    val dim = spark.createDataFrame(Seq(("a", "alpha"), ("b", "beta")))
      .toDF("k", "label")
    val plan = e.df("s8").join(dim, Seq("k"), "left")
      .select(col("k"), col("v"), col("label"))
    e.createStreamAs("out8", plan)
    e.insert("s8", rec("a", 1, "2024-01-01 00:00:00"),
      rec("c", 2, "2024-01-01 00:00:01"))
    e.processAll()
    val got = spark.table("out8").collect()
      .map(r => (r.getString(0), Option(r.getString(2)))).toSet
    assert(got == Set(("a", Some("alpha")), ("c", None)))
    e.terminate("out8")
  }

  test("streaming dedup within watermark") {
    val e = newEngine
    e.createStream("s6", schema)
    val plan = StreamOps.dedupWithinWatermark(e.df("s6"), "_ts", Seq("k"))
    e.emitChanges("out6", plan)
    e.insert("s6", rec("a", 1, "2024-01-01 00:00:00"),
      rec("a", 2, "2024-01-01 00:00:01"), rec("b", 3, "2024-01-01 00:00:02"))
    e.processAll()
    val got = spark.table("out6").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 1L), ("b", 3L)))
    e.terminate("out6")
  }

  test("streaming TOPK aggregate in update mode (AggOp.hs TOPK, streaming-native)") {
    val e = newEngine
    e.createStream("s9", schema)
    val plan = e.df("s9").groupBy(col("k"))
      .agg(graft.operators.TopK.topk(col("v").cast("double"), 2).as("top2"))
      .select(col("k"), concat_ws(",", col("top2")).as("tops"))
    e.emitChanges("out9", plan)
    e.insert("s9", rec("a", 5, "2024-01-01 00:00:00"),
      rec("a", 9, "2024-01-01 00:00:01"), rec("a", 7, "2024-01-01 00:00:02"))
    e.processAll()
    val last = spark.table("out9").collect().map(r => r.getString(1)).last
    assert(last == "9.0,7.0")
    e.terminate("out9")
  }

  test("late data beyond watermark is dropped (TimeWindowedStream.hs:99-113)") {
    val e = newEngine
    e.createStream("s10", schema)
    val plan = StreamOps.tumble(e.df("s10"), "_ts", "1 minute", grace = "1 second")
      .agg(sum(col("v")).as("s"))
      .select(col("window.start").as("ws"), col("s"))
    e.emitChanges("out10", plan)
    e.insert("s10", rec("a", 1, "2024-01-01 00:00:10"))
    e.processAll()
    // advance stream-time far past the first window + grace
    e.insert("s10", rec("a", 100, "2024-01-01 01:00:00"))
    e.processAll()
    // now a record for the long-expired first window: must be dropped
    e.insert("s10", rec("a", 50, "2024-01-01 00:00:20"))
    e.processAll()
    val firstWindow = spark.table("out10").collect()
      .filter(_.getTimestamp(0).toString == "2024-01-01 00:00:00.0")
      .map(_.getLong(1))
    assert(firstWindow.last == 1L, s"late record leaked in: ${firstWindow.toSeq}")
    e.terminate("out10")
  }

  test("file-backed stream (production transport shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fs").toString
    val e = newEngine
    e.createFileStream("fs1", dir, schema)
    val plan = e.df("fs1").filter(col("v") > 1).select(col("k"), col("v"))
    e.emitChanges("outfs", plan)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.json"),
      """{"k":"a","v":1,"_ts":"2024-01-01 00:00:00"}
        |{"k":"b","v":5,"_ts":"2024-01-01 00:00:01"}""".stripMargin)
    e.processAll()
    val got = spark.table("outfs").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 5L)))
    assert(e.showStreams.contains("fs1"))
    e.terminate("outfs")
    e.dropStream("fs1")
  }

  test("INSERT is transport-uniform: file streams get a new file; FileSink-owned and socket streams refuse loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fins").toString
    val e = newEngine
    e.createFileStream("fins", dir, schema)
    // INSERT into a file stream = one new file = one micro-batch
    e.insert("fins",
      """{"k":"a","v":1,"_ts":"2024-01-01 00:00:00"}""",
      """{"k":"b","v":5,"_ts":"2024-01-01 00:00:01"}""")
    e.emitChanges("finsq", e.df("fins").select(col("k"), col("v")))
    e.processAll()
    assert(spark.table("finsq").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("a", 1L), ("b", 5L)))
    e.terminate("finsq")
    // once a FileSink owns the directory, external INSERT must refuse
    // (dropped files would be invisible to the sink's metadata log)
    e.createStream("finsrc", schema)
    e.createStreamAs("fins", e.df("finsrc").select(col("k"), col("v"), col("_ts")))
    assertThrows[IllegalArgumentException](e.insert("fins", """{"k":"x"}"""))
    e.terminate("fins")
    // socket streams: the engine is the consumer side — no append path
    e.createSocketStream("sins", "localhost", 1, schema)
    assertThrows[UnsupportedOperationException](e.insert("sins", """{"k":"x"}"""))
    e.dropStream("sins"); e.dropStream("fins"); e.dropStream("finsrc")
  }

  test("stream as table: latest value per key (table source, Stream.hs:89-135)") {
    val e = newEngine
    e.createStream("t1", schema)
    e.createView("vt_latest", StreamOps.latestPerKey(e.df("t1"), Seq("k"), "_ts"))
    e.insert("t1", rec("a", 1, "2024-01-01 00:00:00"),
      rec("a", 5, "2024-01-01 00:00:10"), // newer a wins
      rec("b", 7, "2024-01-01 00:00:05"))
    e.processAll()
    val got = e.pull("vt_latest").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 5L, "b" -> 7L))
    // later record updates the served value
    e.insert("t1", rec("b", 9, "2024-01-01 00:01:00"))
    e.processAll()
    assert(e.pull("vt_latest", "k = 'b'").head().getLong(1) == 9L)
    e.terminate("vt_latest")
  }

  test("union of two streams (Union plan node, Planner.hs:54 — V1 throws, we support)") {
    val e = newEngine
    e.createStream("u1", schema)
    e.createStream("u2", schema)
    e.createStreamAs("outu", e.df("u1").unionAll(e.df("u2")).select(col("k"), col("v")))
    e.insert("u1", rec("a", 1, "2024-01-01 00:00:00"))
    e.insert("u2", rec("b", 2, "2024-01-01 00:00:01"))
    e.processAll()
    val got = spark.table("outu").collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 1L), ("b", 2L)))
    e.terminate("outu")
  }

  test("CSAS with wire encoding emits extended JSON (Rts/Old.hs:134-157)") {
    val e = newEngine
    e.createStream("s12", schema)
    e.createStreamAsWire("out12", e.df("s12").select(col("k"), col("v")))
    e.insert("s12", rec("a", 7, "2024-01-01 00:00:00"))
    e.processAll()
    val json = spark.table("out12").head().getString(0)
    assert(json == """{"k":"a","v":{"$numberLong":"7"}}""", json)
    e.terminate("out12")
  }

  test("DURATION retention: served reads exclude expired backlog (AST.hs:708-712)") {
    val e = newEngine
    e.createStream("s11", schema, Map("DURATION" -> "7 DAY", "REPLICATE" -> "3"))
    assert(e.streamOptions("s11") == Map("DURATION" -> "7 DAY", "REPLICATE" -> "3"))
    val plan = e.df("s11").select(col("k"))
    e.emitChanges("out11", plan)
    e.insert("s11", rec("old", 1, "2000-01-01 00:00:00"), // far beyond 7 days
      rec("fresh", 2, java.time.LocalDateTime.now().toString.replace('T', ' ')))
    e.processAll()
    val got = spark.table("out11").collect().map(_.getString(0)).toSet
    assert(got == Set("fresh"), s"retention leak: $got")
    e.terminate("out11")
  }

  test("INSERT-SELECT into a file-backed stream writes distributed (no driver collect)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ist").toString
    val e = newEngine
    e.createStream("src13", schema)
    e.createFileStream("tgt13", dir, StructType(Seq(
      StructField("k", StringType), StructField("x", LongType))))
    val q = e.insertSelect("tgt13",
      e.df("src13").filter(col("v") > 1).select(col("k"), (col("v") * 2).as("x")))
    // downstream continuous query over the target observes inserted rows
    e.emitChanges("out13", e.df("tgt13").select(col("k"), col("x")))
    e.insert("src13", rec("a", 1, "2024-01-01 00:00:00"),
      rec("b", 2, "2024-01-01 00:00:01"), rec("c", 5, "2024-01-01 00:00:02"))
    e.processAll()
    // the sink must be Spark's distributed FileSink, not a foreachBatch
    // driver hop — this is the 100 TB path
    assert(q.lastProgress.sink.description.contains("FileSink"),
      s"sink was: ${q.lastProgress.sink.description}")
    val got = spark.table("out13").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 4L), ("c", 10L)))
    e.terminate("out13"); e.terminate("insert_tgt13")
    e.dropStream("src13"); e.dropStream("tgt13")
  }

  test("views materialize to parquet snapshots; pull pushes the predicate into the scan") {
    val e = newEngine
    e.createStream("s14", schema)
    e.createView("v14", e.df("s14").groupBy(col("k")).agg(sum(col("v")).as("total")))
    // pull before any data: empty but correctly typed
    assert(e.pull("v14").collect().isEmpty)
    e.insert("s14", rec("a", 1, "2024-01-01 00:00:00"),
      rec("a", 2, "2024-01-01 00:00:01"), rec("b", 5, "2024-01-01 00:00:02"))
    e.processAll()
    val pulled = e.pull("v14", "total > 2")
    // served from a parquet snapshot, and the WHERE reaches the file scan
    val plan = pulled.queryExecution.executedPlan.toString
    assert(plan.contains("Parquet"), s"not a parquet scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(total), GreaterThan(total,2)"),
      s"predicate not pushed:\n$plan")
    assert(pulled.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 3L, "b" -> 5L))
    // snapshot advances with new data
    e.insert("s14", rec("b", 10, "2024-01-01 00:00:03"))
    e.processAll()
    assert(e.pull("v14", "k = 'b'").head().getLong(1) == 15L)
    e.terminate("v14")
  }

  test("wire-decode source path e2e: encode-sink → decode-source → query (Rts/Old.hs:159-198)") {
    val e = newEngine
    e.createStream("s15", schema)
    // CSAS with wire encoding: the sink table holds extended-JSON payloads
    e.createStreamAsWire("out15", e.df("s15").select(col("k"), col("v"), col("_ts")))
    e.insert("s15", rec("a", 7, "2024-01-01 00:00:00"),
      rec("b", -3, "2024-01-01 00:00:05"))
    e.processAll()
    val encoded = spark.table("out15").collect().map(_.getString(0))
    assert(encoded.exists(_.contains(""""v":{"$numberLong":"7"}""")), encoded.mkString("\n"))
    // a wire-format stream decodes those payloads back to typed columns
    e.createStream("s16", schema, Map("FORMAT" -> "wire"))
    e.emitChanges("out16", e.df("s16").filter(col("v") > 0)
      .select(col("k"), (col("v") + 1).as("v1"), col("_ts")))
    e.insert("s16", encoded.toIndexedSeq: _*)
    e.processAll()
    val got = spark.table("out16").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2).toString))
    assert(got.toSet == Set(("a", 8L, "2024-01-01 00:00:00.0")), got.mkString(","))
    e.terminate("out15"); e.terminate("out16")
    e.dropStream("s15"); e.dropStream("s16")
  }

  test("wire-decode file source: a directory of extended-JSON payloads is a typed stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wirefs").toString
    val e = newEngine
    e.createFileStream("fw1", dir, schema, wire = true)
    e.emitChanges("outfw", e.df("fw1").select(col("k"), col("v")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "w.txt"),
      """{"k":"x","v":{"$numberLong":"42"},"_ts":{"$timestamp":"2024-01-01T00:00:00.000Z"}}""")
    e.processAll()
    val got = spark.table("outfw").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSet == Set(("x", 42L)))
    e.terminate("outfw"); e.dropStream("fw1")
  }

  test("CSAS into a file-backed stream writes distributed (FileSink, not memory)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csas").toString
    val e = newEngine
    e.createStream("src18", schema)
    e.createFileStream("tgt18", dir, StructType(Seq(
      StructField("k", StringType), StructField("x", LongType))))
    val q = e.createStreamAs("tgt18",
      e.df("src18").filter(col("v") > 1).select(col("k"), (col("v") * 3).as("x")))
    e.emitChanges("out18", e.df("tgt18").select(col("k"), col("x")))
    e.insert("src18", rec("a", 1, "2024-01-01 00:00:00"),
      rec("b", 4, "2024-01-01 00:00:01"))
    e.processAll()
    assert(q.lastProgress.sink.description.contains("FileSink"),
      s"sink was: ${q.lastProgress.sink.description}")
    val got = spark.table("out18").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 12L)))
    e.terminate("out18"); e.terminate("tgt18")
    e.dropStream("src18"); e.dropStream("tgt18")
  }

  test("one FileSink writer per file-backed stream; terminate frees the slot") {
    val dir = java.nio.file.Files.createTempDirectory("graft_1w").toString
    val e = newEngine
    e.createStream("src19", schema)
    e.createFileStream("tgt19", dir, StructType(Seq(StructField("k", StringType))))
    e.insertSelect("tgt19", e.df("src19").select(col("k")))
    // a second sink on the same dir would share _spark_metadata and lose
    // batches silently — must be refused loudly
    val ex = intercept[IllegalArgumentException](
      e.createStreamAs("tgt19", e.df("src19").select(col("k"))))
    assert(ex.getMessage.contains("already has file-sink writer"), ex.getMessage)
    e.terminate("insert_tgt19")
    e.createStreamAs("tgt19", e.df("src19").select(col("k"))) // slot freed
    e.terminate("tgt19")
    e.dropStream("src19"); e.dropStream("tgt19")
  }

  test("memory stream cannot shadow a file stream name (collision both ways)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_col").toString
    val e = newEngine
    e.createFileStream("dup20", dir, schema)
    // before this check, insert() would feed an invisible memory twin
    intercept[IllegalArgumentException](e.createStream("dup20", schema))
    e.dropStream("dup20")
  }

  test("a stream name is unique across all four transports") {
    val dir = java.nio.file.Files.createTempDirectory("graft_col2").toString
    val e = newEngine
    // registering a ledger or socket stream opens no connection
    e.createLedgerStream("dup21", "localhost", 1, schema)
    e.createSocketStream("dup22", "localhost", 1, schema)
    for (n <- Seq("dup21", "dup22")) {
      // a second registration would let INSERT feed a MemoryStream (or a
      // file dir) while SELECT reads the network source
      intercept[IllegalArgumentException](e.createStream(n, schema))
      intercept[IllegalArgumentException](e.createFileStream(n, dir, schema))
    }
    assert(e.showStreams == Seq("dup21", "dup22"))
    e.dropStream("dup21"); e.dropStream("dup22")
  }

  test("insertSelect into a wire memory stream re-encodes through the wire format") {
    val e = newEngine
    e.createStream("src21", schema)
    e.createStream("tgt21", schema, Map("FORMAT" -> "wire"))
    e.emitChanges("out21", e.df("tgt21").select(col("k"), col("v")))
    e.insertSelect("tgt21", e.df("src21").select(col("k"), col("v"), col("_ts")))
    e.insert("src21", rec("a", 7, "2024-01-01 00:00:00"))
    e.processAll()
    // plain toJSON would feed bare 7 to the wire decoder -> null; the
    // re-encode path must deliver the typed value
    val got = spark.table("out21").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSet == Set(("a", 7L)), got.mkString(","))
    e.terminate("out21"); e.terminate("insert_tgt21")
    e.dropStream("src21"); e.dropStream("tgt21")
  }

  test("per-row EMIT CHANGES opt-in: one emission per input row (GroupedStream.hs:102)") {
    val e = newEngine
    e.createStream("s17", schema)
    e.emitChanges("out17", StreamOps.perRowAggs(
      e.df("s17").select(col("k").cast("string").as("k"), col("v").cast("double").as("v")),
      Seq("k"),
      Seq(StreamOps.RowAgg("cnt", "count", "*"), StreamOps.RowAgg("sum", "sum", "v"),
        StreamOps.RowAgg("min", "min", "v"), StreamOps.RowAgg("max", "max", "v"),
        StreamOps.RowAgg("avg", "avg", "v"))))
    // three same-key rows in ONE micro-batch: update-mode groupBy would
    // coalesce them into one emission; the per-row path must emit three
    e.insert("s17", rec("a", 1, "2024-01-01 00:00:00"),
      rec("a", 2, "2024-01-01 00:00:01"), rec("a", 4, "2024-01-01 00:00:02"))
    e.processAll()
    val rows = spark.table("out17").collect()
      .filter(_.getString(0) == "a")
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L), s"counts: ${rows.toSeq}")
    // full accumulator after 1,2,4: cnt=3 sum=7 min=1 max=4 avg=7/3
    assert(rows.last == (3L, 7.0, 1.0, 4.0, 7.0 / 3), s"final acc: ${rows.last}")
    // state persists across batches: a fourth row continues the accumulator
    e.insert("s17", rec("a", 3, "2024-01-01 00:00:03"))
    e.processAll()
    val all = spark.table("out17").collect()
      .filter(_.getString(0) == "a")
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(all.last == (4L, 10.0, 1.0, 4.0), s"after batch 2: ${all.toSeq}")
    e.terminate("out17"); e.dropStream("s17")
  }

  /** The per-row forms over one SELECT list keyed by `k`, each reading its
    * own stream (a memory stream serves one reader): unwindowed into
    * `out<n>`, TUMBLE into `out<n>w` and SESSION into `out<n>s`, with a
    * one-hour window and gap that hold every row of a test. Returns the
    * (stream, sink) pairs; a sink's key and aggregate columns come first. */
  private def perRowForms(e: Engine, n: Int, sch: StructType,
                          aggs: Seq[StreamOps.RowAgg]): Seq[(String, String)] =
    Seq[(String, DataFrame => DataFrame)](
      "" -> (StreamOps.perRowAggs(_, Seq("k"), aggs)),
      "w" -> (StreamOps.perRowAggsWindowed(_, Seq("k"), aggs, "_ts", "1 hour")),
      "s" -> (StreamOps.perRowAggsSession(_, Seq("k"), aggs, "_ts", "1 hour"))
    ).map { case (form, plan) =>
      e.createStream(s"s$n$form", sch)
      e.emitChanges(s"out$n$form", plan(e.df(s"s$n$form")))
      (s"s$n$form", s"out$n$form")
    }

  test("per-row EMIT CHANGES over a full multi-agg SELECT list (two values + string agg)") {
    val e = newEngine
    val sch = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("w", DoubleType), StructField("s", StringType),
      StructField("_ts", TimestampType)))
    def r18(k: String, v: Long, w: Double, s: String, ts: String) =
      s"""{"k":"$k","v":$v,"w":$w,"s":"$s","_ts":"$ts"}"""
    // SELECT COUNT(*), SUM(v), AVG(w), MAX(s), MIN(v) — two numeric value
    // columns and a STRING aggregate, one Row-encoded accumulator per key;
    // the same inputs run through the unwindowed, TUMBLE and SESSION forms
    val forms = perRowForms(e, 18, sch, Seq(
      StreamOps.RowAgg("cnt", "count", "*"),
      StreamOps.RowAgg("sv", "sum", "v"),
      StreamOps.RowAgg("aw", "avg", "w"),
      StreamOps.RowAgg("mxs", "max", "s"),
      StreamOps.RowAgg("mnv", "min", "v")))
    def emitted(out: String) = spark.table(out).collect().filter(_.getString(0) == "a")
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4), r.getLong(5)))
    // three same-key rows in one micro-batch → three emissions
    forms.foreach { case (s, _) =>
      e.insert(s, r18("a", 1, 2.0, "pear", "2024-01-01 00:00:00"),
        r18("a", 5, 4.0, "apple", "2024-01-01 00:00:01"),
        r18("a", 3, 6.0, "plum", "2024-01-01 00:00:02"))
    }
    e.processAll()
    forms.foreach { case (_, out) =>
      val rows = emitted(out)
      assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L), s"$out cadence: ${rows.toSeq}")
      assert(rows.last == (3L, 9L, 4.0, "plum", 1L), s"$out final acc: ${rows.last}")
    }
    // state persists across batches, string extremum updates correctly
    forms.foreach { case (s, _) =>
      e.insert(s, r18("a", 7, 8.0, "zebra", "2024-01-01 00:00:03"))
    }
    e.processAll()
    forms.foreach { case (_, out) =>
      val all = emitted(out)
      assert(all.last == (4L, 16L, 5.0, "zebra", 1L), s"$out after batch 2: ${all.toSeq}")
    }
    // strings order by their UTF-8 bytes, as Spark's max does: U+1F600
    // above U+FFFD (their UTF-16 code units order the other way)
    val (replacement, emoji) = ("\uFFFD", "\uD83D\uDE00")
    assert(spark.createDataset(Seq(replacement, emoji))(Encoders.STRING)
      .agg(max("value")).head().getString(0) == emoji)
    forms.foreach { case (s, _) =>
      e.insert(s, r18("a", 0, 5.0, emoji, "2024-01-01 00:00:04"),
        r18("a", 0, 5.0, replacement, "2024-01-01 00:00:05"))
    }
    e.processAll()
    forms.foreach { case (s, out) =>
      val all = emitted(out)
      assert(all.last == (6L, 16L, 5.0, emoji, 0L), s"$out after batch 3: ${all.toSeq}")
      e.terminate(out); e.dropStream(s)
    }
  }

  test("per-row integral SUM/MIN stay exact past 2^53 (long accumulator, not double)") {
    val e = newEngine
    val sch = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("_ts", TimestampType)))
    val big = (1L << 53) + 1L // indistinguishable from 2^53 in a Double
    val forms = perRowForms(e, 19, sch, Seq(
      StreamOps.RowAgg("sv", "sum", "v"), StreamOps.RowAgg("mn", "min", "v")))
    forms.foreach { case (s, _) =>
      e.insert(s,
        s"""{"k":"a","v":$big,"_ts":"2024-01-01 00:00:00"}""",
        s"""{"k":"a","v":3,"_ts":"2024-01-01 00:00:01"}""",
        s"""{"k":"a","v":${big - 1L},"_ts":"2024-01-01 00:00:02"}""")
    }
    e.processAll()
    forms.foreach { case (s, out) =>
      val last = spark.table(out).collect().filter(_.getString(0) == "a").last
      // double accumulation would report sum = 2^54+3 ± drop the low bit and
      // min(big, big-1) could tie via doubleValue — both must be exact
      assert(last.getLong(1) == big + 3L + (big - 1L), s"$out sum drifted: $last")
      assert(last.getLong(2) == 3L, s"$out min: $last")
      e.terminate(out); e.dropStream(s)
    }
  }

  test("per-row MIN/MAX order doubles as Spark does (NaN largest): final states twin a batch groupBy") {
    val e = newEngine
    val sch = StructType(Seq(
      StructField("k", StringType), StructField("v", DoubleType),
      StructField("t", StringType), StructField("_ts", TimestampType)))
    // each key sees NaN on one side of 1.0: a `<` over doubles keeps the
    // first value it sees for one of MIN/MAX, whatever the row order; and
    // U+FFFD on one side of U+1F600, which UTF-8 bytes order below it and
    // UTF-16 code units above it
    val (replacement, emoji) = ("\uFFFD", "\uD83D\uDE00")
    val recs = Seq(("a", "1.0", replacement, "00"), ("a", "NaN", emoji, "01"),
        ("b", "NaN", emoji, "00"), ("b", "1.0", replacement, "01"))
      .map { case (k, v, t, s) =>
        s"""{"k":"$k","v":$v,"t":"$t","_ts":"2024-01-01 00:00:$s"}""" }
    val forms = perRowForms(e, 20, sch, Seq(StreamOps.RowAgg("n", "count", "*"),
      StreamOps.RowAgg("mn", "min", "v"), StreamOps.RowAgg("mx", "max", "v"),
      StreamOps.RowAgg("mnt", "min", "t"), StreamOps.RowAgg("mxt", "max", "t")))
    forms.foreach { case (s, _) => e.insert(s, recs: _*) }
    e.processAll()
    // Double NaN != NaN: compare the rendered values
    val batch = spark.read.schema(sch)
      .json(spark.createDataset(recs)(Encoders.STRING))
      .groupBy("k").agg(min("v"), max("v"), min("t"), max("t")).collect()
      .map(r => (r.getString(0), r.getDouble(1).toString, r.getDouble(2).toString,
        r.getString(3), r.getString(4))).toSet
    assert(batch == Set(("a", "1.0", "NaN", replacement, emoji),
      ("b", "1.0", "NaN", replacement, emoji)), s"batch: $batch")
    forms.foreach { case (s, out) =>
      val finals = spark.table(out).collect().groupBy(_.getString(0)).values
        .map(_.maxBy(_.getLong(1)))
        .map(r => (r.getString(0), r.getDouble(2).toString, r.getDouble(3).toString,
          r.getString(4), r.getString(5))).toSet
      assert(finals == batch, s"$out per-row finals $finals vs batch $batch")
      e.terminate(out); e.dropStream(s)
    }
  }

  test("per-row aggregates the accumulator cannot fold are rejected when the query is planned") {
    val df = spark.range(1).selectExpr("'a' AS k", "'x' AS s", "binary('b') AS b",
      "array(1) AS arr", "map(1, 1) AS m", "named_struct('f', 1) AS st",
      "timestamp'2024-01-01 00:00:00' AS _ts")
    val forms = Seq[(DataFrame, Seq[StreamOps.RowAgg]) => Any](
      StreamOps.perRowAggs(_, Seq("k"), _),
      StreamOps.perRowAggsWindowed(_, Seq("k"), _, "_ts", "1 hour"),
      StreamOps.perRowAggsSession(_, Seq("k"), _, "_ts", "1 hour"))
    for {
      agg <- Seq(StreamOps.RowAgg("x", "median", "s"), StreamOps.RowAgg("x", "sum", "s"),
        StreamOps.RowAgg("x", "avg", "s"), StreamOps.RowAgg("x", "min", "b"),
        StreamOps.RowAgg("x", "max", "arr"), StreamOps.RowAgg("x", "min", "m"),
        StreamOps.RowAgg("x", "max", "st"))
      form <- forms
    } {
      val err = intercept[IllegalArgumentException](
        form(df, Seq(StreamOps.RowAgg("n", "count", "*"), agg)))
      assert(err.getMessage.contains(s"${agg.kind.toUpperCase}(${agg.input})"),
        s"$agg: ${err.getMessage}")
    }
    // a session gap must have a fixed length: a month part has none
    val gapErr = intercept[IllegalArgumentException](StreamOps.perRowAggsSession(
      df, Seq("k"), Seq(StreamOps.RowAgg("n", "count", "*")), "_ts", "1 month"))
    assert(gapErr.getMessage.contains("session gap"), gapErr.getMessage)
  }

  test("per-row state schemas: a<i> accumulator fields, (s, n) structs, session list") {
    val e = newEngine
    val sch = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("w", DoubleType), StructField("s", StringType),
      StructField("_ts", TimestampType)))
    e.createStream("s23", sch)
    val aggs = Seq(StreamOps.RowAgg("cnt", "count", "*"), StreamOps.RowAgg("sv", "sum", "v"),
      StreamOps.RowAgg("aw", "avg", "w"), StreamOps.RowAgg("mxs", "max", "s"),
      StreamOps.RowAgg("mnv", "min", "v"))
    def stateOf(plan: DataFrame) =
      plan.queryExecution.logical.collectFirst {
        case f: FlatMapGroupsWithState => f.stateEncoder.schema
      }.get
    // checkpointed state of a running query: changing it breaks a resume
    def sn(t: DataType) = StructType(Seq(StructField("s", t), StructField("n", LongType)))
    val accs = StructType(Seq(StructField("a0", LongType), StructField("a1", sn(LongType)),
      StructField("a2", sn(DoubleType)), StructField("a3", StringType),
      StructField("a4", LongType)))
    val src = e.df("s23")
    assert(stateOf(StreamOps.perRowAggs(src, Seq("k"), aggs)) == accs)
    assert(stateOf(StreamOps.perRowAggsWindowed(src, Seq("k"), aggs, "_ts", "1 hour")) == accs)
    assert(stateOf(StreamOps.perRowAggsSession(src, Seq("k"), aggs, "_ts", "1 hour")) ==
      StructType(Seq(StructField("sessions", ArrayType(StructType(Seq(
        StructField("start", LongType), StructField("end", LongType),
        StructField("accs", accs))))))))
    e.dropStream("s23")
  }

  test("intervalSeconds runs no Spark job and equals Spark's epoch + INTERVAL") {
    val e = newEngine
    val ds = Seq("1 SECOND", "90 SECONDS", "1 HOUR", "1 DAY", "1 MONTH", "1 YEAR")
    var got = Seq.empty[Long]
    assert(jobsStartedBy { got = ds.map(e.intervalSeconds) } == 0)
    val spark0 = spark.range(1).select(ds.map(d =>
      (lit(new java.sql.Timestamp(0L)) + expr(s"INTERVAL $d")).cast("long")): _*).head()
    assert(got == ds.indices.map(spark0.getLong))
    assert(got == Seq(1L, 90L, 3600L, 86400L, 31L * 86400L, 365L * 86400L))
  }

  test("query lifecycle: terminate, pause/resume, show (AST.hs:806-906)") {
    val e = newEngine
    e.createStream("s7", schema)
    e.emitChanges("out7", e.df("s7").select(col("k")))
    assert(e.showQueries == Seq("out7"))
    assert(e.showStreams == Seq("s7"))
    e.pause("out7")
    e.insert("s7", rec("a", 1, "2024-01-01 00:00:00"))
    e.resume("out7")
    e.processAll()
    assert(spark.table("out7").count() == 1)
    e.terminate("out7")
    assert(e.showQueries.isEmpty)
    e.dropStream("s7")
    assert(e.showStreams.isEmpty)
  }
}
