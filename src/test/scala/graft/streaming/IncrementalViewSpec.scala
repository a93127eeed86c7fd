package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import IncrementalViewSpec.{bucketOf, scannedLeaves}

/** Incremental view maintenance (the reference maintains view state
  * incrementally and serves pulls from it — hstream/src/HStream/Server/
  * Core/View.hs:94-141, state dump Processor.hs:380-411): update-mode
  * upsert into a bucket-partitioned parquet table, O(changed buckets)
  * write amplification per trigger instead of complete-mode O(view).
  */
class IncrementalViewSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("_ts", TimestampType)))

  private def rec(k: String, v: Long, ts: String) =
    s"""{"k":"$k","v":$v,"_ts":"$ts"}"""

  /** Two keys hashing to DIFFERENT buckets (probed with Spark's own hash,
    * which the sink uses), so per-bucket write isolation is observable. */
  private def twoKeysDifferentBuckets(buckets: Int): (String, String, Int, Int) = {
    val cand = ('a' to 'p').map(_.toString)
    val bucketOf = cand.map { k =>
      k -> spark.range(1).select(pmod(hash(lit(k)), lit(buckets))).head().getInt(0)
    }
    val (k1, b1) = bucketOf.head
    val (k2, b2) = bucketOf.find(_._2 != b1).get
    (k1, k2, b1, b2)
  }

  test("upsert rewrites only affected buckets; an unchanged key's files are untouched") {
    val e = new Engine(spark)
    e.incViewDriverRows = 0 // no driver copy: the pulls below scan parquet
    val buckets = 8
    val (k1, k2, b1, b2) = twoKeysDifferentBuckets(buckets)
    e.createStream("ivs", schema)
    e.createViewIncremental("iv",
      e.df("ivs").groupBy(col("k")).agg(sum(col("v")).as("total")),
      keys = Seq("k"), buckets = buckets)

    // pull before any data: empty but correctly typed
    assert(e.pull("iv").collect().isEmpty)

    e.insert("ivs", rec(k1, 1, "2024-01-01 00:00:00"), rec(k1, 2, "2024-01-01 00:00:01"))
    e.processAll()
    assert(e.pull("iv", s"k = '$k1'").head().getLong(1) == 3L)
    val m1 = e.viewManifest("iv")
    assert(m1.keySet == Set(b1), s"only $k1's bucket written: $m1")
    def filesOf(path: String): Map[String, Long] =
      new java.io.File(path.stripPrefix("file:"))
        .listFiles().map(f => f.getName -> f.lastModified()).toMap
    val k1Files = filesOf(m1(b1))

    // second trigger touches ONLY k2 (different bucket): k1's generation
    // dir — path AND files — must be byte-identical afterwards
    e.insert("ivs", rec(k2, 5, "2024-01-01 00:00:02"))
    e.processAll()
    val m2 = e.viewManifest("iv")
    assert(m2(b1) == m1(b1), s"unchanged bucket was rewritten: ${m2(b1)} vs ${m1(b1)}")
    assert(m2.keySet == Set(b1, b2))
    val k1FilesAfter = filesOf(m2(b1))
    assert(k1FilesAfter == k1Files, "unchanged bucket's files were rewritten")

    // both keys serve, and an update to k1 accumulates across triggers
    assert(e.pull("iv").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map(k1 -> 3L, k2 -> 5L))
    e.insert("ivs", rec(k1, 10, "2024-01-01 00:00:03"))
    e.processAll()
    assert(e.pull("iv", s"k = '$k1'").head().getLong(1) == 13L)
    val m3 = e.viewManifest("iv")
    assert(m3(b1) != m2(b1) && m3(b2) == m2(b2))

    // the pull is a parquet scan with the predicate pushed into the reader
    val pulled = e.pull("iv", "total > 4")
    val plan = pulled.queryExecution.executedPlan.toString
    assert(plan.contains("Parquet"), s"not a parquet scan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(total), GreaterThan(total,4)"),
      s"predicate not pushed:\n$plan")
    e.terminate("iv")
    e.dropStream("ivs")
  }

  test("a key-equality pull scans exactly one leaf of a whole-bucket view") {
    val e = new Engine(spark)
    e.incViewDriverRows = 0 // no driver copy: the pulls below scan parquet
    e.createStream("kps", schema)
    val plan = e.df("kps").groupBy(col("k")).agg(sum(col("v")).as("total"))
    e.createViewIncremental("kpw", plan, keys = Seq("k"), buckets = 16)
    val keys = (1 to 40).map(i => s"k$i")
    e.insert("kps", keys.map(k => rec(k, 1, "2024-01-01 00:00:00")): _*)
    e.processAll()
    val b7 = bucketOf(spark, 16, lit("k7"))
    def check(total: Long): Unit = {
      val served = e.viewManifest("kpw").size
      assert(scannedLeaves(e.pull("kpw", "k = 'k7'")) == (Set(b7), 1L),
        s"a key pull should read bucket $b7 only, of $served leaves")
      assert(e.pull("kpw", "k = 'k7'").collect().map(r => r.getString(0) -> r.getLong(1))
        .toSeq == Seq("k7" -> total))
      // a pull that fixes no key reads every leaf
      assert(scannedLeaves(e.pull("kpw", "total > 0"))._2 == served)
    }
    check(1L)
    // a second trigger rewrites the key's bucket; the key pull still reads
    // that one leaf
    e.insert("kps", rec("k7", 5, "2024-01-01 00:00:01"))
    e.processAll()
    check(6L)
    e.terminate("kpw")
    e.dropStream("kps")
  }

  /** Parquet data files directly under a leaf directory. */
  private def parquetFiles(leaf: String): Seq[String] =
    new java.io.File(new java.net.URI(leaf).getPath).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet"))

  test("every leaf holds one parquet file across whole-bucket rewrite triggers") {
    val e = new Engine(spark)
    e.createStream("ofs", schema)
    val plan = e.df("ofs").groupBy(col("k")).agg(sum(col("v")).as("total"))
    // 5 buckets over the suite's 4 shuffle partitions: a bucket's keys come
    // from several partitions (with aligned counts each partition would
    // hold whole buckets), and later triggers update half the keys, so a
    // rewritten bucket merges kept rows with new ones
    e.createViewIncremental("ofw", plan, keys = Seq("k"), buckets = 5)
    val keys = (1 to 24).map(i => s"k$i")
    (1 to 3).foreach { t =>
      val touched = if (t == 1) keys else keys.take(12)
      e.insert("ofs", touched.map(k => rec(k, t, s"2024-01-01 00:00:0$t")): _*)
      e.processAll()
      e.viewManifest("ofw").values.foreach(leaf => assert(parquetFiles(leaf).size == 1,
        s"trigger $t: $leaf holds ${parquetFiles(leaf)}"))
    }
    val want = keys.map(k => k -> (if (keys.indexOf(k) < 12) 6L else 1L)).toMap
    assert(e.pull("ofw").collect().map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    e.terminate("ofw")
    e.dropStream("ofs")
  }

  test("a pull over a view serving more than 32 buckets plans without a Spark job") {
    val e = new Engine(spark)
    e.incViewDriverRows = 0 // no driver copy: the pulls below scan parquet
    e.createStream("wbs", schema)
    val plan = e.df("wbs").groupBy(col("k")).agg(sum(col("v")).as("total"))
    e.createViewIncremental("wbw", plan, keys = Seq("k"))
    val records = (1 to 300).map(i => rec(s"k${i % 150}", i, "2024-01-01 00:00:00"))
    e.insert("wbs", records: _*)
    e.processAll()
    val want = spark.read.schema(schema)
      .json(spark.createDataset(records)(org.apache.spark.sql.Encoders.STRING))
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(e.viewManifest("wbw").size > 32, s"serves ${e.viewManifest("wbw").size} buckets")
    var pulled: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { pulled = e.pull("wbw", "total > 0") } == 0)
    assert(pulled.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == want)
    // a key pull plans without a job too, and reads the key's bucket alone
    var keyPulled: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { keyPulled = e.pull("wbw", "k = 'k7'") } == 0)
    assert(scannedLeaves(keyPulled) == (Set(bucketOf(spark, 64, lit("k7"))), 1L))
    assert(keyPulled.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      want.view.filterKeys(_ == "k7").toMap)
    e.terminate("wbw")
    e.dropStream("wbs")
  }

  test("pulls of a view under the driver-copy bound start no Spark job and match the parquet path") {
    // the same stream and view twice: one engine keeps each generation's
    // rows on the driver, the other (bound 0) serves from parquet
    val copy = new graft.sql.SqlEngine(spark)
    val files = new graft.sql.SqlEngine(spark)
    files.engine.incViewDriverRows = 0
    val views = Seq(copy -> "dcv", files -> "dfv")
    views.foreach { case (e, v) =>
      e.sql(s"CREATE STREAM ${v}_s (k STRING, v INTEGER, _ts TIMESTAMP);")
      e.sql(s"CREATE VIEW $v AS SELECT k, SUM(v) AS total FROM ${v}_s GROUP BY k;")
      // two triggers: the second upserts over the first generation's rows
      Seq((1 to 40, 1), (5 to 9, 10)).foreach { case (ks, x) =>
        ks.foreach(i => e.sql(
          s"INSERT INTO ${v}_s (k, v, _ts) VALUES ('k$i', ${x * i}, '2024-01-01 00:00:00');"))
        e.engine.processAll()
      }
    }
    Seq("WHERE k = 'k7'", "WHERE total > 50", "").foreach { where =>
      def pull(e: graft.sql.SqlEngine, v: String) = e.batch(s"SELECT k, total FROM $v $where;")
      var fromCopy: Array[org.apache.spark.sql.Row] = null
      assert(jobsStartedBy { fromCopy = pull(copy, "dcv").collect() } == 0, where)
      val fromFiles = pull(files, "dfv")
      assert(fromCopy.toSet == fromFiles.collect().toSet && fromCopy.nonEmpty, where)
      assert(pull(copy, "dcv").schema == fromFiles.schema, where)
    }
    assert(copy.batch("SELECT total FROM dcv WHERE k = 'k7';").head().getLong(0) == 77L)
    views.foreach { case (e, v) => e.sql(s"DROP VIEW $v;"); e.sql(s"DROP STREAM ${v}_s;") }
  }

  test("a view of wide rows under the row bound is not collected to the driver, live or on restart") {
    // 30 keys of 4 KB random text: far under the row bound, but their
    // parquet bytes alone exceed the 32 KB budget
    val rnd = new scala.util.Random(7)
    val wide = (1 to 30).map(i => s"$i-" + rnd.alphanumeric.take(4096).mkString)
    val srcDir = Files.createTempDirectory("graft_wdsrc").toString
    spark.conf.set("spark.graft.checkpointRoot", Files.createTempDirectory("graft_wdckpt").toString)
    spark.conf.set("spark.graft.viewRoot", Files.createTempDirectory("graft_wdroot").toString)
    try {
      def mkEngine(): Engine = {
        val e = new Engine(spark)
        e.incViewDriverBytes = 32 * 1024
        e.createFileStream("wds", srcDir, schema)
        e.createViewIncremental("wdv",
          e.df("wds").groupBy(col("k")).agg(sum(col("v")).as("total")), Seq("k"), buckets = 4)
        e
      }
      def check(e: Engine): Unit = {
        var pulled: Array[org.apache.spark.sql.Row] = null
        assert(jobsStartedBy { pulled = e.pull("wdv").collect() } > 0, "served from the driver")
        assert(pulled.map(r => r.getString(0) -> r.getLong(1)).toMap ==
          wide.zipWithIndex.map { case (k, i) => k -> i.toLong }.toMap)
        assert(e.incViewCopiesCollected.get == 0)
      }
      val e1 = mkEngine()
      Files.writeString(java.nio.file.Paths.get(srcDir, "f1.json"),
        wide.zipWithIndex.map { case (k, i) => rec(k, i, "2024-01-01 00:00:00") }.mkString("\n"))
      e1.processAll()
      check(e1)
      // a view of narrow rows fits the same budget, so it is collected
      e1.createViewIncremental("ndv",
        e1.df("wds").groupBy(col("v")).agg(count(lit(1)).as("n")), Seq("v"), buckets = 4)
      e1.processAll()
      assert(e1.incViewCopiesCollected.get == 1)
      assert(jobsStartedBy(e1.pull("ndv").collect()) == 0)
      e1.terminate("wdv"); e1.terminate("ndv")
      // recovery reads the manifest; the copy's parquet bytes are over the budget
      val e2 = mkEngine()
      try check(e2) finally e2.terminate("wdv")
    } finally {
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
    }
  }

  test("TUMBLE-window view via the dialect maintains incrementally by (key, window_start)") {
    val e = new graft.sql.SqlEngine(spark)
    e.sql("CREATE STREAM wivs (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("""CREATE VIEW wiv AS SELECT k, SUM(v) AS total
             FROM TUMBLE(wivs, INTERVAL 1 HOUR) GROUP BY k;""")
    // the windowed view went down the INCREMENTAL path: a manifest exists
    // (complete-mode views have no manifest and would throw here)
    e.sql("INSERT INTO wivs (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:10:00');")
    e.sql("INSERT INTO wivs (k, v, _ts) VALUES ('a', 3, '2024-01-01 00:20:00');")
    e.sql("INSERT INTO wivs (k, v, _ts) VALUES ('a', 7, '2024-01-01 02:10:00');")
    e.engine.processAll()
    assert(e.engine.viewManifest("wiv").nonEmpty, "windowed view is not incremental")
    // per-window rows upserted under (k, window_start): two windows for 'a'
    val rows = e.engine.pull("wiv").collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getLong(1))).toSet
    assert(rows == Set(
      ("a", "2024-01-01 00:00:00.0", 5L),
      ("a", "2024-01-01 02:00:00.0", 7L)), s"got $rows")
    // an update to an EXISTING window upserts in place (no duplicate row)
    e.sql("INSERT INTO wivs (k, v, _ts) VALUES ('a', 10, '2024-01-01 00:30:00');")
    e.engine.processAll()
    val rows2 = e.engine.pull("wiv").collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getLong(1))).toSet
    assert(rows2 == Set(
      ("a", "2024-01-01 00:00:00.0", 15L),
      ("a", "2024-01-01 02:00:00.0", 7L)), s"got $rows2")
    e.sql("DROP VIEW wiv;")
    e.sql("DROP STREAM wivs;")
  }

  test("null group key upserts in place (null-safe anti-join), no stale rows") {
    val e = new Engine(spark)
    e.createStream("nivs", schema)
    e.createViewIncremental("niv",
      e.df("nivs").groupBy(col("k")).agg(sum(col("v")).as("total")),
      keys = Seq("k"), buckets = 4)
    // records WITHOUT k: from_json yields a null group key
    e.insert("nivs", """{"v":1,"_ts":"2024-01-01 00:00:00"}""")
    e.processAll()
    e.insert("nivs", """{"v":2,"_ts":"2024-01-01 00:00:01"}""")
    e.processAll()
    // plain k = k anti-join would keep appending one stale null-key row
    // per trigger; null-safe equality replaces it
    val nullRows = e.pull("niv", "k IS NULL").collect()
    assert(nullRows.length == 1, s"stale null-key rows: ${nullRows.toSeq}")
    assert(nullRows.head.getLong(1) == 3L)
    e.terminate("niv")
    e.dropStream("nivs")
  }

  test("manifest + aggregate state recover across an engine restart") {
    val srcDir = Files.createTempDirectory("graft_ivsrc").toString
    val viewRoot = Files.createTempDirectory("graft_ivroot").toString
    val ckptRoot = Files.createTempDirectory("graft_ivckpt").toString
    def writeFile(name: String, lines: String): Unit =
      Files.writeString(java.nio.file.Paths.get(srcDir, name), lines)
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    try {
      def mkEngine(): Engine = {
        val e = new Engine(spark)
        e.createFileStream("ivr", srcDir, schema)
        e
      }
      def startView(e: Engine) = e.createViewIncremental("ivv",
        e.df("ivr").groupBy(col("k")).agg(sum(col("v")).as("total")), Seq("k"))

      val e1 = mkEngine()
      startView(e1)
      writeFile("f1.json", rec("a", 3, "2024-01-01 00:00:00"))
      e1.processAll()
      assert(e1.pull("ivv").head().getLong(1) == 3L)
      e1.terminate("ivv") // crash: manifest file + checkpoint stay

      val e2 = mkEngine()
      startView(e2)
      // BEFORE any new input: the recovered manifest serves the last
      // committed state (not an empty view until the next trigger)
      assert(e2.pull("ivv").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 3L), "recovered manifest did not serve prior state")
      // and the aggregation state carried over: new input ACCUMULATES
      writeFile("f2.json", rec("a", 4, "2024-01-01 00:00:01"))
      e2.processAll()
      assert(e2.pull("ivv").head().getLong(1) == 7L, "agg state lost across restart")
      e2.terminate("ivv")
    } finally {
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
    }
  }

  /** Runs `body` against a view directory written by hand under a fresh
    * viewRoot: one parquet file of (k, total, gen) rows per leaf,
    * and one manifest with a line per (bucket, its leaves), as the
    * removed delta-log storage persisted them. `body` gets the view dir. */
  private def withHandWrittenView(view: String,
                                  leaves: Map[String, Seq[(String, Long)]],
                                  manifest: Seq[(Int, Seq[String])])
                                 (body: (Engine, String) => Unit): Unit = {
    val viewRoot = Files.createTempDirectory("graft_hwroot").toString
    val ckptRoot = Files.createTempDirectory("graft_hwckpt").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    try {
      import spark.implicits._
      val dir = s"$viewRoot/$view"
      leaves.foreach { case (leaf, rows) =>
        rows.map { case (k, total) => (k, total, 7L) }.toDF("k", "total", "gen")
          .coalesce(1).write.parquet(s"$dir/$leaf")
      }
      Files.writeString(java.nio.file.Paths.get(dir, "manifest-g7.txt"),
        manifest.map { case (bk, ls) => (bk.toString +: ls.map(l => s"$dir/$l")).mkString("\t") }
          .mkString("\n"))
      val e = new Engine(spark)
      e.createStream(s"${view}_s", schema)
      try body(e, dir) finally e.dropStream(s"${view}_s")
    } finally {
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
    }
  }

  private def sumView(e: Engine, view: String): DataFrame =
    e.df(s"${view}_s").groupBy(col("k")).agg(sum(col("v")).as("total"))

  test("recovery refuses a manifest line that serves a bucket from several leaves") {
    // a base + delta chain: its files hold superseded rows for a key, so
    // serving the chain as one whole bucket would answer wrongly
    val b = bucketOf(spark, 64, lit("a"))
    val chain = Seq(s"g6-c/graft_bucket=$b", s"g7/graft_bucket=$b")
    withHandWrittenView("hwc", Map(chain(0) -> Seq("a" -> 3L), chain(1) -> Seq("a" -> 8L)),
        Seq(b -> chain)) { (e, _) =>
      val err = intercept[IllegalStateException](
        e.createViewIncremental("hwc", sumView(e, "hwc"), Seq("k")))
      assert(err.getMessage.contains("incremental view hwc") &&
        err.getMessage.contains("delta-log view storage, which was removed"), err.getMessage)
      // the refused view was never registered: a pull does not find it
      intercept[Exception](e.pull("hwc").collect())
    }
  }

  test("recovery serves one-leaf manifest lines with extra file columns and ignores a zones file") {
    // a first delta and a compacted base hold one row per key, plus a
    // generation column the view schema does not read
    val (ba, bb) = (bucketOf(spark, 64, lit("a")), bucketOf(spark, 64, lit("b")))
    assert(ba != bb)
    val (la, lb) = (s"g5/graft_bucket=$ba", s"g7-c/graft_bucket=$bb")
    withHandWrittenView("hwo", Map(la -> Seq("a" -> 3L), lb -> Seq("b" -> 5L)),
        Seq(ba -> Seq(la), bb -> Seq(lb))) { (e, dir) =>
      e.incViewDriverRows = 0 // no driver copy: the key pull below scans parquet
      Files.writeString(java.nio.file.Paths.get(dir, "zones-g7.txt"), "not\ta zone map")
      e.createViewIncremental("hwo", sumView(e, "hwo"), Seq("k"))
      def served = e.pull("hwo").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(served == Map("a" -> 3L, "b" -> 5L))
      assert(scannedLeaves(e.pull("hwo", "k = 'a'")) == (Set(ba), 1L))
      // a trigger rewrites a's bucket over its recovered leaf; b is kept
      // (the aggregate state starts empty: no checkpoint was written)
      e.insert("hwo_s", rec("a", 4, "2024-01-01 00:00:00"), rec("c", 1, "2024-01-01 00:00:00"))
      e.processAll()
      assert(served == Map("a" -> 4L, "b" -> 5L, "c" -> 1L))
      e.terminate("hwo")
    }
  }

  test("complete-mode view snapshot recovers across an engine restart") {
    val srcDir = Files.createTempDirectory("graft_cvsrc").toString
    val viewRoot = Files.createTempDirectory("graft_cvroot").toString
    val ckptRoot = Files.createTempDirectory("graft_cvckpt").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    try {
      def mkEngine(): Engine = {
        val e = new Engine(spark)
        e.createFileStream("cvr", srcDir, schema)
        e
      }
      val e1 = mkEngine()
      e1.createView("cvv",
        e1.df("cvr").groupBy(col("k")).agg(sum(col("v")).as("total")))
      Files.writeString(java.nio.file.Paths.get(srcDir, "f1.json"),
        rec("a", 3, "2024-01-01 00:00:00"))
      e1.processAll()
      assert(e1.pull("cvv").head().getLong(1) == 3L)
      e1.terminate("cvv")

      val e2 = mkEngine()
      e2.createView("cvv",
        e2.df("cvr").groupBy(col("k")).agg(sum(col("v")).as("total")))
      // latest b<N> snapshot found on disk serves immediately
      assert(e2.pull("cvv").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map("a" -> 3L), "snapshot not recovered from viewRoot")
      e2.terminate("cvv")
    } finally {
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
    }
  }

  test("3-hop CSAS pipeline drains in ≤ 3 passes (fixpoint, not N×N)") {
    val e = new Engine(spark)
    e.createStream("p1", schema)
    val t2 = Files.createTempDirectory("graft_hop2").toString
    val t3 = Files.createTempDirectory("graft_hop3").toString
    e.createFileStream("p2", t2, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))))
    e.createFileStream("p3", t3, StructType(Seq(
      StructField("k", StringType), StructField("v", LongType))))
    e.createStreamAs("p2", e.df("p1").select(col("k"), (col("v") + 1).as("v")))
    e.createStreamAs("p3", e.df("p2").select(col("k"), (col("v") * 10).as("v")))
    e.emitChanges("pout", e.df("p3").groupBy(col("k")).agg(max(col("v")).as("m")))
    e.insert("p1", rec("a", 1, "2024-01-01 00:00:00"))
    val passes = e.processAll()
    assert(passes <= 3, s"expected fixpoint in ≤ 3 passes, took $passes")
    assert(spark.table("pout").collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 20L))
    e.terminate("pout"); e.terminate("p2"); e.terminate("p3")
  }
}

object IncrementalViewSpec {
  /** The buckets and the number of leaves (one parquet file each) that
    * the one parquet scan of `df` selected when it ran. */
  def scannedLeaves(df: DataFrame): (Set[Int], Long) = {
    df.collect()
    object plans extends AdaptiveSparkPlanHelper
    val scans = plans.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.selectedPartitions }
    assert(scans.size == 1, s"expected one scan:\n${df.queryExecution.executedPlan}")
    (scans.head.filePartitionIterator.map(_.values.getInt(0)).toSet,
      scans.head.totalNumberOfFiles)
  }

  /** The bucket of a row with these key values, among `n` buckets. */
  def bucketOf(spark: SparkSession, n: Int, keys: Column*): Int =
    spark.range(1).select(pmod(hash(keys: _*), lit(n))).head().getInt(0)
}
