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

  test("a key-equality pull scans exactly one leaf: whole-bucket and delta-log mode") {
    val e = new Engine(spark)
    e.createStream("kps", schema)
    val plan = e.df("kps").groupBy(col("k")).agg(sum(col("v")).as("total"))
    e.createViewIncremental("kpw", plan, keys = Seq("k"), buckets = 16)
    e.createViewIncremental("kpd", plan, keys = Seq("k"), buckets = 16, deltaLog = true)
    val keys = (1 to 40).map(i => s"k$i")
    e.insert("kps", keys.map(k => rec(k, 1, "2024-01-01 00:00:00")): _*)
    e.processAll()
    val b7 = bucketOf(spark, 16, lit("k7"))
    def check(v: String, total: Long, leaves: Int): Unit = {
      val served = e.viewManifestPaths(v).values.flatten.size
      assert(e.viewManifestPaths(v)(b7).size == leaves, s"$v: ${e.viewManifestPaths(v)(b7)}")
      assert(scannedLeaves(e.pull(v, "k = 'k7'")) == (Set(b7), leaves),
        s"$v: a key pull should read bucket $b7 only, of $served leaves")
      assert(e.pull(v, "k = 'k7'").collect().map(r => r.getString(0) -> r.getLong(1))
        .toSeq == Seq("k7" -> total), v)
      // a pull that fixes no key reads every leaf
      assert(scannedLeaves(e.pull(v, "total > 0"))._2 == served, v)
    }
    Seq("kpw", "kpd").foreach(v => check(v, 1L, leaves = 1))
    // a second trigger: the whole-bucket leaf is rewritten, the delta-log
    // chain grows to base + delta, and the key pull reads that chain alone
    e.insert("kps", rec("k7", 5, "2024-01-01 00:00:01"))
    e.processAll()
    check("kpw", 6L, leaves = 1)
    check("kpd", 6L, leaves = 2)
    e.terminate("kpw"); e.terminate("kpd")
    e.dropStream("kps")
  }

  /** Parquet data files directly under a leaf directory. */
  private def parquetFiles(leaf: String): Seq[String] =
    new java.io.File(new java.net.URI(leaf).getPath).listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet"))

  test("every leaf holds one parquet file: whole-bucket triggers, delta-log triggers and compactions") {
    val e = new Engine(spark)
    e.createStream("ofs", schema)
    val plan = e.df("ofs").groupBy(col("k")).agg(sum(col("v")).as("total"))
    // 5 buckets over the suite's 4 shuffle partitions: a bucket's keys come
    // from several partitions (with aligned counts each partition would
    // hold whole buckets), and later triggers update half the keys, so a
    // rewritten bucket merges kept rows with new ones
    e.createViewIncremental("ofw", plan, keys = Seq("k"), buckets = 5)
    e.createViewIncremental("ofd", plan, keys = Seq("k"), buckets = 5,
      deltaLog = true, compactThreshold = 2)
    val keys = (1 to 24).map(i => s"k$i")
    var compacted = false
    (1 to 3).foreach { t =>
      val touched = if (t == 1) keys else keys.take(12)
      e.insert("ofs", touched.map(k => rec(k, t, s"2024-01-01 00:00:0$t")): _*)
      e.processAll()
      val leaves = e.viewManifest("ofw").values ++
        e.viewManifestPaths("ofd").values.flatten
      leaves.foreach(leaf => assert(parquetFiles(leaf).size == 1,
        s"trigger $t: $leaf holds ${parquetFiles(leaf)}"))
      compacted ||= e.viewManifestPaths("ofd").values.flatten.exists(_.contains("-c/"))
    }
    assert(compacted, "no compaction ran")
    val want = keys.map(k => k -> (if (keys.indexOf(k) < 12) 6L else 1L)).toMap
    Seq("ofw", "ofd").foreach(v => assert(
      e.pull(v).collect().map(r => r.getString(0) -> r.getLong(1)).toMap == want, v))
    e.terminate("ofw"); e.terminate("ofd")
    e.dropStream("ofs")
  }

  test("a pull over a view serving more than 32 buckets plans without a Spark job") {
    val e = new Engine(spark)
    e.createStream("wbs", schema)
    val plan = e.df("wbs").groupBy(col("k")).agg(sum(col("v")).as("total"))
    e.createViewIncremental("wbw", plan, keys = Seq("k"))
    e.createViewIncremental("wbd", plan, keys = Seq("k"), deltaLog = true)
    val records = (1 to 300).map(i => rec(s"k${i % 150}", i, "2024-01-01 00:00:00"))
    e.insert("wbs", records: _*)
    e.processAll()
    val want = spark.read.schema(schema)
      .json(spark.createDataset(records)(org.apache.spark.sql.Encoders.STRING))
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("wbw", "wbd").foreach { v =>
      assert(e.viewManifest(v).size > 32, s"$v serves ${e.viewManifest(v).size} buckets")
      var pulled: org.apache.spark.sql.DataFrame = null
      assert(jobsStartedBy { pulled = e.pull(v, "total > 0") } == 0, v)
      assert(pulled.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == want, v)
      // a key pull plans without a job too, and reads the key's bucket alone
      var keyPulled: org.apache.spark.sql.DataFrame = null
      assert(jobsStartedBy { keyPulled = e.pull(v, "k = 'k7'") } == 0, v)
      assert(scannedLeaves(keyPulled) == (Set(bucketOf(spark, 64, lit("k7"))), 1L), v)
      assert(keyPulled.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        want.view.filterKeys(_ == "k7").toMap, v)
    }
    e.terminate("wbw"); e.terminate("wbd")
    e.dropStream("wbs")
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

  test("delta-log mode: N triggers on one key = N small delta files, one threshold compaction, other buckets untouched") {
    val srcDir = Files.createTempDirectory("graft_dlsrc").toString
    val viewRoot = Files.createTempDirectory("graft_dlroot").toString
    val ckptRoot = Files.createTempDirectory("graft_dlckpt").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    var n = 0
    def push(lines: String*): Unit = {
      n += 1
      Files.writeString(java.nio.file.Paths.get(srcDir, s"f$n.json"),
        lines.mkString("\n"))
    }
    try {
      val buckets = 8
      val (k1, k2, b1, b2) = twoKeysDifferentBuckets(buckets)
      def mkEngine(): Engine = {
        val e = new Engine(spark)
        e.createFileStream("dls", srcDir, schema)
        e
      }
      def startView(e: Engine) = e.createViewIncremental("dlv",
        e.df("dls").groupBy(col("k")).agg(sum(col("v")).as("total")),
        keys = Seq("k"), buckets = buckets, deltaLog = true, compactThreshold = 3)

      val e = mkEngine()
      startView(e)
      push(rec(k1, 1, "2024-01-01 00:00:00"), rec(k2, 100, "2024-01-01 00:00:00"))
      e.processAll()
      val m1 = e.viewManifestPaths("dlv")
      assert(m1(b1).size == 1 && m1(b2).size == 1)

      // two more triggers touch ONLY k1: each appends ONE delta leaf with
      // ONE row (O(delta) write, not a bucket rewrite); k2's chain must
      // stay byte-identical throughout
      (2 to 3).foreach { i =>
        push(rec(k1, i, s"2024-01-01 00:00:0$i"))
        e.processAll()
        val m = e.viewManifestPaths("dlv")
        assert(m(b1).size == i, s"expected $i delta leaves, got ${m(b1)}")
        assert(m(b2) == m1(b2), "untouched bucket's chain changed")
        val newest = spark.read.parquet(m(b1).last)
        assert(newest.count() == 1, "delta leaf holds more than the changed key")
      }
      // …and serving resolves last-writer-wins at every step
      assert(e.pull("dlv", s"k = '$k1'").head().getLong(1) == 6L)

      // the 4th delta crosses compactThreshold=3: the bucket collapses to
      // ONE compacted base; the other bucket is still untouched
      push(rec(k1, 4, "2024-01-01 00:00:04"))
      e.processAll()
      val mc = e.viewManifestPaths("dlv")
      assert(mc(b1).size == 1, s"expected compacted single base, got ${mc(b1)}")
      assert(mc(b1).head.contains("-c/"), s"not a compaction dir: ${mc(b1)}")
      assert(mc(b2) == m1(b2), "untouched bucket's chain changed by compaction")
      assert(e.pull("dlv").collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        Map(k1 -> 10L, k2 -> 100L))

      // deltas keep winning over the compacted base (generations survive)
      push(rec(k1, 5, "2024-01-01 00:00:05"))
      e.processAll()
      assert(e.viewManifestPaths("dlv")(b1).size == 2)
      assert(e.pull("dlv", s"k = '$k1'").head().getLong(1) == 15L)

      // null group keys resolve in place too (window partitioning groups
      // nulls; no stale-row append as with plain-equality anti-joins)
      push("""{"v":7,"_ts":"2024-01-01 00:00:06"}""")
      e.processAll()
      push("""{"v":8,"_ts":"2024-01-01 00:00:07"}""")
      e.processAll()
      val nullRows = e.pull("dlv", "k IS NULL").collect()
      assert(nullRows.length == 1 && nullRows.head.getLong(1) == 15L,
        s"stale null-key rows: ${nullRows.toSeq}")

      // restart recovery parses the multi-path manifest chain and serves it
      // BEFORE any new trigger; agg state resumes from the checkpoint
      e.terminate("dlv")
      val e2 = mkEngine()
      startView(e2)
      assert(e2.pull("dlv", s"k = '$k1'").head().getLong(1) == 15L,
        "delta chain not recovered from manifest")
      push(rec(k1, 10, "2024-01-01 00:00:08"))
      e2.processAll()
      assert(e2.pull("dlv", s"k = '$k1'").head().getLong(1) == 25L,
        "agg state lost across restart")
      e2.terminate("dlv")
    } finally {
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
    }
  }

  test("compaction of an ALL-EXPIRED bucket records an empty chain, not a dangling path (r13 ViewFuzz find)") {
    // delta-log + retention: an update to an already-expired key grows its
    // chain past the threshold; compaction sheds every row of the bucket
    // (all past retention), so the partitioned write creates NO dir for
    // it — the manifest previously still pointed there and every later
    // pull died with PATH_NOT_FOUND
    val srcDir = Files.createTempDirectory("graft_exsrc").toString
    val viewRoot = Files.createTempDirectory("graft_exroot").toString
    val ckptRoot = Files.createTempDirectory("graft_exckpt").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    var n = 0
    def push(lines: String*): Unit = {
      n += 1
      Files.writeString(java.nio.file.Paths.get(srcDir, s"x$n.json"),
        lines.mkString("\n"))
    }
    try {
      val e = new Engine(spark)
      e.createFileStream("exs", srcDir, schema)
      e.createViewIncremental("exv",
        e.df("exs").groupBy(col("k"))
          .agg(sum(col("v")).as("total"), max(col("_ts")).as("mts")),
        keys = Seq("k"), buckets = 4, deltaLog = true, compactThreshold = 1,
        retainOn = Some("mts"), retention = Some("30 days"))
      val fresh = tsNowish()
      push(rec("oldk", 1, "2015-01-01 00:00:00"), rec("live", 5, fresh))
      e.processAll()
      // second update to the EXPIRED key crosses compactThreshold=1 →
      // its bucket compacts; every row there is past retention
      push(rec("oldk", 2, "2015-01-01 00:01:00"))
      e.processAll()
      // the pull must serve, with the expired key absent and the live one
      // intact (this threw PATH_NOT_FOUND before the fix)
      val rows = e.pull("exv").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("live" -> 5L), s"got $rows")
      // and the expired key REVIVES if fresh input arrives (the aggregate
      // state lives in the checkpoint, not the store)
      push(rec("oldk", 3, fresh))
      e.processAll()
      val rows2 = e.pull("exv").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows2 == Map("live" -> 5L, "oldk" -> 6L), s"got $rows2")
      e.terminate("exv")
    } finally {
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
    }
  }

  private def tsNowish(): String =
    // explicit pattern — LocalDateTime.toString omits ":ss" at second 0,
    // which Timestamp.valueOf rejects (the ViewFuzz tsOf flake)
    java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
      .minusMinutes(5).withNano(0).format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))

  test("delta-log zone maps: value predicates prune whole bucket chains, soundly") {
    val srcDir = Files.createTempDirectory("graft_zmsrc").toString
    val viewRoot = Files.createTempDirectory("graft_zmroot").toString
    val ckptRoot = Files.createTempDirectory("graft_zmckpt").toString
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    spark.conf.set("spark.graft.viewRoot", viewRoot)
    var n = 0
    def push(lines: String*): Unit = {
      n += 1
      Files.writeString(java.nio.file.Paths.get(srcDir, s"f$n.json"),
        lines.mkString("\n"))
    }
    try {
      val buckets = 8
      def mkEngine(): Engine = {
        val e = new Engine(spark)
        e.createFileStream("zms", srcDir, schema)
        e
      }
      def startView(e: Engine) = e.createViewIncremental("zmv",
        e.df("zms").groupBy(col("k")).agg(sum(col("v")).as("total")),
        keys = Seq("k"), buckets = buckets, deltaLog = true, compactThreshold = 10)

      val e = mkEngine(); startView(e)
      // 8 cold keys (totals 1..8) spread across buckets, one hot key
      push((('a' to 'h').zipWithIndex.map { case (k, i) =>
        rec(k.toString, i + 1, "2024-01-01 00:00:00") } :+
        rec("hot", 1000, "2024-01-01 00:00:00")): _*)
      e.processAll()

      val all = e.viewServingPaths("zmv", "true")
      val kept = e.viewServingPaths("zmv", "total > 100")
      // only the hot key's bucket chain can satisfy the range test
      val bHot = spark.range(1)
        .select(pmod(hash(lit("hot")), lit(buckets))).head().getInt(0)
      assert(kept.toSet == e.viewManifestPaths("zmv")(bHot).toSet,
        s"expected only the hot bucket's chain, got $kept of $all")
      assert(kept.size < all.size)
      // …and the pruned pull returns exactly the right rows
      assert(e.pull("zmv", "total > 100").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq == Seq("hot" -> 1000L))
      // STRING zone maps: equality/range predicates on string output
      // columns prune chains too (UTF-8 binary order — Spark's own)
      val bA = spark.range(1)
        .select(pmod(hash(lit("a")), lit(buckets))).head().getInt(0)
      val keptA = e.viewServingPaths("zmv", "k = 'a'")
      assert(keptA.size < all.size, "string equality should prune chains")
      assert(e.viewManifestPaths("zmv")(bA).toSet.subsetOf(keptA.toSet),
        "the chain holding k='a' must survive string pruning")
      assert(e.pull("zmv", "k = 'a'").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq == Seq("a" -> 1L))
      // a string value beyond every zone's max prunes everything
      assert(e.viewServingPaths("zmv", "k = 'zzz'").isEmpty)
      assert(e.pull("zmv", "k = 'zzz'").collect().isEmpty)
      // truly non-prunable predicates (expression over the column) still
      // serve every chain
      assert(e.viewServingPaths("zmv", "length(k) = 1").size == all.size)

      // SOUNDNESS: the hot total drops below the threshold in a later
      // generation — the chain's union still passes the range test, so the
      // bucket is served, and post-resolution filtering returns nothing.
      // (File-level pruning would drop only the new delta and resurrect
      // the stale 1000 — the exact unsoundness ZoneMap's doc names.)
      push(rec("hot", -990, "2024-01-01 00:00:01"))
      e.processAll()
      assert(e.viewServingPaths("zmv", "total > 100").nonEmpty)
      assert(e.pull("zmv", "total > 100").collect().isEmpty,
        "stale generation leaked through zone pruning")
      assert(e.pull("zmv", "total >= 10").head().getString(0) == "hot")

      // zones recover across an engine restart via the manifest's sidecar
      e.terminate("zmv")
      val e2 = mkEngine(); startView(e2)
      val kept2 = e2.viewServingPaths("zmv", "total > 100")
      assert(kept2.toSet == e2.viewManifestPaths("zmv")(bHot).toSet,
        "zone pruning lost after restart")
      // string zones survive the sidecar round-trip too
      assert(e2.viewServingPaths("zmv", "k = 'zzz'").isEmpty,
        "string zone pruning lost after restart")
      e2.terminate("zmv")
    } finally {
      spark.conf.unset("spark.graft.checkpointRoot")
      spark.conf.unset("spark.graft.viewRoot")
    }
  }

  test("dialect opt-in: spark.graft.viewDeltaLog=true maintains a view as delta chains") {
    spark.conf.set("spark.graft.viewDeltaLog", "true")
    spark.conf.set("spark.graft.viewDeltaCompactThreshold", "2")
    try {
      val e = new graft.sql.SqlEngine(spark)
      e.sql("CREATE STREAM dlqs (k STRING, v INTEGER, _ts TIMESTAMP);")
      e.sql("CREATE VIEW dlqv AS SELECT k, SUM(v) AS total FROM dlqs GROUP BY k;")
      (1 to 3).foreach { i =>
        e.sql(s"INSERT INTO dlqs (k, v, _ts) VALUES ('a', $i, '2024-01-01 00:00:0$i');")
        e.engine.processAll()
      }
      // chains grew then compacted at threshold 2 (3rd delta -> 1 base)
      val chain = e.engine.viewManifestPaths("dlqv").values.flatten.toList
      assert(chain.size == 1 && chain.head.contains("-c/"),
        s"expected one compacted base, got $chain")
      assert(e.engine.pull("dlqv", "k = 'a'").head().getLong(1) == 6L)
      e.sql("DROP VIEW dlqv;")
      e.sql("DROP STREAM dlqs;")
    } finally {
      spark.conf.unset("spark.graft.viewDeltaLog")
      spark.conf.unset("spark.graft.viewDeltaCompactThreshold")
    }
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
