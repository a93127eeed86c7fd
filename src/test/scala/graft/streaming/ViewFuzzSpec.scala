package graft.streaming

import graft.SparkSpec

/** In-CI half of the VIEW-MAINTENANCE differential fuzzer (r12 VERDICT
  * #1): random (view definition × maintenance mode × append schedule ×
  * restart event × pull predicates) scenarios, every pull compared
  * against a from-scratch batch recompute over all appended rows. The
  * non-vacuity assertions pin that the interesting machinery actually
  * ran inside the compared surface: retention-expired keys vanished from
  * pulls, and served buckets were rewritten while views were pulled.
  *
  * Kept deterministic on purpose (CI must not roam): two pinned seeds.
  * Offline roaming: `sbt "runMain graft.streaming.ViewFuzz <seeds> [n]"`.
  */
class ViewFuzzSpec extends SparkSpec {

  private def checkSeed(seed: Long, n: Int): Unit = {
    val reports = ViewFuzz.run(spark, seed, n)
    val bad = reports.filterNot(_.ok)
    assert(bad.isEmpty, bad.map(r => s"${r.name}: ${r.detail}").mkString("\n"))
    assert(reports.size == n)
    // non-vacuity: the certified surface must include retention expiry
    assert(reports.map(_.expired).sum > 0, "no retention expiry ever observed")
  }

  test("view fuzzer: pinned seed 1 — every pull == from-scratch recompute") {
    checkSeed(1L, 8)
  }

  test("view fuzzer: pinned seed 31337 — every pull == from-scratch recompute") {
    checkSeed(31337L, 8)
  }

  test("multi-view fuzzer: two views, one stream, interleaved pulls (r14)") {
    // the reference serves many views over shared streams concurrently
    // (per-query allocation, Handler/Query.hs:81-84): two views with
    // different modes/buckets/agg subsets maintain over the
    // SAME source, pulls alternate between them after every batch, and
    // a restart recovers both. Each pull must equal that view's own
    // from-scratch recompute — cross-view interference (shared stream
    // offsets, checkpoint collisions, viewRoot path mixups) breaks it.
    val reports = ViewFuzz.runMulti(spark, 1L, 4) ++
      ViewFuzz.runMulti(spark, 31337L, 4)
    val bad = reports.filterNot(_.ok)
    assert(bad.isEmpty, bad.map(r => s"${r.name}: ${r.detail}").mkString("\n"))
    assert(reports.map(_.rewrites).sum > 0,
      "no view ever rewrote a served bucket inside the multi-view surface")
  }

  test("pull racing an in-flight whole-bucket rewrite via the maintenance seam (r14)") {
    // Engine.incViewSeam fires at the three transaction points of every
    // maintenance trigger; a full pull + referee compare runs INSIDE each
    // window. post-write must serve the pre-batch state (files durable,
    // manifest not yet flipped); post-flip/post-persist the post-batch
    // state. The in-flight compaction is a whole-bucket rewrite: the
    // non-vacuity check demands a trigger that rewrites a bucket an
    // earlier generation served, whose old leaf serves at post-write.
    val reports = ViewFuzz.runRace(spark, 1L, 3) ++
      ViewFuzz.runRace(spark, 31337L, 3)
    val bad = reports.filterNot(_.ok)
    assert(bad.isEmpty, bad.map(r => s"${r.name}: ${r.detail}").mkString("\n"))
  }

  test("view fuzzer and race tier with every pull served from parquet") {
    // the tests above run views small enough for a driver copy, whose
    // pulls scan no file; here no view keeps one, so the same referee
    // checks the pruned parquet scans, and the race tier's post-write
    // pull reads the old generation's leaf files
    val reports = ViewFuzz.run(spark, 1L, 2, driverCopy = false) ++
      ViewFuzz.runRace(spark, 1L, 1, driverCopy = false)
    val bad = reports.filterNot(_.ok)
    assert(bad.isEmpty, bad.map(r => s"${r.name}: ${r.detail}").mkString("\n"))
    assert(reports.count(_.name.contains("_inc")) == 1)
  }

  test("view fuzzer under RocksDB state store: one pinned pass") {
    // the view maintenance queries' AGGREGATION state rides the state
    // store; one pass under the production provider extends the
    // differential certification there (answers, not just bounds)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider")
    try {
      val reports = ViewFuzz.run(spark, 907L, 4) // one pass over the modes
      val bad = reports.filterNot(_.ok)
      assert(bad.isEmpty, bad.map(r => s"${r.name}: ${r.detail}").mkString("\n"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
