package graft.queries

import graft.SparkSpec

/** Fleet-wide physical-plan audit over EVERY gate query: no accidental
  * non-broadcast cartesian product may appear anywhere. The deliberate
  * O(n²) correctness anchors (brute-force pair scans whose scale paths are
  * separate gate queries) are allowlisted explicitly — a new query that
  * joins without keys fails here at `sbt test` time instead of surfacing
  * as a 100 TB incident. */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Queries whose CartesianProduct is the documented point of the query
    * (exact ground-truth anchors; each names its scale-path twin). */
  private val deliberatePairScans = Set(
    "q_dedup_jaccard_exact",   // anchor for q_dedup_minhash_lsh
    "q_dedup_simhash_pairs",   // anchor for q_dedup_simhash_banded
    "q_embed_neardup",         // anchor for q_ann_lsh_bucketed
    "q_embed_clusters",        // built on the anchor pairs (scale: bucketed)
    "q_dedup_semantic"         // within-cluster pairs; Σ|cluster|² by design
  )

  test("no gate query plans a non-broadcast cartesian product (unless a documented anchor)") {
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, sf).queryExecution.executedPlan.toString
          catch { case e: Throwable =>
            fail(s"$name failed to plan: ${e.getMessage}")
          }
        if (plan.contains("CartesianProduct") &&
            !deliberatePairScans.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected CartesianProduct in: ${offenders.mkString(", ")}")
    spark.catalog.clearCache()
  }

  test("representative scans push filters down and prune columns (r13)") {
    // The 100 TB contract in miniature: a declarative filter must reach
    // the parquet scan as a PushedFilter, and a narrow projection must
    // shrink ReadSchema below the table's full width — inspected on the
    // physical scan node itself, not the plan string.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scanOf(name: String, table: String): FileSourceScanExec = {
      val scans = graft.SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan
        .collect { case f: FileSourceScanExec => f }
        .filter(_.relation.location.rootPaths.exists(_.toString.contains(table)))
      assert(scans.nonEmpty, s"$name has no parquet scan of $table")
      scans.head
    }
    // q_agg_pricing: shipdate predicate → lineitem scan; 7 of 16 columns
    val li = scanOf("q_agg_pricing", "lineitem")
    assert(li.metadata("PushedFilters").contains("l_shipdate"),
      s"shipdate not pushed: ${li.metadata("PushedFilters")}")
    assert(li.requiredSchema.size <= 7 &&
      li.requiredSchema.size < li.relation.dataSchema.size,
      s"lineitem scan reads ${li.requiredSchema.size} of " +
        s"${li.relation.dataSchema.size} columns")
    // q_filter_project: event_type/value predicates → events scan;
    // projection prunes to the 4 referenced columns
    val ev = scanOf("q_filter_project", "events")
    assert(ev.metadata("PushedFilters").contains("event_type"),
      s"event_type not pushed: ${ev.metadata("PushedFilters")}")
    assert(ev.requiredSchema.size < ev.relation.dataSchema.size,
      s"events scan reads ${ev.requiredSchema.size} of " +
        s"${ev.relation.dataSchema.size} columns")
    spark.catalog.clearCache()
  }

  test("a dialect key pull on an incremental view scans one bucket: a literal graft_bucket partition filter") {
    // Pins the bucket pruning of view pulls (Engine.readLeaves): under the
    // pull's key equality, the stored-row invariant
    // graft_bucket = pmod(hash(keys), buckets) must fold to a literal
    // partition filter on the executed scan. If Catalyst stops propagating
    // the dialect's null-safe `=` into it, this fails instead of every key
    // pull silently reading all buckets again.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val e = new graft.sql.SqlEngine(spark)
    // no driver copy: a view this small would be served without a scan
    e.engine.incViewDriverRows = 0
    e.sql("CREATE STREAM pas (user_id INTEGER, value FLOAT, _ts TIMESTAMP);")
    e.sql("CREATE VIEW pav AS SELECT user_id, COUNT(*) AS c, SUM(value) AS s " +
      "FROM pas GROUP BY user_id;")
    (1 to 20).foreach(u => e.sql(
      s"INSERT INTO pas (user_id, value, _ts) VALUES ($u, 1.5, '2024-01-01 00:00:00');"))
    e.engine.processAll()
    val pulled = e.batch("SELECT user_id, c, s FROM pav WHERE user_id = 17;")
    assert(pulled.collect().map(_.get(0).toString).toSeq == Seq("17"))
    val keyType = pulled.schema("user_id").dataType
    val bucket = spark.range(1)
      .select(pmod(hash(lit(17).cast(keyType)), lit(64))).head().getInt(0)
    object plans extends AdaptiveSparkPlanHelper
    val filters = plans.collect(pulled.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.partitionFilters }.flatten
    assert(filters.exists {
      case EqualTo(a: AttributeReference, Literal(b, _)) =>
        a.name == "graft_bucket" && b == bucket
      case _ => false
    }, s"no graft_bucket = $bucket partition filter: $filters")
    e.sql("DROP VIEW pav;")
    e.sql("DROP STREAM pas;")
  }
}
