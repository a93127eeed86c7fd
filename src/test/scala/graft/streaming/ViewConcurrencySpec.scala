package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** TRUE-concurrency view races (r14 VERDICT #5): the r14 ViewFuzz race
  * tier fires its referee pull synchronously INSIDE the maintenance seam
  * (same thread), which certifies visibility ORDER but not thread-safety
  * of the manifest flip against concurrent readers. Here N reader threads
  * pull CONTINUOUSLY while maintenance triggers run — the
  * SignatureStoreSpec treatment applied to incremental views.
  *
  * The invariant: every pull must observe ONE consistent prefix state.
  * Key j accrues v = j+1 per batch, so after k batches total(kj) must be
  * k·(j+1) for a SINGLE k across ALL keys — a torn read (manifest flip
  * observed halfway, or a bucket served from generation k and another
  * from k') shows mixed k and fails the referee. Batches may coalesce
  * (state jumps i→j), which the prefix-state referee accepts by
  * construction. */
class ViewConcurrencySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("_ts", TimestampType)))

  private val nKeys = 4
  private val nBatches = 12
  private val nReaders = 4

  private def rec(k: String, v: Long, i: Int) =
    f"""{"k":"$k","v":$v,"_ts":"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"}"""

  /** Observed (key → total) must equal the state after SOME batch count. */
  private def prefixK(m: Map[String, Long]): Option[Int] = {
    if (m.isEmpty) return Some(0)
    if (m.size != nKeys) return None
    val k = m.get("k0").map(_.toInt).getOrElse(return None)
    if ((0 until nKeys).forall(j => m.get(s"k$j").contains(k.toLong * (j + 1))))
      Some(k)
    else None
  }

  private def runRace(mode: String, driverCopy: Boolean = true): Unit = {
    val e = new Engine(spark)
    if (!driverCopy) e.incViewDriverRows = 0
    val stream = s"cr_$mode"
    val view = s"crv_$mode"
    e.createStream(stream, schema)
    val plan = e.df(stream).groupBy(col("k")).agg(sum(col("v")).as("total"))
    e.createViewIncremental(view, plan, Seq("k"), buckets = 8)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    val readers = (0 until nReaders).map { r =>
      new Thread(() => {
        // half the readers pull with a value predicate, half unfiltered —
        // both race the same flips
        val where = if (r % 2 == 0) "true" else "total >= 0"
        while (!stop.get()) {
          try {
            val m = e.pull(view, where).collect()
              .map(row => row.getString(0) -> row.getLong(1)).toMap
            observed.add(m)
          } catch { case t: Throwable => errors.add(t); stop.set(true) }
        }
      }, s"view-race-reader-$r")
    }
    readers.foreach(_.start())
    var finalPull = Map.empty[String, Long]
    try {
      for (i <- 1 to nBatches) {
        e.insert(stream,
          (0 until nKeys).map(j => rec(s"k$j", j + 1, i)): _*)
        e.processAll()
      }
      stop.set(true)
      readers.foreach(_.join(30000))
      // before terminate: a terminated view stops SERVING (Engine:584)
      finalPull = e.pull(view).collect()
        .map(row => row.getString(0) -> row.getLong(1)).toMap
    } finally {
      stop.set(true)
      readers.foreach(_.join(30000))
      e.terminate(view)
    }

    assert(errors.isEmpty, s"[$mode] reader threads crashed: " +
      errors.toArray.take(3).mkString("; "))
    val obs = scala.jdk.CollectionConverters.IteratorHasAsScala(
      observed.iterator()).asScala.toVector
    assert(obs.size >= 20, s"[$mode] only ${obs.size} pulls completed — " +
      "race window too small to be meaningful")
    val ks = obs.map(m => m -> prefixK(m))
    val torn = ks.collect { case (m, None) => m }
    assert(torn.isEmpty, s"[$mode] TORN pull state(s): ${torn.take(3)}")
    val distinct = ks.flatMap(_._2).distinct
    assert(distinct.size >= 3, s"[$mode] readers only ever saw states " +
      s"$distinct — non-vacuity bar is 3 distinct prefix states")
    // the final state must have been reachable (the last batch landed)
    assert(prefixK(finalPull).contains(nBatches), s"[$mode] final $finalPull")
  }

  test("whole-bucket upserts: N reader threads pull consistent prefix states mid-flip") {
    runRace("wb")
  }

  test("whole-bucket upserts served from parquet: readers pull consistent prefix states mid-flip") {
    // no driver copy: the readers scan the recorded files of each generation
    runRace("wbp", driverCopy = false)
  }
}
