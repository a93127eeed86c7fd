package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import IncrementalViewSpec.{bucketOf, scannedLeaves}

/** Differential soundness of bucket pruning on incremental views. A pull
  * whose predicate fixes every upsert key reads one bucket, because the
  * scan carries the stored-row invariant `graft_bucket = pmod(hash(keys),
  * buckets)` and Catalyst folds it to a constant partition filter. Here
  * every key pulled by equality must return exactly the rows the unpruned
  * answer holds for it, over the key values where hashing is easiest to
  * get wrong; and predicates that must not
  * prune (IN, OR, a cast key, a range, one key of two) must still return
  * the right rows.
  */
class ViewPruningSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", LongType),
    StructField("v", LongType), StructField("_ts", TimestampType)))

  private val buckets = 8

  /** Rows of `df` as a set, order-free. */
  private def rows(df: DataFrame): Set[Row] = df.collect().toSet

  /** The expected answer of `where` over `full`: the same predicate over
    * a plain local frame of the unpruned rows (no view scan involved). */
  private def expected(full: DataFrame, where: String): Set[Row] =
    rows(spark.createDataFrame(
      java.util.Arrays.asList(full.collect(): _*), full.schema).where(where))

  /** A key value as a SQL literal of the key's type. */
  private def sqlLit(v: Any): String = v match {
    case s: String => s"'$s'"
    case l: Long => s"CAST($l AS BIGINT)"
  }

  private def rec(k: Option[String], n: Option[Long], v: Long, ts: String): String =
    (k.map(x => s""""k":"$x"""").toSeq ++ n.map(x => s""""n":$x""") ++
      Seq(s""""v":$v""", s""""_ts":"$ts"""")).mkString("{", ",", "}")

  test("every key pulled by equality returns the unpruned answer: null, negative, long and non-ASCII keys") {
    // both serving paths: pruned parquet scans, and the driver copy
    // (filtered on the driver, no scan at all)
    Seq(false, true).foreach(driverCopy => keyDifferential(driverCopy))
  }

  private def keyDifferential(driverCopy: Boolean): Unit = {
    val e = new Engine(spark)
    if (!driverCopy) e.incViewDriverRows = 0
    e.createStream("vps", schema)
    val byK = e.df("vps").groupBy(col("k")).agg(sum(col("v")).as("total"))
    val byN = e.df("vps").groupBy(col("n")).agg(sum(col("v")).as("total"))
    e.createViewIncremental("vpkw", byK, keys = Seq("k"), buckets = buckets)
    e.createViewIncremental("vpnw", byN, keys = Seq("n"), buckets = buckets)
    val ks = Seq(None, Some("a"), Some("b"), Some("ü"), Some("日本語"),
      Some("x y"), Some(""), Some("z"))
    val ns = Seq(None, Some(0L), Some(-5L), Some(-1L), Some(Long.MaxValue),
      Some(Long.MinValue), Some(9000000000L), Some(42L))
    // three triggers that touch overlapping key sets, so whole-bucket
    // rewrites merge kept rows
    val inserted = (1 to 3).flatMap { t =>
      val touched = ks.zip(ns).zipWithIndex.filter { case (_, i) => t == 1 || i % t == 0 }
      e.insert("vps", touched.map { case ((k, n), i) =>
        rec(k, n, 10L * t + i, s"2024-01-01 00:00:0$t") }: _*)
      e.processAll()
      touched.map { case ((k, n), i) => (k, n, 10L * t + i) }
    }

    def checkEvery(view: String, key: String, values: Seq[Option[Any]],
                   keyOf: ((Option[String], Option[Long], Long)) => Option[Any]): Unit = {
      // the unpruned answer is the aggregate of what was inserted
      val full = e.pull(view)
      assert(full.collect().map(r => Option(r.get(0)) -> r.getLong(1)).toMap ==
        inserted.groupMapReduce(keyOf)(_._3)(_ + _), view)
      values.foreach {
        case None =>
          val where = s"$key IS NULL"
          assert(rows(e.pull(view, where)) == expected(full, where), s"$view $where")
        case Some(v) =>
          val where = s"$key = ${sqlLit(v)}"
          val pulled = e.pull(view, where)
          assert(rows(pulled) == expected(full, where), s"$view $where")
          assert(rows(pulled).size == 1, s"$view $where")
          if (driverCopy) assert(pulled.queryExecution.executedPlan
            .isInstanceOf[LocalTableScanExec], s"$view $where was not served from the driver")
          else assert(scannedLeaves(pulled)._1 == Set(bucketOf(spark, buckets, lit(v))),
            s"$view $where was not pruned")
      }
      // null-safe equality with a NULL literal: correct, pruned or not
      val nullSafe = s"$key <=> NULL"
      assert(rows(e.pull(view, nullSafe)) == expected(full, nullSafe), s"$view $nullSafe")
    }
    checkEvery("vpkw", "k", ks, _._1)
    checkEvery("vpnw", "n", ns, _._2)

    // predicates that fix no single bucket still return the right rows
    val unprunable = Seq(
      "vpkw" -> "k IN ('a', 'ü', 'z')", "vpkw" -> "k = 'a' OR k = '日本語'",
      "vpkw" -> "k = 'a' OR total > 30", "vpnw" -> "CAST(n AS STRING) = '-5'",
      "vpnw" -> "n > 0", "vpnw" -> "n BETWEEN -5 AND 42")
    unprunable.foreach { case (view, where) =>
      val full = e.pull(view)
      val want = expected(full, where)
      assert(want.nonEmpty, s"$view $where selects nothing")
      assert(rows(e.pull(view, where)) == want, s"$view $where")
    }
    Seq("vpkw", "vpnw").foreach(e.terminate)
    e.dropStream("vps")
  }

  test("a two-key TUMBLE view prunes when both keys are fixed and answers one key alone whole") {
    val e = new graft.sql.SqlEngine(spark)
    e.engine.incViewDriverRows = 0 // no driver copy: the key pulls scan parquet
    val (s, v) = ("tps", "tpv")
    e.sql(s"CREATE STREAM $s (event_type STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql(s"""CREATE VIEW $v AS SELECT event_type, SUM(v) AS total
              FROM TUMBLE($s, INTERVAL 1 HOUR) GROUP BY event_type;""")
    val types = Seq("click", "view", "ünï", "")
    (0 to 2).foreach { t =>
      types.zipWithIndex.foreach { case (et, i) =>
        e.sql(s"INSERT INTO $s (event_type, v, _ts) VALUES " +
          s"('$et', ${t * 10 + i}, '2024-01-01 0${(t + i) % 4}:10:00');")
      }
      e.sql(s"INSERT INTO $s (v, _ts) VALUES ($t, '2024-01-01 01:30:00');")
      e.engine.processAll()
    }
    val full = e.batch(s"SELECT event_type, total, window_start FROM $v;")
    val fullRows = full.collect()
    assert(fullRows.length > types.size, fullRows.toSeq.toString)
    fullRows.foreach { r =>
      val ws = r.getAs[java.sql.Timestamp]("window_start").toString.stripSuffix(".0")
      val et = Option(r.getString(0))
      // the dialect's `=` is null-safe: NULL = NULL holds
      val cond = s"event_type = ${et.fold("NULL")(x => s"'$x'")} " +
        s"AND window_start = TIMESTAMP '$ws'"
      val pulled = e.batch(s"SELECT event_type, total, window_start FROM $v WHERE $cond;")
      assert(rows(pulled) == Set(r), cond)
      // the dialect serves 64 buckets; a NULL key plans as IS NULL,
      // which fixes no literal, so only non-null keys must prune
      if (et.isDefined) assert(scannedLeaves(pulled)._1 == Set(bucketOf(spark, 64,
        lit(et.get), expr(s"TIMESTAMP '$ws'"))), s"$cond was not pruned")
      // one key of two: every bucket may hold it, and the answer is whole
      val oneKey = s"window_start = TIMESTAMP '$ws'"
      assert(rows(e.batch(s"SELECT event_type, total, window_start FROM $v WHERE $oneKey;")) ==
        expected(full, oneKey), oneKey)
    }
    e.sql(s"DROP VIEW $v;")
    e.sql(s"DROP STREAM $s;")
  }
}
