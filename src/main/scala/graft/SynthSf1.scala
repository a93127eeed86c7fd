package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 synthesizer (VERDICT r8 #7): deterministically scales the driver's
  * sf0.1 tables 10× — lineitem + orders (consistent l_orderkey/o_orderkey
  * offsets, so join fanout scales honestly), events (offset event/user
  * ids: 10× distinct users, each with an original user's history), and
  * documents (offset ids, replica-tagged text, n_chars recomputed to keep
  * the n_chars = length(text) invariant) — and copies the dimension
  * tables verbatim. Output layout matches the driver's testdata (one
  * `<table>.parquet` FILE per table), so graft.Verify and the DuckDB
  * oracle harness run on it unchanged. Correctness at sf1 is a
  * CROSS-CHECK a decade above the bench point: AQE/skew decisions change
  * with real row counts, and the oracle recomputes every query on the
  * same scaled rows, so any plan-level wrong-at-scale behavior surfaces
  * as a hash mismatch.
  *
  * Run: `sbt "runMain graft.SynthSf1 /tmp/graft_sf1"`
  */
object SynthSf1 {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val srcDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local(32)
    import spark.implicits._

    def x10(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until 10).map(i => f(df, i)).reduce(_ unionAll _)

    /** Write as ONE `<name>.parquet` file (the driver's layout). */
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/.tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(conf)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part written for $name"))
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/$name.parquet")
      fs.delete(dst, false)
      require(fs.rename(part, dst), s"rename failed for $name")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      System.err.println(s"[synth] $name written")
    }

    Seq("region", "nation", "customer", "supplier", "part", "embeddings")
      .foreach(t => writeOne(spark.read.parquet(s"$srcDir/$t.parquet"), t))

    val orders = spark.read.parquet(s"$srcDir/orders.parquet")
    writeOne(x10(orders)((df, i) =>
      df.withColumn("o_orderkey", $"o_orderkey" + lit(i * 1000000000L))), "orders")

    val lineitem = spark.read.parquet(s"$srcDir/lineitem.parquet")
    writeOne(x10(lineitem)((df, i) =>
      df.withColumn("l_orderkey", $"l_orderkey" + lit(i * 1000000000L))), "lineitem")

    // events via Tables.load: the two-generation ts normalization runs
    // once here; the output is native timestamp, which Tables.load and
    // the oracle's ts::TIMESTAMP wrapper both accept
    val events = Tables.load(spark, srcDir, "events")
    writeOne(x10(events)((df, i) =>
      df.withColumn("event_id", $"event_id" + lit(i * 1000000000L))
        .withColumn("user_id", $"user_id" + lit(i * 10000000L))), "events")

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    writeOne(x10(docs)((df, i) =>
      df.withColumn("doc_id", $"doc_id" + lit(i * 10000000L))
        .withColumn("text", concat($"text", lit(s" probe$i")))
        .withColumn("n_chars", length($"text"))), // text already perturbed here
      "documents")

    spark.stop()
  }
}
