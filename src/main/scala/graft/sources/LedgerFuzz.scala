package graft.sources

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Sessions
import graft.streaming.Engine

/** LEDGER-TRANSPORT schedule fuzzer: generative crash/resume
  * certification for the offset-tracked broker path. LedgerTransportSpec
  * pins single hand-written schedules (one engine restart; one broker
  * restart; one pause/resume); this draws random COMPOSITIONS — produce
  * bursts interleaved with drains, engine kills with records produced
  * while the consumer is down, broker restarts (log reloaded from its
  * file, consumer reconnected on a fresh port), optional wire-format
  * encoding on the source — and asserts the one invariant that defines
  * the transport: the CSAS file sink ends up with EXACTLY the transform
  * of every produced record, once each — no loss across kills, no
  * duplication across broker replays.
  *
  * The referee is trivially store-free: the same stateless transform
  * applied to a batch DataFrame of the produced records (the transform is
  * shared by design — the certified surface is the transport's
  * exactly-once delivery, not column arithmetic).
  *
  * Reference contract: resumable connector tasks persist per-task
  * progress and resume where they left off
  * (hstream-io/src/HStream/IO/Worker.hs:71-83); the broker half mirrors
  * a durable log whose acked records survive restart (Ledger.scala
  * scaladoc).
  *
  * In-CI: LedgerFuzzSpec (pinned seeds, small n — each scenario pays
  * real query starts/kills). Offline roaming:
  * `sbt "runMain graft.sources.LedgerFuzz <seedCsv> [n]"`.
  */
object LedgerFuzz {

  final case class Report(name: String, ok: Boolean, detail: String,
                          restarts: Int = 0, brokerRestarts: Int = 0,
                          whileDown: Int = 0)

  private sealed trait Step
  /** Produce `n` records; `drain` = processAll afterwards (an offset
    * commit boundary — the next kill must not lose or repeat them). */
  private final case class Produce(n: Int, drain: Boolean) extends Step
  /** Kill the engine (optionally draining first), produce `whileDown`
    * records while no consumer exists, optionally restart the broker
    * too (log reloads from file, port changes), then resume. */
  private final case class Restart(drainBefore: Boolean, whileDown: Int,
                                   brokerToo: Boolean) extends Step

  private final case class Scenario(name: String, transform: Int,
                                    wire: Boolean, steps: Vector[Step],
                                    records: Vector[(String, Long)])

  private def mix(seed: Long, i: Int): Random = {
    val m1 = scala.util.hashing.MurmurHash3.productHash((seed, i, 47))
    val m2 = scala.util.hashing.MurmurHash3.productHash((i, seed, 0x9e3779b9L))
    new Random((m1.toLong << 32) | (m2.toLong & 0xffffffffL))
  }

  private def genScenario(seed: Long, i: Int): Scenario = {
    val r = mix(seed, i)
    val keys = Vector("a", "b", "c", "d", "e")
    val nSteps = 3 + r.nextInt(3)
    // at least one restart per scenario (structural non-vacuity), and at
    // least one with records produced while the consumer is down
    val steps = Vector.tabulate(nSteps) { j =>
      if (j == nSteps - 2 || r.nextInt(3) == 0)
        Restart(drainBefore = r.nextBoolean(),
          whileDown = 1 + r.nextInt(4),
          brokerToo = r.nextInt(3) == 0)
      else Produce(1 + r.nextInt(6), drain = r.nextBoolean())
    }
    val total = steps.map {
      case Produce(n, _) => n
      case Restart(_, w, _) => w
    }.sum
    val records = Vector.tabulate(total)(j =>
      (keys(r.nextInt(keys.size)), r.nextInt(1000).toLong - 500))
    Scenario(f"led_s${seed}_$i%02d", transform = r.nextInt(3),
      wire = r.nextBoolean(), steps = steps, records = records)
  }

  private val srcSchema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType),
    StructField("_ts", TimestampType)))
  private val tgtSchema = StructType(Seq(
    StructField("k", StringType), StructField("x", LongType)))

  /** The scenario's stateless CSAS transform (shared with the referee). */
  private def transform(id: Int, df: DataFrame): DataFrame = id match {
    case 0 => df.select(col("k"), (col("v") * 2).as("x"))
    case 1 => df.filter(pmod(col("v") + 500, lit(3)) =!= 0)
      .select(col("k"), (col("v") - 1).as("x"))
    case _ => df.select(concat(col("k"), lit("!")).as("k"),
      (col("v") + 7L).as("x"))
  }

  private def payload(k: String, v: Long, idx: Int): String = {
    val ts = f"2024-01-01 00:${(idx / 60) % 60}%02d:${idx % 60}%02d"
    s"""{"k":"$k","v":$v,"_ts":"$ts"}"""
  }

  def runOne(spark: SparkSession, sc: Scenario): Report = {
    val root = Files.createTempDirectory("graft_ledgerfuzz_")
    val dataFile = root.resolve("log")
    val tgtDir = root.resolve("tgt").toString
    val ckptRoot = root.resolve("ckpt").toString
    var broker = new LedgerBroker(dataFile)
    var port = broker.start()
    val prevCkpt = spark.conf.getOption("spark.graft.checkpointRoot")
    spark.conf.set("spark.graft.checkpointRoot", ckptRoot)
    var restarts = 0; var brokerRestarts = 0; var whileDown = 0
    var engine: Engine = null
    try {
      def mkEngine(): Engine = {
        val e = new Engine(spark)
        e.createLedgerStream("lsrc", "localhost", port, srcSchema,
          wire = sc.wire)
        e.createFileStream("ltgt", tgtDir, tgtSchema)
        e.createStreamAs("ltgt", transform(sc.transform, e.df("lsrc")))
        e
      }
      var produced = 0
      def produceNext(n: Int): Unit = (0 until n).foreach { _ =>
        val (k, v) = sc.records(produced)
        val line =
          // the extended-JSON shapes WireFormat.encodeValue emits for
          // STRING/LONG/TIMESTAMP (UTC session; XXX renders Z)
          if (sc.wire) s"""{"k":"$k","v":{"$$numberLong":"$v"},""" +
            s""""_ts":{"$$timestamp":"${payloadTs(produced).replace(' ', 'T')}.000000Z"}}"""
          else payload(k, v, produced)
        LedgerClient.produce("localhost", port, line)
        produced += 1
      }

      engine = mkEngine()
      sc.steps.foreach {
        case Produce(n, drain) =>
          produceNext(n)
          if (drain) engine.processAll()
        case Restart(drainBefore, down, brokerToo) =>
          if (drainBefore) engine.processAll()
          engine.terminate("ltgt")
          if (brokerToo) {
            broker.stop()
            broker = new LedgerBroker(dataFile) // reload acked log from disk
            port = broker.start()               // fresh port, same offsets
            brokerRestarts += 1
          }
          produceNext(down) // consumer is down; broker must hold these
          whileDown += down
          engine = mkEngine()
          restarts += 1
      }
      engine.processAll()
      engine.terminate("ltgt")

      import spark.implicits._
      val producedDf = sc.records.take(produced)
        .toDF("k", "v").withColumn("_ts", lit(null).cast(TimestampType))
      val want = transform(sc.transform, producedDf)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      val got = spark.read.schema(tgtSchema).json(tgtDir)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      if (got != want)
        Report(sc.name, ok = false,
          s"sink multiset diverged:\n  want=${want.mkString(",")}\n" +
            s"   got=${got.mkString(",")}",
          restarts, brokerRestarts, whileDown)
      else Report(sc.name, ok = true, "", restarts, brokerRestarts, whileDown)
    } catch {
      case e: Throwable =>
        Report(sc.name, ok = false,
          s"EXEC ${e.getClass.getSimpleName}: ${e.getMessage}",
          restarts, brokerRestarts, whileDown)
    } finally {
      try if (engine != null) engine.terminate("ltgt") catch { case _: Exception => () }
      broker.stop()
      prevCkpt match {
        case Some(v) => spark.conf.set("spark.graft.checkpointRoot", v)
        case None => spark.conf.unset("spark.graft.checkpointRoot")
      }
      deleteRec(root.toFile)
    }
  }

  private def payloadTs(idx: Int): String =
    f"2024-01-01 00:${(idx / 60) % 60}%02d:${idx % 60}%02d"

  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(deleteRec)
    f.delete(); ()
  }

  def run(spark: SparkSession, seed: Long, n: Int): Seq[Report] =
    (0 until n).map(i => runOne(spark, genScenario(seed, i)))

  /** Offline roaming: `runMain graft.sources.LedgerFuzz <seedCsv> [n]`. */
  def main(args: Array[String]): Unit = {
    val seeds = args.headOption.getOrElse("1").split(",").map(_.trim.toLong)
    val n = if (args.length > 1) args(1).toInt else 6
    val spark = Sessions.local(Sessions.cpus(8))
    var ok = 0; var fail = 0; var rst = 0; var brst = 0; var down = 0
    seeds.foreach { s =>
      run(spark, s, n).foreach { r =>
        if (r.ok) {
          ok += 1; rst += r.restarts; brst += r.brokerRestarts
          down += r.whileDown
          System.err.println(s"[led] ok   ${r.name} restarts=${r.restarts}" +
            s" broker=${r.brokerRestarts} whileDown=${r.whileDown}")
        } else { fail += 1; System.err.println(s"[led] FAIL ${r.name}: ${r.detail}") }
      }
    }
    println(s"""{"metric":"ledgerfuzz","ok":$ok,"fail":$fail,""" +
      s""""restarts":$rst,"broker_restarts":$brst,"while_down":$down,""" +
      s""""seeds":"${seeds.mkString(",")}"}""")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
