package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see run.py for the public
  * flags; the rest are passed by run.py itself or by selfcheck.py). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    t0EpochMs: Long,
    runDir: Path,
    expected: Path,
    dataDir: Path,
    smoke: Boolean,
    corrupt: Boolean,
    writeExpected: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(
      workload = get("workload"),
      seed = get("seed").toLong,
      seconds = get("seconds").toDouble,
      trace = get("trace") == "1",
      t0EpochMs = kv.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      runDir = Paths.get(get("run-dir")).toAbsolutePath,
      expected = Paths.get(get("expected")).toAbsolutePath,
      dataDir = Paths.get(get("data-dir")).toAbsolutePath,
      smoke = kv.get("smoke").contains("1"),
      corrupt = kv.get("corrupt-expected").contains("1"),
      writeExpected = kv.get("write-expected").contains("1"))
  }
}

object Stats {
  /** Linear-interpolated percentile (p in 0..100) of unsorted samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val r = (p / 100.0) * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  /** Interquartile mean: the mean of the middle half of the samples, a
    * centre as robust to outliers as the median that uses more of them. */
  def iqm(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    val q = s.length / 4
    val mid = s.slice(q, s.length - q)
    if (mid.isEmpty) 0.0 else mid.sum / mid.length
  }
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** Metric sink for one run: ordered (name -> (value, unit)). */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def all: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
}

/** Correctness and failure bookkeeping: every produce, pull, query and
  * check is one attempted operation. */
final class Outcome {
  private val attemptedN = new java.util.concurrent.atomic.AtomicLong()
  private val failedN = new java.util.concurrent.atomic.AtomicLong()
  private val notes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var correct = true
  def attempt(): Unit = attemptedN.incrementAndGet()
  def fail(note: String): Unit = { failedN.incrementAndGet(); notes.add(note); System.err.println(s"[perfbench] FAIL $note") }
  /** One correctness check: counts as attempted; a mismatch fails the run. */
  def check(ok: Boolean, what: => String): Unit = {
    attempt()
    if (!ok) { correct = false; fail(what) }
  }
  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()
  def failures: Seq[String] = notes.asScala.toSeq
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}

object Sys {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** (bytes, regular files) under `dir`, 0 when absent. */
  def du(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def nowNs: Long = System.nanoTime()
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch time in ns on the monotonic clock's scale. */
  def epochNs: Long = System.nanoTime() + epochOffsetNs

  def sleepUntilNs(t: Long): Unit = {
    var d = t - System.nanoTime()
    while (d > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(d)
      d = t - System.nanoTime()
    }
  }
}

object Session {
  /** The engine's bench session settings (graft.Bench), at `local[threads]`
    * with as many shuffle partitions, rooted inside the run directory. */
  def create(threads: Int, runDir: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
      // every micro-batch's progress is needed for per-event latency
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Point the engine's checkpoint and view roots at `dir`. Read by each
    * new graft.sql.SqlEngine. */
  def rootAt(spark: SparkSession, dir: Path): Unit = {
    spark.conf.set("spark.graft.checkpointRoot", dir.resolve("ckpt").toString)
    spark.conf.set("spark.graft.viewRoot", dir.resolve("views").toString)
  }
}
