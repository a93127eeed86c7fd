package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State shared by a run's phases. */
final class Ctx(val args: Args) {
  var threads: Int = Sys.cores
  var spark: SparkSession = Session.create(threads, args.runDir)
  val outcome = new Outcome
  /** gated end-to-end metrics (BENCHMARK.json end_to_end) */
  val e2e = new Metrics
  /** the workload's own named metrics, printed on the detail line */
  val detail = new Metrics
  /** per-layer metrics of the traced phase */
  val layer = new Metrics
  val exec = new ExecListener
  val prog = new ProgressListener
  val plans = new PlanListener
  /** (op id, Catalyst phases) of executions the benchmark ran itself */
  val opPlans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, (Long, Long)])]()
  var stateTaskMs = 0.0
  /** checksums seen, when writing the expected file */
  val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private var timedNs = -1L
  private var excludedNs = 0L
  private val ids = new java.util.concurrent.atomic.AtomicLong()

  def nextId(): Long = ids.incrementAndGet()
  /** Progress note on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(Sys.epochNs / 1e6 - args.t0EpochMs) / 1000}%7.2fs] $msg")
  def roundDir(tag: String): Path = args.runDir.resolve(s"round-$tag")

  /** The timed phase begins: everything before it is set-up. */
  def markTimed(atEpochNs: Long = Sys.epochNs): Unit = if (timedNs < 0) timedNs = atEpochNs
  /** Take `ns` of work before the timed phase out of set-up time. */
  def notSetup(ns: Long): Unit = excludedNs += ns
  def setupS: Double =
    ((if (timedNs < 0) Sys.epochNs else timedNs) - args.t0EpochMs * 1000000L - excludedNs) / 1e9

  /** Heap in use after full collections, in MiB. */
  def heapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ => System.gc(); Thread.sleep(50); mem.getHeapMemoryUsage.getUsed }.min / 1048576.0
  }

  /** Run `f` with tracing on and every listener attached. */
  def traced[A](f: => A): A = {
    spark.sparkContext.addSparkListener(exec)
    spark.streams.addListener(prog)
    spark.listenerManager.register(plans)
    Trace.on = true
    try f
    finally {
      Trace.on = false
      spark.streams.removeListener(prog)
      spark.listenerManager.unregister(plans)
      spark.sparkContext.removeSparkListener(exec)
    }
  }

  /** Tracing overhead in percent: the traced phase's end-to-end numbers
    * against the mean of the untraced phases run before and after it, so
    * the JIT warming up across phases does not read as overhead. */
  def overhead(traced: Map[String, Double], before: Map[String, Double], after: Map[String, Double]): Unit =
    traced.foreach { case (k, v) =>
      layer.put(s"trace.overhead.${k}_pct", (v / ((before(k) + after(k)) / 2) - 1) * 100, "%")
    }

  /** Length of the timed phase; a traced run shortens its untraced phases
    * around the traced one to half, to stay within its time limit. */
  def untracedSeconds: Double = if (args.trace) args.seconds / 2 else args.seconds

  /** Replace the session with one at local[n]. */
  def restart(n: Int): Unit = {
    spark.stop()
    threads = n
    spark = Session.create(n, args.runDir)
  }
}

/** One benchmark run: `--workload view_serve|batch_pack`.
  * Prints a detail line, then the result line as the last line. */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "view_serve" -> ViewServe.run,
    "batch_pack" -> BatchPack.run)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val run = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    Files.createDirectories(args.runDir)
    val ctx = new Ctx(args)
    ctx.log("session up")
    try run(ctx)
    catch {
      case e: Throwable =>
        ctx.outcome.check(ok = false, s"run aborted: $e")
        e.printStackTrace()
    }
    val setupS = ctx.setupS
    ctx.e2e.put("setup_s", setupS, "s")
    val o = ctx.outcome
    val errorRate = if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted
    ctx.detail.put("setup_s", setupS, "s")
    ctx.detail.put("error_rate", errorRate, "ratio")
    ctx.detail.put("peak_rss_mb", Sys.peakRssMb(), "MB")
    if (args.trace) {
      Trace.write(args.runDir.resolve("spans.jsonl"))
      Layers.names.foreach { case (n, u) => if (ctx.layer.get(n).isEmpty) ctx.layer.put(n, 0.0, u) }
    }
    ctx.log("measured")
    try ctx.spark.stop() catch { case _: Throwable => () }
    ctx.log("session stopped")
    val metrics = if (args.trace) Layers.names.map { case (n, u) => (n, ctx.layer.get(n).get, u) }
      else Seq("setup_s", "op_ms", "tail_ms", "work_s", "heap_retained_mb")
        .flatMap(n => ctx.e2e.all.find(_._1 == n))
    println(Json.obj(Seq("detail" -> Json.str(args.workload), "correct" -> o.correct.toString,
      "attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
      "failures" -> o.failures.take(5).map(Json.str).mkString("[", ",", "]"),
      "metrics" -> Json.metrics(ctx.detail.all ++ (if (args.trace) ctx.e2e.all else Nil)))))
    println(Json.obj(Seq("correct" -> (o.correct && o.failed == 0).toString,
      "attempted" -> math.max(1L, o.attempted).toString, "failed" -> o.failed.toString,
      "metrics" -> Json.metrics(metrics))))
    System.out.flush()
    // streaming and listener threads are not all daemons; end the JVM here
    sys.exit(0)
  }
}
