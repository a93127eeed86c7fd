package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One traced interval. Times are epoch ns; `parent` is 0 for a root. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, op: String) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = math.max(0L, endNs - startNs)
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer, plus spans derived from Spark's listeners. In memory until the
  * run ends; nothing is recorded while tracing is off. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[(Long, String)]] { override def initialValue() = Nil }

  /** Parent of a listener span whose caller is not known when it is
    * recorded: resolved by `resolved` to the innermost span of its op
    * that contains it. */
  val Contained: Long = -1L
  /** Listener times have ms resolution: containment allows this slack. */
  private val slackNs = 1000000L

  /** A span around `f`. A root span with no op id is an op of its own. */
  def span[A](name: String, op: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val opId = Option(op).orElse(outer.headOption.map(_._2)).getOrElse(s"$name:$id")
      stack.set((id, opId) :: outer)
      val t0 = Sys.epochNs
      try f
      finally {
        stack.set(outer)
        spans.add(Span(id, name, t0, Sys.epochNs, parent, opId))
      }
    }

  /** Record a span measured elsewhere (listener events, which are only
    * attached while tracing, or phases matched after the fact). */
  def add(name: String, startNs: Long, endNs: Long, parent: Long, op: String): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, startNs, endNs, parent, op))
    id
  }

  /** Every span, with each `Contained` parent resolved to the shortest
    * span of the same op that contains it (0 when none does). */
  def resolved: Seq[Span] = {
    val all = spans.asScala.toSeq
    val frames = all.filter(_.parent != Contained).groupBy(_.op)
    all.map { s =>
      if (s.parent != Contained) s
      else {
        val in = frames.getOrElse(s.op, Nil).filter(f =>
          f.startNs <= s.startNs + slackNs && f.endNs >= s.endNs - slackNs)
        s.copy(parent = if (in.isEmpty) 0L else in.minBy(f => (f.durNs, f.id)).id)
      }
    }
  }

  /** Spans whose root span lies within [from, to], with parents
    * resolved: a window takes or leaves whole trees, so a micro-batch that
    * straddles its edge does not leave its stages behind. */
  private def within(from: Long, to: Long): Seq[Span] = {
    val rs = resolved
    val byId = rs.map(s => s.id -> s).toMap
    def root(s: Span): Span = byId.get(s.parent).map(root).getOrElse(s)
    rs.filter { s => val r = root(s); r.startNs >= from && r.endNs <= to }
  }

  /** Self time per layer in ms over the trees within [from, to]. Each op's
    * time is split among its spans: every instant goes to the shortest
    * span of the op open at that instant, which is the innermost one when
    * spans nest, so a stage inside `exec.write` counts once, under exec.
    * Per op the self times add up to the time some span of the op is open;
    * ops that run at the same time (streaming queries beside pulls) each
    * count in full. */
  def selfMsByLayer(from: Long, to: Long): Map[String, Double] = {
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    within(from, to).filter(s => s.endNs > s.startNs).groupBy(_.op).values.foreach { ss =>
      val ev = ss.flatMap(s => Seq((s.startNs, 1, s), (s.endNs, 0, s))).sortBy(e => (e._1, e._2))
      val open = new java.util.TreeSet[Span](Ordering.by((s: Span) => (s.durNs, s.id)))
      var t = ev.head._1
      ev.foreach { case (at, isStart, s) =>
        if (!open.isEmpty) self(open.first.layer) += (at - t) / 1e6
        t = at
        if (isStart == 1) open.add(s) else open.remove(s)
      }
    }
    self.toMap
  }

  /** Time in ms that the root spans within [from, to] cover: what the self
    * times of `selfMsByLayer` split, up to listener slack. */
  def rootMs(from: Long, to: Long): Double =
    within(from, to).filter(_.parent == 0L).map(_.durNs).sum / 1e6

  def all: Seq[Span] = spans.asScala.toSeq

  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val lines = resolved.sortBy(_.startNs).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "parent" -> s.parent.toString, "op" -> Option(s.op).map(Json.str).getOrElse("null")))
    }
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark job/stage/task accounting, attributed to the benchmark op whose
  * id the submitting thread set as the `perfbench.op` local property, or
  * to the streaming query that ran the job. */
final class ExecListener extends SparkListener {
  import ExecListener.Task
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val jobs = new ConcurrentLinkedQueue[(String, Long)]()   // (op, submit ms)
  val stages = new ConcurrentLinkedQueue[(String, Int, Long, Long)]() // (op, id, start, end)
  val tasks = new ConcurrentLinkedQueue[Task]()

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(ExecListener.OpKey))
      .orElse(Option(p.getProperty("sql.streaming.queryId")).map("stream:" + _))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobs.add((op, e.time))
    e.stageIds.foreach(id => stageOp.put(id, op))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val op = Option(stageOp.get(i.stageId)).getOrElse("other")
    val (s, t) = (i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
    stages.add((op, i.stageId, s, t))
    Trace.add("exec.stage", s * 1000000L, t * 1000000L, Trace.Contained, op)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(
      Option(stageOp.get(e.stageId)).getOrElse("other"), e.stageId, e.taskInfo.finishTime,
      e.taskInfo.duration, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

object ExecListener {
  final case class Task(op: String, stage: Int, endMs: Long, durMs: Long, gcMs: Long,
                        shRead: Long, shWrite: Long, spill: Long)
  val OpKey = "perfbench.op"
}

/** Streaming progress by StreamingQuery id (view-maintenance queries have
  * no queryName, so the id returned in Started is the only handle). */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.computeIfAbsent(p.id.toString, _ => new ConcurrentLinkedQueue()).add(p)
    val (s, end) = Progress.window(p)
    val dm = p.durationMs.asScala
    val root = Trace.add("streaming.trigger", s * 1000000L, end * 1000000L, 0L, "stream:" + p.id)
    // phases in the order MicroBatchExecution runs them; Spark reports
    // only their lengths, so they are laid end to end from the start
    var t = s * 1000000L
    Progress.phases.foreach { ph =>
      dm.get(ph).foreach { d =>
        val n = if (ph == "addBatch") "streaming.addBatch" else s"streaming.$ph"
        Trace.add(n, t, t + d.longValue * 1000000L, root, "stream:" + p.id)
        t += d.longValue * 1000000L
      }
    }
  }
  def of(id: String): Seq[StreamingQueryProgress] =
    Option(progress.get(id)).map(_.asScala.toSeq.sortBy(_.batchId)).getOrElse(Nil)
}

object Progress {
  val phases = Seq("latestOffset", "queryPlanning", "getBatch", "addBatch", "walCommit", "commitOffsets")

  /** (start, end) of a micro-batch in epoch ms. */
  def window(p: StreamingQueryProgress): (Long, Long) = {
    val s = java.time.Instant.parse(p.timestamp).toEpochMilli
    (s, s + p.batchDuration)
  }

  /** Committed end offset of source `i` after this batch (-1 if none). */
  def endOffset(p: StreamingQueryProgress, i: Int): Long =
    if (i >= p.sources.length || p.sources(i).endOffset == null) -1L
    else p.sources(i).endOffset.trim.toLong

  /** For each event offset in `offsets` (ascending), the end time (epoch
    * ms) of the first batch whose committed end offset of source `src`
    * covers it; NaN when no batch covers it. */
  def coverTimes(ps: Seq[StreamingQueryProgress], src: Int, offsets: Seq[Long]): Seq[Double] = {
    val bs = ps.sortBy(_.batchId).map(p => (endOffset(p, src), window(p)._2.toDouble))
    // running max: offsets only move forward
    val ends = bs.map(_._1).scanLeft(-1L)(math.max).tail.toArray
    val times = bs.map(_._2).toArray
    offsets.map { o =>
      val i = lowerBound(ends, o + 1)
      if (i < ends.length) times(i) else Double.NaN
    }
  }

  private def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

}
