package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Catalyst phase times of every finished query execution (the tracker of
  * the execution that actually ran, including write commands). */
final class PlanListener extends QueryExecutionListener {
  /** (phase -> (start ms, end ms)) per execution */
  val runs = new ConcurrentLinkedQueue[Map[String, (Long, Long)]]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    runs.add(qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) })
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-layer metrics of a traced phase. Every name in `names` is reported
  * by every workload; a layer the workload does not exercise reads 0. */
object Layers {
  val selfLayers: Seq[String] = Seq("op", "sources", "streaming", "state", "view", "sql", "catalyst", "exec", "queries")

  val names: Seq[(String, String)] = Seq(
    "sources.produce_ms_p50" -> "ms", "sources.produce_ms_p99" -> "ms", "sources.backlog_max" -> "count",
    "gen.late_ms_p99" -> "ms", "gen.late_ms_max" -> "ms") ++
    Seq("streaming.view.trigger_ms_p50" -> "ms") ++
    Progress.phases.map(p => s"streaming.${p}_ms_p50" -> "ms") ++ Seq(
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "state.rows_total" -> "count", "state.memory_mb" -> "MB", "state.commit_ms_p50" -> "ms",
    "state.updates_ms_p50" -> "ms", "state.removals_ms_p50" -> "ms", "state.rows_dropped_by_watermark" -> "count",
    "view.pull_ms_p50" -> "ms", "view.maint_trigger_ms_p50" -> "ms", "view.store_mb" -> "MB", "view.store_files" -> "count",
    "ckpt.mb" -> "MB", "ckpt.files" -> "count",
    "sql.parse_ms_p50" -> "ms", "sql.plan_ms_p50" -> "ms",
    "catalyst.analysis_ms_p50" -> "ms", "catalyst.optimization_ms_p50" -> "ms", "catalyst.planning_ms_p50" -> "ms",
    "exec.jobs_per_op" -> "count", "exec.stages_per_op" -> "count", "exec.tasks_per_op" -> "count",
    "exec.task_ms_sum" -> "ms", "exec.busy_frac" -> "ratio", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.gc_ms" -> "ms", "exec.task_skew_max" -> "ratio") ++
    BatchPack.pack.map(q => s"queries.${q}_ms" -> "ms") ++
    selfLayers.map(l => s"self.${l}_ms" -> "ms") ++
    Seq("op_ms", "tail_ms", "work_s").map(m => s"trace.overhead.${m}_pct" -> "%") ++
    Seq("view.catchup_eps_local1" -> "1/s")

  def sources(ctx: Ctx, gen: GenStats, backlogMax: Long): Unit = {
    val m = ctx.layer
    m.put("sources.produce_ms_p50", Stats.median(gen.produceMs), "ms")
    m.put("sources.produce_ms_p99", Stats.pct(gen.produceMs, 99), "ms")
    m.put("sources.backlog_max", backlogMax.toDouble, "count")
    m.put("gen.late_ms_p99", Stats.pct(gen.lateMs, 99), "ms")
    m.put("gen.late_ms_max", if (gen.lateMs.isEmpty) 0.0 else gen.lateMs.max, "ms")
  }

  /** Micro-batch and state-store metrics of the traced streaming queries,
    * matched by the StreamingQuery ids returned in Started (id -> kind). */
  def streaming(ctx: Ctx, kinds: Map[String, String]): Unit = {
    val m = ctx.layer
    val all: Map[String, Seq[StreamingQueryProgress]] = kinds.keys.map(id => id -> ctx.prog.of(id)).toMap
    val busy = all.values.flatten.filter(_.numInputRows > 0).toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    kinds.groupBy(_._2).foreach { case (kind, ids) =>
      m.put(s"streaming.$kind.trigger_ms_p50",
        Stats.median(ids.keys.flatMap(all(_)).filter(_.numInputRows > 0).map(dur(_, "triggerExecution"))), "ms")
    }
    Progress.phases.foreach(ph => m.put(s"streaming.${ph}_ms_p50", Stats.median(busy.map(dur(_, ph))), "ms"))
    m.put("streaming.batches", all.values.map(_.size).sum.toDouble, "count")
    m.put("streaming.rows_per_batch_p50", Stats.median(busy.map(_.numInputRows.toDouble)), "count")
    val withState = busy.filter(_.stateOperators.nonEmpty)
    def stateSum(p: StreamingQueryProgress)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      p.stateOperators.map(f).sum.toDouble
    val last = all.values.flatMap(_.lastOption).toSeq
    m.put("state.rows_total", last.map(stateSum(_)(_.numRowsTotal)).sum, "count")
    m.put("state.memory_mb", last.map(stateSum(_)(_.memoryUsedBytes)).sum / 1048576.0, "MB")
    m.put("state.commit_ms_p50", Stats.median(withState.map(stateSum(_)(_.commitTimeMs))), "ms")
    m.put("state.updates_ms_p50", Stats.median(withState.map(stateSum(_)(_.allUpdatesTimeMs))), "ms")
    m.put("state.removals_ms_p50", Stats.median(withState.map(stateSum(_)(_.allRemovalsTimeMs))), "ms")
    m.put("state.rows_dropped_by_watermark",
      all.values.flatten.map(stateSum(_)(_.numRowsDroppedByWatermark)).sum, "count")
    ctx.stateTaskMs = all.values.flatten.map(p =>
      stateSum(p)(s => s.commitTimeMs + s.allUpdatesTimeMs + s.allRemovalsTimeMs)).sum
    val views = kinds.filter(_._2 == "view").keys.flatMap(all(_)).filter(_.numInputRows > 0)
    m.put("view.maint_trigger_ms_p50", Stats.median(views.map(dur(_, "addBatch"))), "ms")
  }

  /** Spark stage and task accounting over [fromNs, toNs]. Per-op figures
    * count the ops the benchmark tagged (pulls, queries). */
  def exec(ctx: Ctx, fromNs: Long, toNs: Long): Unit = {
    val m = ctx.layer
    val (f, t) = (fromNs / 1000000L, toNs / 1000000L)
    val tasks = ctx.exec.tasks.asScala.toSeq.filter(x => x.endMs >= f && x.endMs <= t)
    val jobs = ctx.exec.jobs.asScala.toSeq.filter(x => x._2 >= f && x._2 <= t)
    val stages = ctx.exec.stages.asScala.toSeq.filter(x => x._4 >= f && x._4 <= t)
    def tagged(op: String) = !op.startsWith("stream:") && op != "other"
    val ops = jobs.map(_._1).filter(tagged).distinct.size
    def perOp(n: Int): Double = if (ops == 0) 0.0 else n.toDouble / ops
    m.put("exec.jobs_per_op", perOp(jobs.count(j => tagged(j._1))), "count")
    m.put("exec.stages_per_op", perOp(stages.count(s => tagged(s._1))), "count")
    m.put("exec.tasks_per_op", perOp(tasks.count(x => tagged(x.op))), "count")
    val taskMs = tasks.map(_.durMs).sum.toDouble
    m.put("exec.task_ms_sum", taskMs, "ms")
    m.put("exec.busy_frac", taskMs / math.max(1.0, (t - f).toDouble * ctx.threads), "ratio")
    m.put("exec.shuffle_read_mb", tasks.map(_.shRead).sum / 1048576.0, "MB")
    m.put("exec.shuffle_write_mb", tasks.map(_.shWrite).sum / 1048576.0, "MB")
    m.put("exec.spill_mb", tasks.map(_.spill).sum / 1048576.0, "MB")
    m.put("exec.gc_ms", tasks.map(_.gcMs).sum.toDouble, "ms")
    val skew = tasks.groupBy(_.stage).values.filter(_.size > 1)
      .map(ts => ts.map(_.durMs).max / math.max(1.0, Stats.median(ts.map(_.durMs.toDouble))))
    m.put("exec.task_skew_max", if (skew.isEmpty) 0.0 else skew.max, "ratio")
  }

  /** What the round's checkpoint root and view store hold at the end. */
  def dirs(ctx: Ctx, roundDir: java.nio.file.Path): Unit = {
    val (cb, cn) = Sys.du(roundDir.resolve("ckpt"))
    val (vb, vn) = Sys.du(roundDir.resolve("views"))
    ctx.layer.put("ckpt.mb", cb / 1048576.0, "MB")
    ctx.layer.put("ckpt.files", cn.toDouble, "count")
    ctx.layer.put("view.store_mb", vb / 1048576.0, "MB")
    ctx.layer.put("view.store_files", vn.toDouble, "count")
  }

  /** Dialect frontend per pull: Parser.parse, and SqlEngine.sql minus it. */
  def frontend(ctx: Ctx, parseMs: Seq[Double], planMs: Seq[Double]): Unit = {
    ctx.layer.put("sql.parse_ms_p50", Stats.median(parseMs), "ms")
    ctx.layer.put("sql.plan_ms_p50", Stats.median(planMs), "ms")
  }

  /** Catalyst phases (phase -> (start ms, end ms)) of a frame's execution. */
  def phases(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.queryExecution.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }

  /** Op ids of the spans named `root` within [fromNs, toNs]. */
  def ops(fromNs: Long, toNs: Long, root: String): Seq[String] =
    Trace.all.filter(s => s.name == root && s.startNs >= fromNs && s.endNs <= toNs).map(_.op)

  /** Listener runs matched to the op span in which they started. Only for
    * phases where one op runs at a time: the listener cannot tell ops
    * apart otherwise. */
  def byTime(ops: Seq[Span], runs: Seq[Map[String, (Long, Long)]]): Seq[(String, Map[String, (Long, Long)])] = {
    val sorted = ops.sortBy(_.startNs).toArray
    val starts = sorted.map(_.startNs / 1000000L)
    runs.filter(_.nonEmpty).flatMap { phases =>
      val s0 = phases.values.map(_._1).min
      val i = java.util.Arrays.binarySearch(starts, s0) match { case k if k >= 0 => k; case k => -k - 2 }
      if (i >= 0 && s0 <= sorted(i).endNs / 1000000L) Some(sorted(i).op -> phases) else None
    }
  }

  /** Catalyst phases per op, summed over the op's executions: one span per
    * phase (its parent is the op's span that contains it) and each phase's
    * median over `ops`, an op without the phase counting 0. */
  def catalyst(ctx: Ctx, ops: Seq[String], runs: Seq[(String, Map[String, (Long, Long)])]): Unit = {
    val perOp = scala.collection.mutable.Map.empty[String, Map[String, Double]]
    runs.foreach { case (op, phases) =>
      phases.foreach { case (k, (a, b)) =>
        Trace.add(s"catalyst.$k", a * 1000000L, b * 1000000L, Trace.Contained, op) }
      val prev = perOp.getOrElse(op, Map.empty)
      perOp(op) = prev ++ phases.map { case (k, (a, b)) => k -> (prev.getOrElse(k, 0.0) + (b - a)) }
    }
    Seq("analysis", "optimization", "planning").foreach { k =>
      ctx.layer.put(s"catalyst.${k}_ms_p50",
        Stats.median(ops.map(o => perOp.get(o).flatMap(_.get(k)).getOrElse(0.0))), "ms")
    }
  }

  /** Self time per layer over the window; state is the store's task time
    * reported by the streaming queries. */
  def selfTimes(ctx: Ctx, fromNs: Long, toNs: Long): Unit = {
    val self = Trace.selfMsByLayer(fromNs, toNs)
    ctx.detail.put("trace.root_ms", Trace.rootMs(fromNs, toNs), "ms")
    selfLayers.foreach { l =>
      ctx.layer.put(s"self.${l}_ms", if (l == "state") ctx.stateTaskMs else self.getOrElse(l, 0.0), "ms")
    }
  }
}
