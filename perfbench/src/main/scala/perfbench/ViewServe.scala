package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery

import graft.sql.{Parser, SqlEngine}

/** view_serve: one ledger stream feeds an incremental GROUP BY view and a
  * TUMBLE view while an open-loop generator appends Zipf-skewed keys and
  * one closed-loop client sends dialect pull queries. */
object ViewServe {
  final case class Cfg(backlog: Int, rate: Double, users: Int, zipf: Double, scanEvery: Int)
  val full = Cfg(backlog = 5000, rate = 25, users = 500, zipf = 1.1, scanEvery = 5)
  val smoke = Cfg(backlog = 300, rate = 25, users = 50, zipf = 1.1, scanEvery = 5)

  val views: Seq[(String, String)] = Seq(
    "vu" -> "SELECT user_id, COUNT(*) AS c, SUM(value) AS s FROM {s} GROUP BY user_id",
    "vt" -> "SELECT event_type, COUNT(*) AS c, SUM(value) AS s FROM TUMBLE({s}, INTERVAL 2 SECOND) GROUP BY event_type")

  /** One pull op's measurements (ms). */
  final case class Pull(totalMs: Double, parseMs: Double, sqlMs: Double)

  final case class Round(
      catchupS: Seq[Double], pulls: Seq[Pull], freshMs: Seq[Double], gen: GenStats, backlogMax: Long,
      directPullMs: Seq[Double], viewIds: Map[String, String], fromNs: Long, toNs: Long)

  /** A ledger stream `vs_<tag>` with its backlog, and both views started
    * over it and caught up. `catchupS` runs from starting the views until
    * both have committed the backlog's end. */
  final class Feed(ctx: Ctx, tag: String, cfg: Cfg) {
    private val dir = ctx.roundDir(tag)
    Session.rootAt(ctx.spark, dir)
    val rnd = new SplittableRandom(ctx.args.seed * 7919L + tag.hashCode)
    val zipf = new Zipf(cfg.users, cfg.zipf)
    val e = new SqlEngine(ctx.spark)
    val log = new StreamLog(s"vs_$tag", dir.resolve("ledger/v.log"))
    def event(id: Long, due: Long): String = Events.payload(id, zipf.next(rnd),
      Events.types(rnd.nextInt(Events.types.length)), rnd.nextInt(1000), due)
    private val now = Sys.epochNs
    private val period = (1e9 / cfg.rate).toLong
    log.writeBacklog((0 until cfg.backlog).map(i => event(i, now - (cfg.backlog - i) * period)))
    val broker = new Streams.Broker(log)
    val names: Map[String, String] = views.map { case (v, _) => v -> s"${v}_$tag" }.toMap
    var started = Seq.empty[(String, StreamingQuery)]
    private var closed = false
    val catchupS: Double =
      try {
        Streams.createLedgerStream(e, log.name, broker.port)
        val t0 = Sys.epochNs
        started = views.map { case (v, sel) =>
          v -> Streams.start(e, s"CREATE VIEW ${names(v)} AS ${sel.replace("{s}", log.name)};")
        }
        ctx.outcome.check(Streams.waitCommitted(started.map(x => (x._2, 0, log.backlog.toLong)), 120000),
          s"$tag: views did not absorb the backlog")
        (started.map(x => Streams.coverMs(x._2, 0, log.backlog - 1)).max * 1e6 - t0) / 1e9
      } catch { case ex: Throwable => close(); throw ex }

    def close(): Unit = if (!closed) { closed = true; started.foreach(_._2.stop()); broker.stop() }
  }

  /** A catch-up alone: a fresh feed, closed once its views caught up. */
  def catchup(ctx: Ctx, tag: String, cfg: Cfg): Double = {
    val f = new Feed(ctx, tag, cfg)
    f.close()
    f.catchupS
  }

  /** The round's feed, then the live phase (open-loop appends beside
    * closed-loop pulls: `leadS` seconds of lead-in, then `seconds`
    * measured), then `trials` catch-ups on feeds of their own. In the timed
    * round the measured window starts the timed phase: everything before
    * it is set-up. */
  def round(ctx: Ctx, tag: String, cfg: Cfg, leadS: Double, seconds: Double, trials: Int,
            timed: Boolean): Round = {
    val f = new Feed(ctx, tag, cfg)
    val (e, log, names, started, zipf) = (f.e, f.log, f.names, f.started, f.zipf)
    val keyRnd = new SplittableRandom(ctx.args.seed * 31L + tag.hashCode + 1)
    try {
      ctx.log(s"$tag: views caught up")
      var nPull = 0
      def pullText(): (String, String, String) = {
        nPull += 1
        if (nPull % cfg.scanEvery == 0) {
          // window-range scan over the last few seconds of windows
          val lo = Events.ts(Sys.epochNs - 6000000000L).take(19)
          (s"SELECT event_type, c, s, window_start FROM ${names("vt")} WHERE window_start >= TIMESTAMP '$lo';",
            names("vt"), s"window_start >= TIMESTAMP '$lo'")
        } else {
          val k = zipf.next(keyRnd)
          (s"SELECT user_id, c, s FROM ${names("vu")} WHERE user_id = $k;", names("vu"), s"user_id = $k")
        }
      }

      // The generator and the pull client start together, but the first
      // `leadS` seconds are a lead-in: the views settle into their cadence
      // of live batches and the JIT warms the maintenance and pull paths;
      // its pulls are not counted. Pulls and freshness are measured over
      // the `seconds` after it.
      var backlogMax = 0L
      val sampler = new Streams.Sampler(50)(() => {
        val lag = started.map(x => log.payloads.size - Streams.committed(x._2, 0)).max
        backlogMax = math.max(backlogMax, lag)
      })
      val genW = new Streams.Worker("perfbench-generator")(
        OpenLoop.run(cfg.rate, leadS + seconds, IndexedSeq(OpenLoop.Target(log, f.broker.port)), ctx.outcome,
          (i, due) => 0 -> f.event(cfg.backlog + i, due)))
      // closed-loop pull client, for as long as the generator runs
      val measureNs = Sys.nowNs + (leadS * 1e9).toLong
      val fromNs = measureNs + Sys.epochOffsetNs
      if (timed) ctx.markTimed(fromNs)
      val endNs = measureNs + (seconds * 1e9).toLong
      val pulls = ArrayBuffer.empty[Pull]
      val direct = ArrayBuffer.empty[Double]
      var i = 0
      while (Sys.nowNs < endNs) {
        val (text, view, where) = pullText()
        if (Sys.nowNs < measureNs) pull(ctx, e, text, -1)
        else {
          pull(ctx, e, text, i).foreach(pulls += _)
          if (Trace.on && i % 4 == 0) direct += directPull(ctx, e, view, where, i)
          i += 1
        }
      }
      val gen = genW.join()
      ctx.outcome.check(Streams.waitCommitted(started.map(x => (x._2, 0, log.payloads.size.toLong)), 60000),
        s"$tag: views did not commit the live phase")
      sampler.stop()
      val toNs = Sys.epochNs
      val fresh = started.flatMap { x =>
        Streams.latenciesMs(x._2, 0, log).zip(log.liveDue).collect { case (ms, due) if due >= fromNs => ms }
      }
      ctx.outcome.check(fresh.forall(!_.isNaN), s"$tag: views left live events uncommitted")
      ctx.log(s"$tag: live done")
      // what the engine holds while running, then what it keeps once
      // the queries are stopped (sinks, view manifests, caches)
      if (timed) ctx.detail.put("heap_live_mb", ctx.heapMb(), "MB")
      verify(ctx, e, names, log, tag)
      ctx.log(s"$tag: verified")
      val viewIds = started.map { case (_, q) => q.id.toString -> "view" }.toMap
      f.close()
      if (timed) ctx.e2e.put("heap_retained_mb", ctx.heapMb(), "MB")
      val catchups = (1 to trials).map(i => catchup(ctx, s"${tag}_c$i", cfg))
      ctx.log(s"$tag: catch-ups done")
      Round(catchups, pulls.toSeq, fresh, gen, backlogMax, direct.toSeq, viewIds, fromNs, toNs)
    } finally f.close()
  }

  /** One dialect pull: SqlEngine.sql + collect, tagged with its op id.
    * op < 0 is a warm-up pull, untimed and uncounted. */
  private def pull(ctx: Ctx, e: SqlEngine, text: String, op: Int): Option[Pull] = {
    val sc = ctx.spark.sparkContext
    val opId = s"pull-$op"
    sc.setLocalProperty(ExecListener.OpKey, opId)
    if (op >= 0) ctx.outcome.attempt()
    try {
      Trace.span("op.pull", opId) {
        val parseMs = if (Trace.on) {
          val t = Sys.nowNs
          Trace.span("sql.parse", null)(Parser.parse(text))
          (Sys.nowNs - t) / 1e6
        } else 0.0
        val t0 = Sys.nowNs
        val df = Trace.span("sql.sql", null) {
          e.sql(text) match {
            case r: e.Rows => r.df
            case other => throw new IllegalStateException(s"pull returned $other")
          }
        }
        val t1 = Sys.nowNs
        val rows = Trace.span("exec.collect", null)(df.collect())
        val t2 = Sys.nowNs
        if (Trace.on) ctx.opPlans.add(opId -> Layers.phases(df))
        require(rows.length <= 1 || text.contains("window_start"), s"key pull returned ${rows.length} rows")
        Some(Pull((t2 - t0) / 1e6, parseMs, (t1 - t0) / 1e6 - parseMs))
      }
    } catch {
      case ex: Exception =>
        if (op >= 0) ctx.outcome.fail(s"pull failed: $text: $ex")
        None
    } finally sc.setLocalProperty(ExecListener.OpKey, null)
  }

  /** The view layer alone: Engine.pull + collect, no dialect frontend. */
  private def directPull(ctx: Ctx, e: SqlEngine, view: String, where: String, op: Int): Double = {
    val sc = ctx.spark.sparkContext
    sc.setLocalProperty(ExecListener.OpKey, s"direct-$op")
    try {
      val t = Sys.nowNs
      val df = Trace.span("view.pull", s"direct-$op") {
        val df = e.engine.pull(view, where)
        df.collect()
        df
      }
      ctx.opPlans.add(s"direct-$op" -> Layers.phases(df))
      (Sys.nowNs - t) / 1e6
    } finally sc.setLocalProperty(ExecListener.OpKey, null)
  }

  /** Each view's final pull against the batch aggregate of every record. */
  private def verify(ctx: Ctx, e: SqlEngine, names: Map[String, String], log: StreamLog, tag: String): Unit = {
    Streams.batchView(ctx.spark, log, s"${log.name}_batch")
    views.foreach { case (v, sel) =>
      val want0 = Streams.rows(e.batch(sel.replace("{s}", s"${log.name}_batch") + ";"))
      val want = if (ctx.args.corrupt) Streams.corrupt(want0) else want0
      val got = Streams.rows(e.batch(s"SELECT * FROM ${names(v)};"))
      ctx.outcome.check(got == want && want0.nonEmpty,
        s"$tag: view $v final pull (${got.size} rows) differs from the batch aggregate (${want.size} rows)")
    }
  }

  /** Lead-in of the first round: the warm-up, with the views' live
    * batches and the pulls running as they will in the measured window. */
  val warmLead = 6.0
  /** Lead-in of later rounds, with the JVM warm. */
  val lead = 3.0

  /** Catch-ups per round; `work_s` is their minimum. */
  val catchups = 3

  def run(ctx: Ctx): Unit = {
    val cfg = if (ctx.args.smoke) smoke else full
    val (trials, warm, later) = if (ctx.args.smoke) (1, 1.0, 0.5) else (catchups, warmLead, lead)
    val base = round(ctx, "main", cfg, warm, ctx.untracedSeconds, trials, timed = true)
    report(ctx, base, cfg)
    if (ctx.args.trace) {
      val tr = ctx.traced(round(ctx, "traced", cfg, later, ctx.args.seconds, trials, timed = false))
      val after = round(ctx, "after", cfg, later, ctx.untracedSeconds, trials, timed = false)
      ctx.overhead(e2eOf(tr), e2eOf(base), e2eOf(after))
      Layers.sources(ctx, tr.gen, tr.backlogMax)
      Layers.streaming(ctx, tr.viewIds)
      Layers.exec(ctx, tr.fromNs, tr.toNs)
      Layers.dirs(ctx, ctx.roundDir("traced"))
      Layers.frontend(ctx, tr.pulls.map(_.parseMs), tr.pulls.map(_.sqlMs))
      Layers.catalyst(ctx, Layers.ops(tr.fromNs, tr.toNs, "op.pull"), ctx.opPlans.asScala.toSeq)
      ctx.layer.put("view.pull_ms_p50", Stats.median(tr.directPullMs), "ms")
      Layers.selfTimes(ctx, tr.fromNs, tr.toNs)
      // single-core reference: the same catch-up at local[1]
      ctx.restart(1)
      ctx.layer.put("view.catchup_eps_local1", cfg.backlog / catchup(ctx, "local1", cfg), "1/s")
    }
  }

  private def pullMs(r: Round) = r.pulls.map(_.totalMs)
  private def p90(r: Round) = Stats.pct(pullMs(r), 90)

  /** The pulls' tail: the mean of the slower half. A run has about
    * twenty pulls, too few for a percentile above the median to rest on ten
    * of them; p90 is one order statistic and moved most from run to run
    * (`pull_p90_ms` stays on the detail line). */
  private def upper(r: Round) = {
    val s = pullMs(r).sorted
    val hi = s.drop(s.length / 2)
    if (hi.isEmpty) 0.0 else hi.sum / hi.length
  }

  /** The minimum over the round's catch-ups: they run one after another
    * on a shared host, where contention only adds time (as graft.Bench
    * takes the minimum over its passes). */
  private def work(r: Round) = r.catchupS.min

  private def e2eOf(r: Round): Map[String, Double] =
    Map("op_ms" -> Stats.iqm(pullMs(r)), "tail_ms" -> upper(r), "work_s" -> work(r))

  private def report(ctx: Ctx, r: Round, cfg: Cfg): Unit = {
    e2eOf(r).foreach { case (k, v) => ctx.e2e.put(k, v, if (k == "work_s") "s" else "ms") }
    ctx.detail.put("pull_iqm_ms", Stats.iqm(pullMs(r)), "ms")
    ctx.detail.put("pull_p50_ms", Stats.median(pullMs(r)), "ms")
    ctx.detail.put("pull_p90_ms", p90(r), "ms")
    ctx.detail.put("pull_upper_mean_ms", upper(r), "ms")
    ctx.detail.put("pull_samples", r.pulls.size.toDouble, "count")
    ctx.detail.put("view_fresh_p50_ms", Stats.median(r.freshMs), "ms")
    ctx.detail.put("view_fresh_p90_ms", Stats.pct(r.freshMs, 90), "ms")
    ctx.detail.put("view_fresh_p99_ms", Stats.pct(r.freshMs, 99), "ms")
    ctx.detail.put("view_fresh_samples", r.freshMs.size.toDouble, "count")
    ctx.detail.put("view_catchup_s", work(r), "s")
    ctx.detail.put("view_catchup_eps", cfg.backlog / work(r), "1/s")
    r.catchupS.zipWithIndex.foreach { case (s, i) => ctx.detail.put(s"view_catchup_s.$i", s, "s") }
    ctx.detail.put("gen_late_ms_p99", Stats.pct(r.gen.lateMs, 99), "ms")
    ctx.detail.put("gen_late_ms_max", if (r.gen.lateMs.isEmpty) 0 else r.gen.lateMs.max, "ms")
    ctx.detail.put("backlog_max", r.backlogMax.toDouble, "count")
  }
}
