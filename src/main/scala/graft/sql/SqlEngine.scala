package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import Ast._
import graft.streaming.{Engine, StreamOps}

/** The end-user surface: `sql(stmt)` parses the HStream dialect and executes
  * it — DDL effects, batch DataFrames (pull queries), or StreamingQuerys
  * (push/CSAS/views) — the reference's gRPC server dispatch
  * (hstream/src/HStream/Server/Core/Query.hs:77-250, Core/View.hs:166-254)
  * collapsed onto one SparkSession.
  *
  * Name resolution for FROM: engine streams first (continuous queries), then
  * any table/view registered in the session catalog (batch/pull queries) —
  * so the same dialect text runs streaming over live streams and batch over
  * parquet-backed views.
  */
class SqlEngine(spark: SparkSession) {

  val engine = new Engine(spark)

  sealed trait Result
  case class Rows(df: DataFrame) extends Result
  case class Started(query: StreamingQuery) extends Result
  case class Done(info: String) extends Result

  /** PORT option values come from user SQL (StrLit or IntLit) — a raw
    * toInt on 'abc' would escape as NumberFormatException instead of the
    * dialect's own error class (r13 RejectFuzz audit). */
  private def portOf(owner: String, v: String): Int =
    try v.trim.toInt catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"$owner: PORT must be an integer, got '$v'") }

  private def lookup(name: String): DataFrame =
    // a CDC-maintained table wins over its schema-declaring stream: once a
    // cdc connector materializes `name`, SELECTs serve the latest state
    if (engine.isCdcTable(name)) engine.pull(name)
    else if (engine.showStreams.contains(name)) engine.df(name)
    else engine.pull(name) // parquet-backed view snapshot, else session catalog

  /** Declared dialect column types per stream — the ones a Spark schema
    * cannot carry (TIME and JSONB render as string columns). TypeCheck
    * consults this so e.g. a declared TIME column gets wraparound
    * arithmetic and TIME-family comparisons. */
  private val streamTypes =
    scala.collection.concurrent.TrieMap.empty[String, TypeCheck.Env]

  def planOf(sel: Query): DataFrame =
    Translate.plan(sel, lookup,
      declared = n => streamTypes.getOrElse(n, Map.empty))

  /** Execute one statement. */
  def sql(text: String): Result = Parser.parse(text) match {
    case SelectStmt(q) if q.emitChanges =>
      // push query → sink named q<n> (Codegen/V1.hs:465-474's random sink
      // stream, minus the randomness). Update mode = the reference's
      // re-emit-per-row; session windows and stream-stream joins emit in
      // append mode (Spark's completion-driven semantics for both).
      // With spark.graft.emitPerRow=true, unwindowed simple aggregates,
      // TUMBLE/HOP aggregates, AND session aggregates get the reference's
      // exact PER-ROW cadence (one emission per input row,
      // GroupedStream.hs:102) instead of per-micro-batch coalescing —
      // sessions are the one append-mode query class with a per-row update
      // form (gap-merged sessions held in flatMapGroupsWithState state).
      val name = s"q${queryCounter.incrementAndGet()}"
      val perRow = spark.conf.getOption("spark.graft.emitPerRow").contains("true")
      val append = qNeedsAppendMode(q)
      val perRowPlan = q match {
        case sel: Select if perRow => perRowForm(sel, append)
        case _ => None // per-row cadence covers single-SELECT aggregates only
      }
      Started(perRowPlan match {
        case Some(plan) => engine.emitChanges(name, plan)
        case None if append => engine.createStreamAs(name, planOf(q))
        case None => engine.emitChanges(name, planOf(q))
      })
    case SelectStmt(q) =>
      Rows(planOf(q)) // batch / pull query
    case CreateStream(name, schema, options) =>
      val opts = options.map {
        case (k, IntervalLit(n, u)) => k -> s"$n $u"
        case (k, IntLit(v)) => k -> v.toString
        case (k, StrLit(v)) => k -> v
        case (k, other) => k -> other.toString
      }
      // TRANSPORT option (extension): back the stream with a live network
      // source instead of the default in-engine log — 'socket' (at-most-
      // once TCP) or 'ledger' (offset-tracked replayable broker; Kafka's
      // contract class). HOST/PORT locate the endpoint; FORMAT='wire'
      // composes with either.
      val wire = opts.get("FORMAT").exists(_.equalsIgnoreCase("wire"))
      opts.get("TRANSPORT").map(_.toLowerCase) match {
        case Some(t @ ("socket" | "ledger")) =>
          val host = opts.getOrElse("HOST", "localhost")
          val port = portOf(s"stream $name", opts.getOrElse("PORT",
            throw new IllegalArgumentException(
              s"stream $name: PORT option required for TRANSPORT '$t'")))
          if (t == "socket")
            engine.createSocketStream(name, host, port,
              Translate.structType(schema), wire)
          else
            engine.createLedgerStream(name, host, port,
              Translate.structType(schema), wire)
        case Some(other) => throw new IllegalArgumentException(
          s"stream $name: unknown TRANSPORT '$other' (socket|ledger)")
        case None =>
          engine.createStream(name, Translate.structType(schema), opts)
      }
      streamTypes(name) = schema.collect {
        case (n, t @ (TTime | TJson)) => n.toLowerCase -> t
      }.toMap
      Done(s"stream $name created")
    case CreateStreamAs(name, sel, _) =>
      Started(engine.createStreamAs(name, planOf(sel)))
    case CreateView(name, q) =>
      views.add(name)
      val plan = planOf(q)
      // SESSION-window / join-fed views: append-mode FileSink opt-in
      // (spark.graft.sessionViewAppend=true) — closed sessions are
      // immutable, so the store only appends: O(new rows) per trigger vs
      // the complete-mode default's O(view) snapshot rewrite. Divergence
      // (documented at Engine.createViewAppend): pulls see closed
      // sessions only, the default also shows open ones.
      // DURATION of the view's source stream(s) = store retention: rows
      // whose time anchor (window_end/window_start/_ts) falls out of the
      // backlog window vanish from pulls and their storage is GC'd — the
      // view-store side of the stream option the read path already honors
      // (AST.hs:703-750; Engine.df's DURATION filter). Joins of streams
      // with differing DURATIONs keep the LONGEST (retention must cover
      // every contributing backlog). Views whose output has no timestamp
      // column (plain unwindowed aggregates) are not time-addressable and
      // keep everything.
      val (retainOn, retention) = viewRetention(q, plan)
      if (qNeedsAppendMode(q) &&
          spark.conf.getOption("spark.graft.sessionViewAppend").contains("true"))
        return Started(engine.createViewAppend(name, plan, retainOn, retention))
      // Set-op-fed views (UNION ALL of streams) have no stable per-key
      // identity to upsert on → complete-mode snapshots
      val sel = q match {
        case s: Select => s
        case _ => return Started(engine.createView(name, plan))
      }
      // Simple-key aggregates — unwindowed OR over FIXED windows
      // (TUMBLE/HOP, where a window's identity never changes) — maintain
      // the view INCREMENTALLY (update-mode upsert keyed by
      // groupBy-keys [+ window_start], O(changed keys/windows) write
      // amplification per trigger — the reference's own model,
      // Core/View.hs:94-141). SESSION windows and join-fed views fall back
      // to complete-mode snapshots: session merges REPLACE earlier windows
      // (a merged session has a new start), so upserting by window_start
      // would leave stale rows behind.
      // a key output column must BE the bare group-key ref (unaliased or
      // aliased to its own name) — a name match alone is not enough: an
      // aggregate aliased to a key's name (COUNT(*) AS lang ... GROUP BY
      // lang) would otherwise be mistaken for the key and the view would
      // upsert on the aggregate VALUE, stranding stale rows
      val keyOutputs = sel.items.collect {
        case ItemExpr(ColRef(None, n), None) => n
        case ItemExpr(ColRef(None, n), Some(a)) if a == n => n
      }.toSet
      val keys = sel.groupBy.map(_.name) ++
        (if (fixedWindow(sel.from)) Seq("window_start") else Nil)
      // HAVING filters each update-mode delta before the upsert, so a key
      // whose aggregate stops passing it would keep its old row: such
      // views take the complete-mode path, which recomputes every row
      val incremental = !needsAppendMode(sel.from) && sel.having.isEmpty &&
        (!hasWindow(sel.from) || fixedWindow(sel.from)) &&
        sel.groupBy.map(_.name).forall(keyOutputs.contains) &&
        keys.nonEmpty && keys.forall(plan.columns.contains)
      Started(
        // each trigger rewrites the view's changed buckets whole
        if (incremental) engine.createViewIncremental(name, plan, keys,
          retainOn = retainOn, retention = retention)
        else engine.createView(name, plan))
    case InsertValues(stream, cols, vals) =>
      // wire streams store extended-JSON payloads (Rts/Old.hs:134-157), so
      // typed literals are wire-encoded; plain streams get plain JSON
      val enc: Expr => String =
        if (engine.isWireStream(stream)) wireValue else jsonValue
      val fields = cols.zip(vals).map { case (c, v) => s""""$c":${enc(v)}""" }
      engine.insert(stream, fields.mkString("{", ",", "}"))
      Done(s"inserted into $stream")
    case InsertJson(stream, json) =>
      // payload passes through verbatim: for wire streams the caller
      // supplies extended JSON (that IS the json form's contract there)
      engine.insert(stream, json)
      Done(s"inserted into $stream")
    case InsertRaw(stream, raw) =>
      // raw payloads ride in a single-column JSON envelope (the reference
      // tags the record RawFormat; our schema-ful streams need a column)
      engine.insert(stream, s"""{"raw":${jsonValue(StrLit(raw))}}""")
      Done(s"inserted into $stream")
    case InsertSel(stream, sel) =>
      Started(engine.insertSelect(stream, planOf(sel)))
    case CreateConnector(kind, name, target, ifNot, opts) =>
      if (ifNot && connectors.contains(name)) Done(s"connector $name exists")
      else target.toLowerCase match {
        // the built-in `socket` and `ledger` types EXECUTE in-engine: live
        // network tasks through Engine's source/sink seams, under the same
        // lifecycle verbs that in the reference control external worker
        // processes (hstream-io/src/HStream/IO/Worker.hs:71-83). socket =
        // at-most-once TCP; ledger = the offset-tracked replayable class
        // (resumable source, the reference's CDC-connector guarantee).
        case transport @ ("socket" | "ledger") =>
          def opt(k: String): Option[String] = opts.get(k).collect {
            case StrLit(v) => v; case IntLit(v) => v.toString }
          def req(k: String): String = opt(k).getOrElse(throw
            new IllegalArgumentException(s"connector $name: $k option required"))
          val stream = req("STREAM")
          val host = opt("HOST").getOrElse("localhost")
          val port = portOf(s"connector $name", req("PORT"))
          val q =
            if (kind == "SOURCE")
              engine.startSourceConnector(name, stream, host, port, transport)
            else engine.startSinkConnector(name, stream, host, port, transport)
          connectors(name) = s"$kind->$target:RUNNING"
          Started(q)
        // `cdc`: in-engine CDC processing — change envelopes over the
        // ledger transport maintain a materialized table (Engine.
        // startCdcConnector). STREAM names a declared stream whose schema
        // is the row schema; KEYS is the comma-separated primary key. The
        // materialized state answers pull queries under the STREAM name.
        case "cdc" =>
          require(kind == "SOURCE", s"connector $name: cdc is a SOURCE type")
          def opt(k: String): Option[String] = opts.get(k).collect {
            case StrLit(v) => v; case IntLit(v) => v.toString }
          def req(k: String): String = opt(k).getOrElse(throw
            new IllegalArgumentException(s"connector $name: $k option required"))
          val table = req("STREAM")
          val keys = req("KEYS").split(",").map(_.trim).toSeq
          val schema = engine.schemaOf(table)
          keys.foreach(k => require(schema.fieldNames.contains(k),
            s"connector $name: key $k not in ${table}'s schema"))
          val q = engine.startCdcConnector(name, table,
            opt("HOST").getOrElse("localhost"),
            portOf(s"connector $name", req("PORT")), schema, keys)
          connectors(name) = s"$kind->$target:RUNNING"
          Started(q)
        case _ =>
          // other types: metadata catalog only — execution is an external
          // task in the reference (Docker images, conf/hstream.yaml:129-143)
          connectors(name) = s"$kind->$target:RUNNING"
          Done(s"connector $name registered (external task; not executed)")
      }
    case PauseConnector(n) =>
      // unknown names are messaged rejections, not silent successes (r14
      // connector-lifecycle audit; the reference's worker lookup fails
      // loudly, hstream-io/src/HStream/IO/Worker.hs:71-83)
      require(connectors.contains(n), s"connector $n does not exist")
      if (engine.showQueries.contains(s"connector_$n")) engine.pause(s"connector_$n")
      connectors.updateWith(n)(_.map(_.replace(":RUNNING", ":PAUSED")))
      Done(s"paused connector $n")
    case ResumeConnector(n) =>
      require(connectors.contains(n), s"connector $n does not exist")
      // RESUME of a RUNNING connector is idempotent (Engine.resume
      // returns the live query instead of double-starting — r14 find)
      if (engine.showQueries.contains(s"connector_$n")) engine.resume(s"connector_$n")
      connectors.updateWith(n)(_.map(_.replace(":PAUSED", ":RUNNING")))
      Done(s"resumed connector $n")
    case DropStmt("CONNECTOR", n, ifEx) =>
      if (!ifEx) require(connectors.contains(n), s"connector $n does not exist")
      if (engine.showQueries.contains(s"connector_$n")) engine.dropConnector(n)
      connectors.remove(n)
      Done(s"dropped connector $n")
    case Show("CONNECTORS") =>
      Done(connectors.toSeq.sorted.map { case (k, v) => s"$k($v)" }.mkString(","))
    case Show("STREAMS") => // connector-internal source streams are hidden
      Done(engine.showStreams.filterNot(_.startsWith("__conn_")).mkString(","))
    case Show("VIEWS") => Done(views.toSeq.sorted.mkString(","))
    case Show("QUERIES") =>
      Done(engine.showQueries.filterNot(views.contains).mkString(","))
    case Show(other) => throw new IllegalArgumentException(s"SHOW $other not supported")
    case DropStmt("STREAM", n, ifEx) =>
      if (!ifEx || engine.showStreams.contains(n)) engine.dropStream(n)
      streamTypes.remove(n)
      Done(s"dropped $n")
    case DropStmt("VIEW" | "QUERY", n, ifEx) =>
      if (!ifEx || engine.showQueries.contains(n)) engine.terminate(n)
      views.remove(n)
      Done(s"dropped $n")
    case Terminate(n) => engine.terminate(n); Done(s"terminated $n")
    case PauseStmt(n) => engine.pause(n); Done(s"paused $n")
    case ResumeStmt(n) => engine.resume(n); Done(s"resumed $n")
    // explainMode: EXPLAIN of a WITH RECURSIVE query renders base ∪ one
    // symbolic step round instead of EXECUTING the fixpoint loop
    case Explain(SelectStmt(sel)) =>
      Done(Translate.explainMode.withValue(true)(engine.explain(planOf(sel))))
    case Explain(CreateStreamAs(_, sel, _)) =>
      Done(Translate.explainMode.withValue(true)(engine.explain(planOf(sel))))
    case Explain(CreateView(_, sel)) =>
      Done(Translate.explainMode.withValue(true)(engine.explain(planOf(sel))))
    case Explain(other) => Done(other.toString)
    case other => throw new IllegalArgumentException(s"unsupported: $other")
  }

  private val queryCounter = new java.util.concurrent.atomic.AtomicLong()
  private val views = java.util.concurrent.ConcurrentHashMap.newKeySet[String]().asScala
  private val connectors = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Execute a multi-statement script (';'-separated, quotes respected);
    * returns one Result per statement. */
  def script(text: String): Seq[Result] = splitStatements(text).map(sql)

  private def splitStatements(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inStr = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inStr && c == '\'' && i + 1 < text.length && text.charAt(i + 1) == '\'') {
        // '' inside a literal is an escaped quote, not close-then-reopen
        cur += '\''; cur += '\''; i += 1
      } else {
        if (c == '\'') inStr = !inStr
        cur += c
        if (c == ';' && !inStr) { out += cur.toString; cur.clear() }
      }
      i += 1
    }
    require(cur.toString.trim.isEmpty, s"unterminated statement: ${cur.toString.trim.take(60)}")
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** The per-row-emission plan of an EMIT CHANGES select, when it fits
    * EXACTLY (so the output schema is identical to the micro-batch path's
    * and flipping spark.graft.emitPerRow never reorders/renames columns):
    * unwindowed OR a top-level TUMBLE/HOP/SESSION (whose bounds append
    * after the aggs, same as the micro-batch path); SELECT list = the bare
    * GROUP BY keys first, unaliased, in GROUP BY order, then only
    * COUNT(*)/COUNT/SUM/MIN/MAX/AVG over bare columns; no HAVING. An
    * append-mode query (`appendMode`) has a per-row form only over a
    * SESSION window (gap-merged sessions held in state). Anything else
    * keeps micro-batch cadence (None). */
  private def perRowForm(sel: Select, appendMode: Boolean): Option[DataFrame] = {
    if (sel.having.nonEmpty) return None
    // only a TOP-LEVEL window qualifies (possibly aliased); windows
    // nested in subqueries/joins keep micro-batch cadence
    val (rawFrom, win) = stripWindow(sel.from)
    if (win.isEmpty && hasWindow(sel.from)) return None
    if (appendMode && !win.exists(_.isInstanceOf[Session])) return None
    val keys = sel.groupBy.collect { case ColRef(None, n) => n }
    if (keys.isEmpty || keys.size != sel.groupBy.size) return None
    val (keyItems, aggItems) = sel.items.splitAt(keys.size)
    val keyNames = keyItems.collect { case ItemExpr(ColRef(None, n), None) => n }
    if (keyNames != keys) return None // keys first, groupBy order, unaliased
    val rowAggKinds = Set("COUNT", "SUM", "MIN", "MAX", "AVG")
    val parsed = aggItems.map {
      case ItemExpr(a @ Agg("COUNT", _, true, _), alias) =>
        Some(StreamOps.RowAgg(alias.getOrElse(Translate.exprName(a)), "count", "*"))
      case ItemExpr(a @ Agg(k, Seq(ColRef(None, c)), false, false), alias) if rowAggKinds(k) =>
        Some(StreamOps.RowAgg(alias.getOrElse(Translate.exprName(a)), k.toLowerCase, c))
      case _ => None
    }
    if (parsed.contains(None) || parsed.isEmpty) return None
    val aggs = parsed.flatten
    planOf(sel) // full plan-time validation (TypeCheck on the items)
    val src = planOf(Select(Seq(ItemWildcard(None)), rawFrom, sel.where, Nil, None))
    val ts = if (src.columns.contains("_ts")) "_ts" else "ts"
    Some(win match {
      case None => StreamOps.perRowAggs(src, keys, aggs)
      case Some(Tumble(i)) => StreamOps.perRowAggsWindowed(src, keys, aggs,
        ts, Translate.intervalString(i))
      case Some(Hop(sz, a)) => StreamOps.perRowAggsWindowed(src, keys, aggs,
        ts, Translate.intervalString(sz), Some(Translate.intervalString(a)))
      case Some(Session(g)) => StreamOps.perRowAggsSession(src, keys, aggs,
        ts, Translate.intervalString(g))
    })
  }

  /** Peel a top-level (possibly aliased) window off a from-ref. */
  private def stripWindow(ref: TableRef): (TableRef, Option[WindowSpec]) =
    ref match {
      case TRWindowed(i, w) => (i, Some(w))
      case TRAlias(i, a) =>
        val (r, w) = stripWindow(i); (TRAlias(r, a), w)
      case other => (other, None)
    }

  /** Source-stream DURATIONs → view-store retention: the longest declared
    * backlog among the query's source streams, anchored on the first
    * timestamp output column in window_end > window_start > _ts order
    * (a closed window expires when its END leaves the backlog). */
  private def viewRetention(q: Query,
                            plan: DataFrame): (Option[String], Option[String]) = {
    def streamsOf(ref: TableRef): Seq[String] = ref match {
      case TRStream(n) => Seq(n)
      case TRAlias(i, _) => streamsOf(i)
      case TRWindowed(i, _) => streamsOf(i)
      case TRFlatten(i, _, _) => streamsOf(i)
      case TRJoin(l, r, _, _, _) => streamsOf(l) ++ streamsOf(r)
      case TRSubquery(s) => qStreamsOf(s)
      case TRRecursive(_, b, st, _) => qStreamsOf(b) ++ qStreamsOf(st)
    }
    def qStreamsOf(q: Query): Seq[String] = q match {
      case s: Select => streamsOf(s.from)
      case SetOp(_, _, l, r, _, _, _, _) => qStreamsOf(l) ++ qStreamsOf(r)
    }
    val durations = qStreamsOf(q).distinct
      .flatMap(s => engine.streamOptions(s).get("DURATION"))
    val retention = durations.maxByOption(engine.intervalSeconds)
    val retainOn = Seq("window_end", "window_start", "_ts").find(n =>
      plan.schema.fields.exists(f =>
        f.name == n &&
          f.dataType == org.apache.spark.sql.types.TimestampType))
    if (retention.isDefined && retainOn.isDefined) (retainOn, retention)
    else (None, None)
  }

  /** TUMBLE/HOP — fixed windows whose identity (start) never changes, so
    * window_start is a stable upsert key. SESSION is NOT fixed: merges
    * produce windows with new starts that subsume old ones. */
  private def fixedWindow(ref: TableRef): Boolean = ref match {
    case TRWindowed(_, _: Tumble | _: Hop) => true
    case TRAlias(i, _) => fixedWindow(i)
    case TRFlatten(i, _, _) => fixedWindow(i)
    case TRSubquery(s: Select) => fixedWindow(s.from)
    case _ => false
  }

  private def hasWindow(ref: TableRef): Boolean = ref match {
    case _: TRWindowed => true
    case TRAlias(i, _) => hasWindow(i)
    case TRFlatten(i, _, _) => hasWindow(i)
    case TRJoin(l, r, _, _, _) => hasWindow(l) || hasWindow(r)
    case TRSubquery(q) => qHasWindow(q)
    case _ => false
  }

  private def qHasWindow(q: Query): Boolean = q match {
    case s: Select => hasWindow(s.from)
    case SetOp(_, _, l, r, _, _, _, _) => qHasWindow(l) || qHasWindow(r)
  }

  private def needsAppendMode(ref: TableRef): Boolean = ref match {
    case TRWindowed(i, _: Session) => true
    case TRWindowed(i, _) => needsAppendMode(i)
    case TRAlias(i, _) => needsAppendMode(i)
    case TRFlatten(i, _, _) => needsAppendMode(i)
    case _: TRJoin => true
    case TRSubquery(q) => qNeedsAppendMode(q)
    case _ => false
  }

  /** A set op needs append mode if either operand does (the union emits
    * whatever cadence its inputs can support). */
  private def qNeedsAppendMode(q: Query): Boolean = q match {
    case s: Select => needsAppendMode(s.from)
    case SetOp(_, _, l, r, _, _, _, _) => qNeedsAppendMode(l) || qNeedsAppendMode(r)
  }

  /** Run a batch/pull SELECT and return its DataFrame (throws on non-SELECT). */
  def batch(text: String): DataFrame = sql(text) match {
    case Rows(df) => df
    case other => throw new IllegalArgumentException(s"not a batch query: $other")
  }

  /** Literal → extended-JSON wire value (flowValueToJsonValue shapes). */
  private def wireValue(e: Expr): String = e match {
    case IntLit(v) => s"""{"$$numberLong":"$v"}"""
    case NumLit(v) => s"""{"$$numberDouble":"$v"}"""
    case TimestampLit(s) => s"""{"$$timestamp":"$s"}"""
    case DateLit(s) => s"""{"$$date":"$s"}"""
    case ArrLit(items) => items.map(wireValue).mkString("[", ",", "]")
    case other => jsonValue(other) // string/bool/null are plain in the wire
  }

  private def jsonValue(e: Expr): String = e match {
    case IntLit(v) => v.toString
    case NumLit(v) => v.toString
    case StrLit(v) => "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case BoolLit(v) => v.toString
    case NullLit => "null"
    case TimestampLit(s) => "\"" + s + "\""
    case DateLit(s) => "\"" + s + "\""
    case ArrLit(items) => items.map(jsonValue).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"INSERT value must be a literal: $other")
  }
}
