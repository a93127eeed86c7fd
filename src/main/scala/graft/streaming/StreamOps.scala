package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, RelationalGroupedDataset, Row}
import org.apache.spark.sql.catalyst.util.{IntervalUtils, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Streaming transform combinators: the windowed-aggregation and interval-
  * join surface of the dialect (SURVEY §2.4–§2.6), watermark-correct by
  * construction.
  *
  * Reference semantics (citations into /root/reference):
  *   - TUMBLE(s, i): size = advance = i
  *     (hstream-processing/.../TimeWindows.hs:34-40).
  *   - HOP(s, size, advance): a record lands in ⌈size/advance⌉ windows
  *     (TimeWindows.hs:42-48).
  *   - SESSION(s, gap): overlapping sessions merged — min start / max end /
  *     merged accumulators (SessionWindowedStream.hs:93-138); Spark's
  *     session_window performs the same merge in the state store.
  *   - Grace: windows carry twGraceMs = 24 h (TimeWindows.hs:39,47); late
  *     records beyond it are dropped (TimeWindowedStream.hs:99-113) — the
  *     watermark reproduces exactly this drop rule.
  *   - JOIN … WITHIN t: buffer both sides, match in [ts−t, ts+t]
  *     (Stream.hs:273-312). Unlike the reference's nested-loop scan over an
  *     unkeyed store (Codegen/V1.hs:286 — empty join key!), equi-conjuncts
  *     here hash-partition the state, and the watermark bounds it — this is
  *     what makes the same query run at 100 TB.
  *   - Join type is honored (LEFT/RIGHT/FULL) — the reference V1 silently
  *     downgrades all to INNER (Codegen/V1.hs:301); we match the V2 engine
  *     (DiffFlow/Types.hs:323-328) and standard SQL instead.
  */
object StreamOps {

  val DefaultGrace = "24 hours"

  /** Watermarked tumbling-window groupBy (window struct exposed as
    * `window.start`/`window.end`, the reference's TimeWindow {start,end}). */
  def tumble(df: DataFrame, ts: String, size: String,
             keys: Seq[Column] = Nil, grace: String = DefaultGrace): RelationalGroupedDataset =
    df.withWatermark(ts, grace).groupBy(window(col(ts), size) +: keys: _*)

  /** Watermarked hopping-window groupBy. */
  def hop(df: DataFrame, ts: String, size: String, advance: String,
          keys: Seq[Column] = Nil, grace: String = DefaultGrace): RelationalGroupedDataset =
    df.withWatermark(ts, grace).groupBy(window(col(ts), size, advance) +: keys: _*)

  /** Watermarked session-window groupBy (gap-merged, per key). */
  def session(df: DataFrame, ts: String, gap: String,
              keys: Seq[Column] = Nil, grace: String = DefaultGrace): RelationalGroupedDataset =
    df.withWatermark(ts, grace).groupBy(session_window(col(ts), gap) +: keys: _*)

  /** Stream-stream interval join: `left ⋈ right` where
    * rightTs ∈ [leftTs − before, leftTs + after] ∧ cond.
    *
    * Symmetric watermarks on both sides let Spark expire buffered state at
    * exactly the reference's retention bound (jwBeforeMs/jwAfterMs,
    * Codegen/V1.hs:287-291). Outer types need both watermarks — present by
    * construction.
    *
    * Banding (r16, below) added the bucket column `__graft_jb` to the
    * streaming join's state key, so a checkpoint written before r16 does
    * not resume: Spark's state-schema check rejects it at restart. */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftTs: String, rightTs: String,
                   before: String, after: String,
                   cond: Column, joinType: String = "inner",
                   grace: String = DefaultGrace): DataFrame = {
    val l = left.withWatermark(leftTs, grace)
    val r = right.withWatermark(rightTs, grace)
    val range =
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after")
    // BANDED (r16, guide §2.4/§3): the equi-conjuncts alone leave the join
    // scanning every buffered row OF THE SAME KEY against the range — a
    // key whose events span the replay (e.g. a user active for a month,
    // joined WITHIN ±2 min) pays O(rows-per-key) state probes per input
    // row for a window that matches ~constant rows. Adding the time
    // bucket to the equi key (exact range kept as the residual) bounds
    // each probe to the ±1-bucket neighborhood — identical output, state
    // still watermark-evicted through the residual's event-time bounds.
    // FULL outer can't band (both sides would need the 3-way explode,
    // duplicating unmatched rows) and falls back inside the helper.
    bandedIntervalJoin(l, r, col(leftTs), col(rightTs),
      math.max(intervalMicros(before), intervalMicros(after)),
      range && cond, joinType)
  }

  /** Upper-bound width of an interval literal in microseconds (calendar
    * units take their maximum length — 31-day months, 366-day years: a
    * WIDER band stays correct, the exact residual still filters). */
  private[graft] def intervalMicros(s: String): Long = {
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(s))
    iv.months * 31L * 86400L * 1000000L + iv.days * 86400L * 1000000L +
      iv.microseconds
  }

  /** Width of a fixed-length interval literal in microseconds (days are
    * 86,400 s); a month part has no fixed length and is rejected. */
  private def fixedMicros(s: String, what: String): Long = {
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(s))
    require(iv.months == 0, s"$what must be a fixed duration, got '$s'")
    iv.days * 86400000000L + iv.microseconds
  }

  /** KEYED banded interval join core (r16) — [[bandedKeylessJoin]]'s
    * generalization to an arbitrary join condition and join type: bucket
    * both event times by `widthUs`, explode ONE side into its 3 candidate
    * buckets (a pair within `widthUs` differs by at most one bucket, and
    * at most one of the 3 replicas equals the other side's bucket, so no
    * duplicates), equi-join on the bucket alongside `cond`, which must
    * contain the exact range as a residual. The exploded side is the one
    * whose unmatched rows the join type DROPS (right for inner/left, left
    * for right), so outer-row multiplicity is preserved: the non-exploded
    * side appears once, and an unmatched row of the exploded side emits
    * nothing. FULL outer would need both sides exploded — not bandable —
    * and falls back to the plain join. */
  def bandedIntervalJoin(ldf: DataFrame, rdf: DataFrame,
                         lts: Column, rts: Column, widthUs: Long,
                         cond: Column, joinType: String = "inner"): DataFrame = {
    // a zero width (WITHIN 0 SECONDS through the Scala API, which skips
    // Validate) would divide by zero; 1 µs buckets band exact-time pairs
    val w = math.max(1L, widthUs)
    val lb = floor(unix_micros(lts) / lit(w)).cast("long")
    val rb = floor(unix_micros(rts) / lit(w)).cast("long")
    joinType match {
      case "inner" | "left" | "leftouter" | "left_outer" =>
        val l2 = ldf.withColumn("__graft_jb", lb)
        val r2 = rdf.withColumn("__graft_jb", explode(array(rb - 1, rb, rb + 1)))
        l2.join(r2, l2("__graft_jb") === r2("__graft_jb") && cond, joinType)
          .drop("__graft_jb")
      case "right" | "rightouter" | "right_outer" =>
        val l2 = ldf.withColumn("__graft_jb", explode(array(lb - 1, lb, lb + 1)))
        val r2 = rdf.withColumn("__graft_jb", rb)
        l2.join(r2, l2("__graft_jb") === r2("__graft_jb") && cond, joinType)
          .drop("__graft_jb")
      case other => ldf.join(rdf, cond, other)
    }
  }

  /** KEYLESS interval join core (CROSS JOIN … WITHIN, Codegen/V1.hs:286 —
    * the reference's V1 join key is EMPTY): every (l, r) pair with
    * `range` true, banded by time bucket so the join has a distributing
    * equi key. Without one, batch plans a single-task
    * BroadcastNestedLoopJoin and streaming hashes ALL symmetric-join
    * state to one partition — both single-node bottlenecks at scale.
    * Bucket = floor(eventTime / width); the right row is exploded into
    * its 3 candidate buckets (a pair within `width` differs by at most
    * one bucket, and at most one of the 3 replicas equals the left's
    * bucket, so no duplicates); `range` stays as the exact residual.
    * Callers pass watermarked inputs for streaming; state is then both
    * partitioned by bucket and watermark-evicted through the residual's
    * event-time bounds. */
  def bandedKeylessJoin(ldf: DataFrame, rdf: DataFrame,
                        lts: Column, rts: Column,
                        widthUs: Long, range: Column): DataFrame =
    bandedIntervalJoin(ldf, rdf, lts, rts, widthUs, range, "inner")

  /** Stream→table materialization: latest value per key (the reference's
    * `table` source — a stream consumed into a KV store keeping the newest
    * record per key, Stream.hs:89-135). max_by over the event-time column
    * gives Spark's partial-aggregated form of the same state. Ties on ts
    * break deterministically by the packed struct's remaining fields. */
  def latestPerKey(df: DataFrame, keys: Seq[String], ts: String): DataFrame = {
    val others = df.columns.filterNot(c => keys.contains(c)).toIndexedSeq
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), col(ts)).as("_latest"))
      .select(keys.map(col) ++ others.map(c => col(s"_latest.$c")): _*)
  }

  /** STREAMING as-of enrichment — the event-time superset of
    * [[latestPerKey]]-based lookup joins and the streaming form of
    * [[graft.operators.AsofJoin.backward]]: each left event is enriched
    * with the most recent right row AT-OR-BEFORE its own event time (not
    * merely the latest value when the micro-batch happens to run — the
    * feature-store semantics the batch operator's doc names, now live).
    * The reference's stream-table join (hstream-processing
    * Stream.hs:314-356) is latest-value-only; this supersedes it.
    *
    * Built on flatMapGroupsWithState over the tagged union of both
    * streams, keyed by the join key. Per-key state is (right-history,
    * pending-lefts), both WATERMARK-TRIMMED: a left emits only once the
    * watermark passes its timestamp (no earlier right row can then
    * arrive — Spark's late-row filter drops sub-watermark input), and the
    * history keeps rows at-or-above the watermark plus ONE carry row
    * below it (any future left resolves to at most that row from the
    * past), so state per key is O(rows within the watermark delay) + 1.
    * Unmatched lefts emit null payloads (left-join, like the batch twin).
    * Right rows sharing an exact (key, ts) are ambiguous — pre-dedupe for
    * determinism (the batch operator's caveat, verbatim).
    *
    * Emission is delayed by the watermark delay — the inherent price of
    * event-time correctness, identical to the stream-stream interval
    * join's buffering. StreamingTwinSpec pins output equality against the
    * DuckDB-hash-verified batch q_join_asof rows. */
  def asofEnrich(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 leftTs: String, rightTs: String,
                 payload: Seq[String],
                 grace: String = DefaultGrace): DataFrame = {
    val leftCols = left.columns.toIndexedSeq
    require(payload.toSet.intersect(leftCols.toSet).isEmpty,
      s"payload columns collide with left: ${payload.toSet.intersect(leftCols.toSet)}")
    val lSchema = left.schema
    val rSchema = right.schema
    def nullAs(name: String, from: StructType) =
      lit(null).cast(from(name).dataType).as(name)
    // tagged union, each branch watermarked on its OWN ts first (the union
    // stream's watermark is the min of the two) — the same frame shape as
    // the batch union trick, one schema: __k, __t, __tag, leftCols…, payload…
    // __t is the ONE event-time column; the passthrough copy of each ts
    // must shed the watermark tag (two tagged columns in one stateful
    // operator is an analyzer error), hence the Metadata.empty aliases.
    val noMeta = org.apache.spark.sql.types.Metadata.empty
    val lTagged = left.withWatermark(leftTs, grace).select(
      Seq(col(leftKey).as("__k"), col(leftTs).as("__t"), lit(1).as("__tag")) ++
        leftCols.map(c => col(c).as(c, noMeta)) ++ payload.map(nullAs(_, rSchema)): _*)
    val rTagged = right.withWatermark(rightTs, grace).select(
      Seq(col(rightKey).as("__k"), col(rightTs).as("__t"), lit(0).as("__tag")) ++
        leftCols.map(nullAs(_, lSchema)) ++ payload.map(c => col(c).as(c, noMeta)): _*)
    val unioned = lTagged.unionByName(rTagged)
    val uSchema = unioned.schema
    def idx(n: String): Int = uSchema.fieldIndex(n)
    val leftIdx = leftCols.map(idx)
    val payIdx = payload.map(idx).toIndexedSeq
    val tIdx = idx("__t")
    val tagIdx = idx("__tag")

    val histStruct = StructType(StructField("t", TimestampType) +:
      payload.map(p => rSchema(p)))
    val pendStruct = StructType(StructField("t", TimestampType) +:
      leftCols.map(c => lSchema(c)))
    val stateSchema = StructType(Seq(
      StructField("hist", ArrayType(histStruct)),
      StructField("pend", ArrayType(pendStruct))))
    val outSchema = StructType(leftCols.map(c => lSchema(c)) ++
      payload.map { p =>
        val f = rSchema(p)
        f.copy(nullable = true) // unmatched lefts carry null payloads
      })
    val keyEnc = Encoders.row(StructType(Seq(uSchema(idx("__k")))))
    val stateEnc = Encoders.row(stateSchema)
    val outEnc = Encoders.row(outSchema)
    // (getTime ms, getNanos sub-second) is a consistent total order — the
    // nanos field repeats the ms fraction, so lexicographic compare works
    val ordT: Ordering[java.sql.Timestamp] =
      Ordering.by(t => (t.getTime, t.getNanos))

    unioned.groupByKey((r: Row) => Row(r.get(idx("__k"))))(keyEnc)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val (hist0, pend0) = state.getOption match {
            case Some(s) => (
              Option(s.getSeq[Row](0)).getOrElse(Seq.empty).toVector,
              Option(s.getSeq[Row](1)).getOrElse(Seq.empty).toVector)
            case None => (Vector.empty[Row], Vector.empty[Row])
          }
          var hist = hist0
          var pend = pend0
          rows.foreach { r =>
            val t = r.getAs[java.sql.Timestamp](tIdx)
            if (r.getInt(tagIdx) == 0)
              hist :+= Row.fromSeq(t +: payIdx.map(r.get))
            else
              pend :+= Row.fromSeq(t +: leftIdx.map(r.get))
          }
          val wm = state.getCurrentWatermarkMs()
          // resolve every pending left strictly below the watermark: no
          // not-late right row can precede it anymore (ms-floor compare is
          // conservative at the boundary — such rows wait one more batch)
          hist = hist.sortBy(_.getAs[java.sql.Timestamp](0))(ordT)
          val (ready, waiting) =
            pend.partition(_.getAs[java.sql.Timestamp](0).getTime < wm)
          val out = ready.sortBy(_.getAs[java.sql.Timestamp](0))(ordT).map { p =>
            val tl = p.getAs[java.sql.Timestamp](0)
            val m = hist.filter(h =>
              !ordT.gt(h.getAs[java.sql.Timestamp](0), tl)).lastOption
            Row.fromSeq(p.toSeq.drop(1) ++
              (m match {
                case Some(h) => h.toSeq.drop(1)
                case None => payload.map(_ => null)
              }))
          }
          // trim history: everything at-or-above the watermark can still
          // precede a future left; below it only the LATEST row can
          val (live, past) =
            hist.partition(_.getAs[java.sql.Timestamp](0).getTime >= wm)
          hist = past.lastOption.toVector ++ live
          pend = waiting
          if (hist.isEmpty && pend.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update(Row(hist, pend))
            if (pend.nonEmpty) {
              // wake when the watermark passes the oldest pending left
              val oldest = pend.map(_.getAs[java.sql.Timestamp](0).getTime).min
              state.setTimeoutTimestamp(math.max(oldest + 1, wm + 1))
            }
          }
          out.iterator
      }(stateEnc, outEnc)
      .toDF((leftCols ++ payload): _*)
  }

  /** One aggregate of a per-row-emission SELECT list: output column name,
    * kind (`count`|`sum`|`min`|`max`|`avg`), input column (`*` for
    * COUNT(*)). */
  final case class RowAgg(name: String, kind: String, input: String)

  /** The accumulator of a whole per-row SELECT list over the projected
    * `schema`, built once per query — the Spark twin of the reference's
    * one accumulator object per SELECT list (`composeAggs`,
    * Codegen/Common.hs:96-119). One slot per aggregate: count → running
    * count; sum/avg → (sum, n) with the sum in LONG for integral inputs (a
    * Double accumulator would silently drop low-order bits past 2^53, where
    * Spark's exact long sum on the non-per-row path would not); min/max →
    * the input's own value, null until one arrives. Inputs it cannot fold
    * are rejected here, when the query is planned, not at the first row. */
  private final class RowAccs(aggs: Seq[RowAgg], schema: StructType)
      extends Serializable {
    // select() resolved names case-INSENSITIVELY and the projected schema
    // carries the source's canonical casing — index the same way, or a key
    // written as `Lang` over a declared `lang` column would crash
    def fieldIdx(n: String): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(n))
      require(i >= 0, s"column $n not in [${schema.fieldNames.mkString(",")}]")
      i
    }
    private val kinds = aggs.map(_.kind).toArray
    private val inIdx = aggs.map(a => if (a.input == "*") -1 else fieldIdx(a.input)).toArray
    private val inType = inIdx.map(i => if (i < 0) NullType else schema(i).dataType)
    private val integral = inType.map {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    aggs.indices.foreach { i =>
      def reject(why: String): Nothing = throw new IllegalArgumentException(
        s"per-row ${kinds(i).toUpperCase}(${aggs(i).input}) AS ${aggs(i).name}: $why")
      kinds(i) match {
        case "count" =>
        case "sum" | "avg" => if (!inType(i).isInstanceOf[NumericType])
          reject(s"column ${aggs(i).input} is ${inType(i).sql}, not numeric")
        case "min" | "max" => inType(i) match {
          case _: NumericType | _: StringType | BooleanType | DateType |
               TimestampType | TimestampNTZType =>
          case t => reject(s"column ${aggs(i).input} is ${t.sql}, which has no order")
        }
        case k => reject(s"unknown aggregate kind '$k'")
      }
    }

    /** Output fields, one per aggregate. COUNT is never null, matching
      * Spark's own agg schema exactly (the per-row and micro-batch paths
      * must be flip-compatible); SUM keeps integral inputs integral
      * (op_add: int+int→int, AggOp.hs:73-81); MIN/MAX keep the input's
      * type. */
    val outFields: Seq[StructField] = aggs.indices.map { i =>
      StructField(aggs(i).name, kinds(i) match {
        case "count" => LongType
        case "sum" => if (integral(i)) LongType else DoubleType
        case "avg" => DoubleType
        case _ => inType(i)
      }, nullable = kinds(i) != "count")
    }

    /** Streaming state of one accumulator: field `a<i>` per aggregate. */
    val stateSchema: StructType = StructType(aggs.indices.map { i =>
      StructField(s"a$i", kinds(i) match {
        case "count" => LongType
        case "sum" | "avg" => StructType(Seq(
          StructField("s", if (integral(i)) LongType else DoubleType),
          StructField("n", LongType)))
        case _ => inType(i)
      })
    })

    // Spark's own order: NaN above every other double and -0.0 = 0.0
    // (SQLOrderingUtil); strings by their UTF-8 bytes, as UTF8String
    // compares them (String.compareTo orders UTF-16 code units, which puts
    // U+1F600 below U+FFFD); boxed integrals compare exactly, never through
    // doubleValue, which collapses longs that differ only below 2^53
    private def lt(a: Any, b: Any): Boolean = ((a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) => SQLOrderingUtil.compareDoubles(x, y)
      case (x: java.lang.Float, y: java.lang.Float) => SQLOrderingUtil.compareFloats(x, y)
      case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: Comparable[Any] @unchecked, y) => x.compareTo(y)
    }) < 0

    private def extremum(i: Int, x: Any, y: Any): Any =
      if (x == null) y else if (y == null) x
      else if (if (kinds(i) == "min") lt(y, x) else lt(x, y)) y else x

    def init(): Array[Any] = Array.tabulate[Any](kinds.length) { i =>
      kinds(i) match {
        case "count" => 0L
        case "sum" | "avg" => if (integral(i)) (0L, 0L) else (0.0, 0L)
        case _ => null
      }
    }

    def load(s: Row): Array[Any] = Array.tabulate[Any](kinds.length) { i =>
      kinds(i) match {
        case "sum" | "avg" =>
          val r = s.getStruct(i)
          if (integral(i)) (r.getLong(0), r.getLong(1)) else (r.getDouble(0), r.getLong(1))
        case _ => s.get(i)
      }
    }

    def save(acc: Array[Any]): Row = Row.fromSeq(acc.toSeq.map {
      case (s, n) => Row(s, n)
      case v => v
    })

    def applyRow(acc: Array[Any], r: Row): Unit = kinds.indices.foreach { i =>
      val v = if (inIdx(i) < 0) null else r.get(inIdx(i))
      kinds(i) match {
        case "count" => // COUNT(*) counts rows; COUNT(e) skips NULLs
          if (inIdx(i) < 0 || v != null) acc(i) = acc(i).asInstanceOf[Long] + 1L
        case "sum" | "avg" => if (v != null) acc(i) = acc(i) match {
          case (s: Long, n: Long) => (s + v.asInstanceOf[java.lang.Number].longValue, n + 1L)
          case (s: Double, n: Long) => (s + v.asInstanceOf[java.lang.Number].doubleValue, n + 1L)
        }
        case _ => acc(i) = extremum(i, acc(i), v)
      }
    }

    /** Two accumulators folded into one — the mergeable shapes Spark's own
      * partial aggregation relies on. */
    def merge(x: Array[Any], y: Array[Any]): Array[Any] =
      Array.tabulate[Any](kinds.length) { i =>
        (kinds(i), x(i), y(i)) match {
          case ("count", a: Long, b: Long) => a + b
          case (_, (s1: Long, n1: Long), (s2: Long, n2: Long)) => (s1 + s2, n1 + n2)
          case (_, (s1: Double, n1: Long), (s2: Double, n2: Long)) => (s1 + s2, n1 + n2)
          case (_, a, b) => extremum(i, a, b)
        }
      }

    def emit(acc: Array[Any]): Seq[Any] = kinds.indices.map { i =>
      (kinds(i), acc(i)) match {
        case ("sum" | "avg", (_, 0L)) => null
        case ("sum", (s, _)) => s
        case ("avg", (s: Long, n: Long)) => s.toDouble / n
        case ("avg", (s: Double, n: Long)) => s / n
        case (_, v) => v // count, min/max
      }
    }
  }

  private def inputCols(aggs: Seq[RowAgg]): Seq[String] =
    aggs.map(_.input).filter(_ != "*").distinct

  /** `proj` grouped by the columns at `keyIdx`, each group key one Row. */
  private def groupRows(proj: DataFrame, keyIdx: Seq[Int]) =
    proj.groupByKey((r: Row) => Row.fromSeq(keyIdx.map(r.get)))(
      Encoders.row(StructType(keyIdx.map(proj.schema(_)))))

  /** Per-row emission for unwindowed aggregation: ONE output row per INPUT
    * row, carrying the running aggregates — the reference's exact EMIT
    * CHANGES cadence (every input re-emits the updated accumulator,
    * GroupedStream.hs:79-102), where plain update-mode groupBy coalesces
    * all of a key's rows within a micro-batch into one emission.
    *
    * Takes the FULL multi-aggregate SELECT list: any number of
    * COUNT/SUM/MIN/MAX/AVG over any mix of value columns (numeric, string,
    * timestamp — MIN/MAX keep the input's type), over composite keys. The
    * per-key state is one Row holding every accumulator ([[RowAccs]]).
    * Built on flatMapGroupsWithState: state is partitioned across
    * executors like any streaming agg — per-row fidelity costs emission
    * volume, not driver memory. */
  def perRowAggs(df: DataFrame, keys: Seq[String], aggs: Seq[RowAgg],
                 timeoutOn: Option[String] = None,
                 carry: Seq[String] = Nil): DataFrame = {
    // timeoutOn: a TIMESTAMP key column (e.g. window_end) — when the
    // WATERMARK passes a group's value, its state is dropped (the windowed
    // form would otherwise accrete one state entry per window forever).
    // Requires a watermark upstream (EventTimeTimeout's precondition).
    val timeoutKeyIdx = timeoutOn.map { c =>
      val i = keys.indexWhere(_.equalsIgnoreCase(c))
      require(i >= 0, s"timeout column $c must be one of the keys $keys")
      i
    }
    // carry: columns kept in the projection without participating in the
    // key or any accumulator — the windowed form must keep the original
    // WATERMARKED event-time column visible to the analyzer (extracting
    // window.start drops the watermark tag, and EventTimeTimeout's checker
    // requires a tagged column below the flatMapGroupsWithState)
    val proj = df.select((keys ++ inputCols(aggs) ++ carry).distinct.map(col): _*)
    val accs = new RowAccs(aggs, proj.schema)
    val keyIdx = keys.map(accs.fieldIdx)
    val outSchema = StructType(keyIdx.map(proj.schema(_)) ++ accs.outFields)
    groupRows(proj, keyIdx)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update(),
        if (timeoutKeyIdx.isDefined) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout) {
        (k: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          if (state.hasTimedOut) {
            // watermark passed this group's anchor (window closed): free
            // the state, emit nothing — Spark's own windowed agg stops
            // maintaining the window at exactly this point
            state.remove()
            Iterator.empty
          } else if (timeoutKeyIdx.exists(ti => state.getOption.isEmpty &&
              k.getAs[java.sql.Timestamp](ti).getTime <=
                state.getCurrentWatermarkMs())) {
            // too-late rows for an already-closed (expired) window: drop,
            // like Spark's windowed agg — recreating state would restart
            // the accumulators from zero and emit wrong partial values
            Iterator.empty
          } else {
            val acc = state.getOption.fold(accs.init())(accs.load)
            val emissions = rows.map { r =>
              accs.applyRow(acc, r)
              Row.fromSeq(k.toSeq ++ accs.emit(acc))
            }.toVector // materialize BEFORE state.update sees the final acc
            state.update(accs.save(acc))
            timeoutKeyIdx.foreach { ti =>
              // fire when the watermark passes the group's anchor; a group
              // already at/behind the watermark (edge of lateness) must
              // still set a LEGAL timestamp (> watermark), hence the clamp
              val anchor = k.getAs[java.sql.Timestamp](ti).getTime
              state.setTimeoutTimestamp(
                math.max(anchor, state.getCurrentWatermarkMs() + 1))
            }
            emissions.iterator
          }
      }(Encoders.row(accs.stateSchema), Encoders.row(outSchema))
      .toDF((keys ++ aggs.map(_.name)): _*)
  }

  /** Per-row EMIT CHANGES over FIXED windows (TUMBLE/HOP): the reference's
    * per-input-row cadence (GroupedStream.hs:102) with the window identity
    * folded into the group key — key = (group keys, window_start,
    * window_end). Spark's own `window()` expression derives the windows in
    * a plain projection (one row per covering window — HOP expands to
    * ⌈size/advance⌉ rows, exactly the reference's landing rule,
    * TimeWindows.hs:42-48), so window boundaries agree bit-for-bit with the
    * micro-batch groupBy path. State per (key, window) is dropped via
    * event-time timeout once the watermark passes window_end. Output
    * schema matches the micro-batch windowed path exactly:
    * keys…, aggs…, window_start, window_end. */
  def perRowAggsWindowed(df: DataFrame, keys: Seq[String], aggs: Seq[RowAgg],
                         ts: String, size: String,
                         advance: Option[String] = None,
                         grace: String = DefaultGrace): DataFrame = {
    val win = advance match {
      case Some(a) => window(col(ts), size, a)
      case None => window(col(ts), size)
    }
    val expanded = df.withWatermark(ts, grace)
      .withColumn("__gw", win)
      .withColumn("window_start", col("__gw.start"))
      .withColumn("window_end", col("__gw.end"))
      .drop("__gw")
    perRowAggs(expanded, keys ++ Seq("window_start", "window_end"), aggs,
      timeoutOn = Some("window_end"), carry = Seq(ts))
      .select(keys.map(col) ++ aggs.map(a => col(a.name)) ++
        Seq(col("window_start"), col("window_end")): _*)
  }

  /** Per-row EMIT CHANGES over SESSION windows (gap-merged): per-input-row
    * cadence where the stateful key is the GROUP BY keys ONLY — unlike
    * TUMBLE/HOP the window identity is fluid (sessions extend and MERGE as
    * rows arrive, SessionWindowedStream.hs:93-138), so the key's open
    * sessions (start, end, accumulators) live in the state VALUE. A row at
    * t claims [t, t+gap); every open session it overlaps merges into one
    * (min start / max end / [[RowAccs.merge]]), the row's values apply,
    * and ONE row emits carrying the merged session's current bounds.
    * Boundary math is exactly Spark's session_window (end = last event +
    * gap), so the final per-session emission agrees with the micro-batch
    * groupBy(session_window) result row-for-row (pinned in
    * StreamingTwinSpec). Sessions whose end the watermark passes drop via
    * event-time timeout — their last per-row emission already carried
    * their final state; rows behind the watermark drop, matching the
    * windowed-agg late rule. State per key is O(open sessions), the same
    * bound Spark's session state store keeps. */
  def perRowAggsSession(df: DataFrame, keys: Seq[String], aggs: Seq[RowAgg],
                        ts: String, gap: String,
                        grace: String = DefaultGrace): DataFrame = {
    // all session arithmetic runs in MICROSECONDS — TimestampType's own
    // precision; millisecond math would shear boundaries off Spark's
    // session_window results (end = last event + gap, µs-exact)
    val gapUs = fixedMicros(gap, "session gap")
    def tsToUs(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def usToTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    val proj = df.withWatermark(ts, grace)
      .select((keys ++ inputCols(aggs) ++ Seq(ts)).distinct.map(col): _*)
    val accs = new RowAccs(aggs, proj.schema)
    val keyIdx = keys.map(accs.fieldIdx)
    val tsIdx = accs.fieldIdx(ts)
    val outSchema = StructType(keyIdx.map(proj.schema(_)) ++ accs.outFields ++
      Seq(StructField("window_start", TimestampType, nullable = false),
        StructField("window_end", TimestampType, nullable = false)))
    val stateSchema = StructType(Seq(StructField("sessions", ArrayType(
      StructType(Seq(StructField("start", LongType),
        StructField("end", LongType), StructField("accs", accs.stateSchema)))))))
    groupRows(proj, keyIdx)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout) {
        (k: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // open sessions, dropping any the watermark has closed (their
          // final per-row emission already happened)
          var sessions: Vector[(Long, Long, Array[Any])] =
            state.getOption.map(_.getSeq[Row](0).iterator.map(s =>
              (s.getLong(0), s.getLong(1), accs.load(s.getStruct(2))))
              .filter(_._2 > wmUs).toVector)
              .getOrElse(Vector.empty)
          val out = Vector.newBuilder[Row]
          if (!state.hasTimedOut) {
            // event-time order within the batch — deterministic merge path
            rows.toVector.sortBy(r => tsToUs(r.getAs[java.sql.Timestamp](tsIdx)))
              .foreach { r =>
                val t = tsToUs(r.getAs[java.sql.Timestamp](tsIdx))
                if (t >= wmUs) { // behind the watermark → drop, like windowed agg
                  val claimEnd = t + gapUs
                  val (hit, miss) = sessions.partition(s =>
                    t < s._2 && s._1 < claimEnd)
                  val seed = (t, claimEnd, accs.init())
                  val m = (hit :+ seed).reduce((a, b) =>
                    (math.min(a._1, b._1), math.max(a._2, b._2),
                      accs.merge(a._3, b._3)))
                  accs.applyRow(m._3, r)
                  sessions = miss :+ m
                  out += Row.fromSeq(k.toSeq ++ accs.emit(m._3) ++ Seq(
                    usToTs(m._1), usToTs(m._2)))
                }
              }
          }
          if (sessions.isEmpty) state.remove()
          else {
            state.update(Row(sessions.sortBy(_._1).map(s =>
              Row(s._1, s._2, accs.save(s._3)))))
            // wake when the watermark passes the earliest open session end
            // (ceil µs→ms so the timer can't fire a hair before the close)
            state.setTimeoutTimestamp(math.max(
              (sessions.map(_._2).min + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
      }(Encoders.row(stateSchema), Encoders.row(outSchema))
      .toDF((keys ++ aggs.map(_.name) ++ Seq("window_start", "window_end")): _*)
  }

  /** Streaming exact dedup with bounded state: first-seen row per key wins;
    * state for keys older than the watermark is dropped. The streaming form
    * of q_dedup_exact (and of the reference's idempotent-producer dedup). */
  def dedupWithinWatermark(df: DataFrame, ts: String, cols: Seq[String],
                           grace: String = DefaultGrace): DataFrame =
    df.withWatermark(ts, grace).dropDuplicatesWithinWatermark(cols)

  /** Streaming PARAGRAPH-level dedup — q_dedup_paragraph's streaming form
    * (CCNet boilerplate removal on a live feed): docs explode into
    * paragraphs map-side, and each paragraph hash's first arrival within
    * the watermark survives (state = one entry per live paragraph hash,
    * dropped past the grace — the streaming analogue of the batch op's
    * keep-first-occurrence, with arrival order standing in for the batch
    * total order). Emits surviving (doc_id, idx, para) rows. */
  def paragraphDedup(df: DataFrame, id: String, text: String, ts: String,
                     sep: String = " <p> ",
                     grace: String = DefaultGrace): DataFrame = {
    val paras = df
      // id passes through untyped — no cast to abort on (ANSI) and no
      // typed encoder downstream to require one
      .select(col(id).as("doc_id"), col(ts).as("__ts"),
        posexplode(split(col(text), java.util.regex.Pattern.quote(sep))))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "para")
      .withColumn("h", md5(col("para")))
    dedupWithinWatermark(paras, "__ts", Seq("h"))
      .select(col("doc_id"), col("idx"), col("para"))
  }

  /** Public (not private): Catalyst's generated deserializer instantiates
    * the encoder target class and cannot access private members. */
  case class BandRow(doc_id: Long, ts: java.sql.Timestamp, band: String)

  /** Streaming NEAR-dup detection — the streaming form of the batch LSH
    * candidate stage (DedupQueries.lshPairs): each doc's 4 MinHash band
    * keys (same md5 formulas as every batch frontend) are exploded; per
    * band key one stateful group remembers the first-seen owner doc, and
    * every later doc colliding on that band emits a candidate pair
    * (doc_id, owner_id, band). Consumers `distinct()` pairs across bands
    * and (as in batch) verify with exact Jaccard where precision matters.
    *
    * Scale/semantics notes: state is one long per live band key, dropped
    * after `grace` past the watermark (EventTimeTimeout) — bounded exactly
    * like the batch pipeline bounds its shuffle; the degenerate-doc guard
    * (empty shingle sets never band) carries over, so a flood of sub-3-word
    * docs cannot hot-spot one band group. Within a micro-batch, arrival
    * order is (event time, doc_id) — deterministic under replay. */
  def nearDupCandidates(df: DataFrame, id: String, text: String, ts: String,
                        grace: String = DefaultGrace): DataFrame = {
    import graft.functions.PipelineFunctions._
    val spark = df.sparkSession
    import spark.implicits._
    val banded = df
      .withColumn("__hs", shingles3(tokens(col(text))))
      .filter(size(col("__hs")) > 0) // degenerate-doc band-skew guard
      // try_cast + null-drop: one malformed id must not abort the stream
      // (ANSI cast would); unparseable ids are dropped, not fatal
      .select(expr(s"try_cast(`$id` AS BIGINT)").as("doc_id"),
        col(ts).as("ts"),
        explode(array((0 until 4).map(b => concat_ws("_", lit(b),
          minhash(col("__hs"), 2 * b), minhash(col("__hs"), 2 * b + 1))): _*))
          .as("band"))
      .filter(col("doc_id").isNotNull)
      .withWatermark("ts", grace)
    banded.as[BandRow]
      .groupByKey(_.band)
      .flatMapGroupsWithState[Long, (Long, Long, String)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (band, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            val out = Seq.newBuilder[(Long, Long, String)]
            var owner = if (state.exists) Some(state.get) else None
            sorted.foreach { r =>
              owner match {
                case None => owner = Some(r.doc_id)
                case Some(o) if o != r.doc_id => out += ((r.doc_id, o, band))
                case _ => ()
              }
            }
            owner.foreach(state.update)
            sorted.lastOption.foreach(r =>
              state.setTimeoutTimestamp(r.ts.getTime, grace))
            out.result().iterator
          }
      }
      .toDF("doc_id", "owner_id", "band")
  }

  /** Streaming cohort RETENTION: the event-time form of the batch
    * q_events_retention — per key, cohort day = the day of its FIRST
    * event, and one (key, cohort_day, day_offset) row per distinct
    * (key, active day), emitted exactly once; `count(1)` per
    * (cohort_day, day_offset) downstream is then exactly the batch
    * count_distinct. Incremental correctness under out-of-order arrival:
    *   - the cohort day is tentative (min of days seen) until the
    *     WATERMARK passes its day start — after that any event with an
    *     earlier day is late by definition, so the cohort is final and
    *     held-back rows flush (via input or event-time TIMEOUT);
    *   - once the cohort is final, later active days emit immediately on
    *     first sight; per-(key, day) dedup entries are TRIMMED as soon as
    *     the watermark passes the day's end (a duplicate of that day can
    *     no longer arrive), so live state per key is the cohort day plus
    *     only the days still inside the watermark horizon — bounded, the
    *     asofEnrich class. The cohort day itself persists for the
    *     analysis horizon (offsets of future days need it) — a real
    *     deployment bounds that with stream retention (DURATION), same as
    *     the reference's stream-retention knob.
    * Output: (key, cohort_day DATE, day_offset). */
  def retention(events: DataFrame, key: String, ts: String,
                grace: String = DefaultGrace): DataFrame = {
    val dayMicros = 86400000000L
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def epochDay(t: java.sql.Timestamp): Long =
      Math.floorDiv(micros(t), dayMicros)
    val keyField = events.schema(key)
    val stateSchema = StructType(Seq(
      StructField("cohort", LongType),          // epoch day, final or tentative
      StructField("pending", ArrayType(LongType)), // days held for finality
      StructField("emitted", ArrayType(LongType)))) // dedup, watermark-trimmed
    val outSchema = StructType(Seq(keyField,
      StructField("cohort_day", DateType, nullable = false),
      StructField("day_offset", LongType, nullable = false)))
    val typed = events
      .withWatermark(ts, grace)
      .select(col(key).as("__k"), col(ts).as("__t"))
    val keyEnc = Encoders.row(StructType(Seq(typed.schema(0))))
    typed.groupByKey((r: Row) => Row(r.get(0)))(keyEnc)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (k: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          var (cohort, pending, emitted) = state.getOption match {
            case Some(s) => (Option(s.get(0)).map(_ => s.getLong(0)),
              Option(s.getSeq[Long](1)).getOrElse(Seq.empty).toSet,
              Option(s.getSeq[Long](2)).getOrElse(Seq.empty).toSet)
            case None => (None: Option[Long], Set.empty[Long], Set.empty[Long])
          }
          rows.foreach { r =>
            val d = epochDay(r.getAs[java.sql.Timestamp](1))
            if (!emitted.contains(d)) pending += d
            cohort = Some(cohort.fold(d)(math.min(_, d)))
          }
          // getCurrentWatermarkMs() is 0 BEFORE any watermark exists —
          // treat that sentinel as "not ready", else epoch-1970 cohorts
          // (day ≤ 0) would finalize in the very first micro-batch and a
          // still-in-grace earlier event could later contradict them
          val wmMs = state.getCurrentWatermarkMs()
          val wmReady = wmMs > 0
          val out = Vector.newBuilder[Row]
          cohort.foreach { c =>
            if (wmReady && wmMs >= c * 86400000L) {
              // final: nothing earlier than day c can still arrive
              pending.toSeq.sorted.foreach { d =>
                if (!emitted.contains(d)) {
                  // valueOf(LocalDate) and Catalyst's fromJavaDate use the
                  // same default zone — inverse ops, day value exact
                  out += Row(k.get(0),
                    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(c)),
                    d - c)
                  emitted += d
                }
              }
              pending = Set.empty
            } else
              // hold until the watermark finalizes the cohort day
              state.setTimeoutTimestamp(
                math.max(c * 86400000L, wmMs + 1))
          }
          // trim dedup entries the watermark has sealed (no duplicate of
          // that day can arrive any more)
          emitted = emitted.filter(d => (d + 1) * 86400000L >= wmMs)
          state.update(Row(cohort.map(Long.box).orNull,
            pending.toSeq.sorted, emitted.toSeq.sorted))
          out.result().iterator
      }(Encoders.row(stateSchema), Encoders.row(outSchema))
      .toDF(key, "cohort_day", "day_offset")
  }

  /** Streaming FUNNEL: per key, the first occurrence of step 1, then the
    * first step-2 event within `stepWindow` after it, then step 3 after
    * that — the event-time form of the batch q_events_funnel (chained
    * per-step mins). Incremental correctness under out-of-order arrival:
    *   - t1 = min step-1 ts is commutative, so late-but-not-dropped step-1
    *     rows can only LOWER it, and the watermark finalizes it (a row
    *     that would lower a watermark-passed t1 is by definition late).
    *   - later-step candidates buffer only while they could still qualify:
    *     a step-k event later than t1 + k·window can never enter a window
    *     that only moves EARLIER as t1 decreases → pruned. Per-key state
    *     is therefore bounded by k·window of events, the asofEnrich class.
    *   - a key's row is emitted exactly once per FUNNEL ENTRY, when the
    *     watermark passes every window that could still change it
    *     (t1 + steps·window). A step-1 event arriving after a key's funnel
    *     finalized starts a NEW funnel (standard re-entry semantics); the
    *     batch twin corresponds to streams where each key enters once.
    * Output: (key, t1..tN nullable, reached). */
  def funnel(events: DataFrame, key: String, typeCol: String, ts: String,
             steps: Seq[String], stepWindow: String = DefaultGrace,
             grace: String = DefaultGrace): DataFrame = {
    val winMicros = fixedMicros(stepWindow, "funnel stepWindow")
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val n = steps.length
    val keyField = events.schema(key)
    val tsType = events.schema(ts).dataType
    // state: one buffered (step, ts) list — step-1 rows collapse to the
    // running min (kept as the single step-1 entry), later steps prune to
    // the still-qualifiable horizon t1 + step·window
    val stateSchema = StructType(Seq(
      StructField("evs", ArrayType(StructType(Seq(
        StructField("step", IntegerType), StructField("t", TimestampType)))))))
    val outSchema = StructType(keyField +:
      steps.indices.map(i => StructField(s"t${i + 1}", tsType, nullable = true)) :+
      StructField("reached", LongType, nullable = false))
    val stepIdx = steps.zipWithIndex.toMap
    val typed = events
      .withWatermark(ts, grace)
      .filter(col(typeCol).isin(steps.map(lit): _*))
      .select(col(key).as("__k"), col(typeCol).as("__e"), col(ts).as("__t"))
    val uSchema = typed.schema
    val keyEnc = Encoders.row(StructType(Seq(uSchema(0))))
    val stateEnc = Encoders.row(stateSchema)
    val outEnc = Encoders.row(outSchema)
    val ordT: Ordering[java.sql.Timestamp] =
      Ordering.by(t => (t.getTime, t.getNanos))

    typed.groupByKey((r: Row) => Row(r.get(0)))(keyEnc)
      .flatMapGroupsWithState[Row, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (k: Row, rows: Iterator[Row], state: GroupState[Row]) =>
          var evs: Vector[(Int, java.sql.Timestamp)] = state.getOption match {
            case Some(s) => Option(s.getSeq[Row](0)).getOrElse(Seq.empty)
              .map(r => (r.getInt(0), r.getAs[java.sql.Timestamp](1))).toVector
            case None => Vector.empty
          }
          rows.foreach { r =>
            evs :+= ((stepIdx(r.getString(1)), r.getAs[java.sql.Timestamp](2)))
          }
          def chain(es: Vector[(Int, java.sql.Timestamp)])
              : Seq[Option[java.sql.Timestamp]] = {
            var prev: Option[java.sql.Timestamp] = None
            (0 until n).map { s =>
              val cand = es.filter(_._1 == s).map(_._2)
              val hit = s match {
                case 0 => cand.sorted(ordT).headOption
                case _ => prev.flatMap { p =>
                  cand.filter(t => ordT.gt(t, p) &&
                    micros(t) <= micros(p) + winMicros)
                    .sorted(ordT).headOption
                }
              }
              prev = hit
              hit
            }
          }
          val t1 = evs.filter(_._1 == 0).map(_._2).sorted(ordT).headOption
          if (state.hasTimedOut || evs.isEmpty) {
            // finalize: every window that could change the row is closed
            val res = chain(evs)
            state.remove()
            if (res.head.isEmpty) Iterator.empty
            else Iterator.single(Row.fromSeq(
              k.get(0) +: res.map(_.orNull) :+
                res.takeWhile(_.isDefined).length.toLong))
          } else {
            // prune: step-1 keeps only its min; step-k keeps rows that can
            // still enter a window anchored at (a future, LOWER) t1
            evs = t1.toVector.map(t => (0, t)) ++ evs.filter { case (s, t) =>
              s > 0 && t1.forall(a => micros(t) <= micros(a) + s * winMicros)
            }
            state.update(Row(evs.map(e => Row(e._1, e._2))))
            // the row is final once the watermark passes t1 + n·window
            // (no qualifiable event for ANY step can arrive after that);
            // without a step-1 event yet, wait out the buffered horizon
            val anchor = t1.orElse(evs.map(_._2).sorted(ordT).headOption)
            val deadline = anchor.map(_.getTime + n * (winMicros / 1000) + 1)
              .getOrElse(state.getCurrentWatermarkMs() + 1)
            state.setTimeoutTimestamp(
              math.max(deadline, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }(stateEnc, outEnc)
      .toDF(outSchema.fieldNames.toIndexedSeq: _*)
  }
}
