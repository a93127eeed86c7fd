package graft.sql

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Sessions

/** STREAMING-SQL grammar fuzzer (r15): the batch dialect is certified
  * generatively (FuzzGen × DuckDB, 57/57 productions) and the streaming
  * OPERATORS are certified generatively (StreamFuzz's 14 topology kinds,
  * hand-built plans) — but the path a reference user actually types,
  * grammar-drawn SQL THROUGH the statement surface executed as a live
  * streaming query, was covered only by hand-written SqlEngineSpec twins.
  * This fuzzer closes that seam differentially: each scenario draws a
  * random streaming-legal SELECT (scalar projection/filter over random
  * expressions, unwindowed grouped aggregation with monotone HAVING,
  * TUMBLE/HOP windowed aggregation, a CSAS hop through a wire-format
  * file sink, a stream-stream WITHIN join — equi or keyless CROSS, the
  * banded path — or a live materialized VIEW pulled mid-stream), feeds a
  * fresh stream via per-row `INSERT INTO … VALUES
  * '<json>'` STATEMENTS (so the insert parser and payload decode are part
  * of the certified surface), runs the query live under Structured
  * Streaming, and compares against THE SAME DIALECT TEXT run through the
  * batch path over the same rows.
  *
  * What a mismatch can mean (the claim this fuzzer certifies): streaming
  * micro-batch execution / update-mode state of the translated plan,
  * payload JSON decode → declared schema, wire encode/decode round-trips
  * through a CSAS FileSink, and any streaming-only planner branch must
  * all preserve batch semantics. What it can NOT catch: a Translate bug
  * present in both paths — that is FuzzGen × DuckDB's axis.
  *
  * Determinism: batch boundaries between INSERTs are racy (the running
  * query triggers concurrently), so every compared quantity is
  * boundary-independent — stateless outputs are compared as multisets
  * (each input row emits exactly once regardless of batching), and
  * aggregations compare the LAST update per group, which equals the final
  * state because the batch containing a group's last input row emits that
  * group's full running value. HAVING is restricted to the monotone
  * `COUNT(*) >= k` form: a group passing at end-of-input passed when its
  * last row arrived, so its final value was emitted; a never-passing
  * group never emits. Aggregate arguments are INTEGER-valued expressions
  * (SUM/AVG exact in any accumulation order); MIN/MAX may range over
  * doubles (order-free). Scalar outputs compare exactly: both sides
  * evaluate the identical expression tree on identical input doubles.
  *
  * In-CI: StreamSqlFuzzSpec (pinned seeds). Offline roaming:
  * `sbt "runMain graft.sql.StreamSqlFuzz <seedCsv> [scenariosPerSeed]"`.
  */
object StreamSqlFuzz {

  final case class Report(name: String, ok: Boolean, detail: String,
                          inserted: Int = 0, nullFields: Int = 0,
                          survivors: Int = 0, groups: Int = 0)

  private def mix(seed: Long, i: Int): Random = {
    val m1 = scala.util.hashing.MurmurHash3.productHash((seed, i))
    val m2 = scala.util.hashing.MurmurHash3.productHash((i, seed, 0x51f15eedL))
    new Random((m1.toLong << 32) | (m2.toLong & 0xffffffffL))
  }
  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  // ---- rows ----------------------------------------------------------------

  private final case class Rec(id: Long, a: Option[Long], b: Option[Long],
                               c: Option[Double], s: Option[String],
                               g: String, f: Option[Boolean],
                               ts: Option[String]) {
    def nulls: Int = Seq(a, b, c, s, f, ts).count(_.isEmpty)
  }

  private val vocab = Vector("ab", "cd", "ef", "gh", "xy", "")

  /** FuzzGen's t1 value distributions (NULLs, tiny ranges, zero divisors,
    * empty strings) rendered as a stream: ids unique, event times
    * sequential at a 5–13 s stride from 2024-01-01 so windowed scenarios
    * span several 1-minute windows. `nullTs` admits NULL event times
    * (stateless/CSAS kinds only — event-time operators drop them by
    * meaning, scalar plans must PRESERVE them). */
  private def genRows(r: Random, n: Int, nullTs: Boolean): Vector[Rec] = {
    def optLong(p: Double, lo: Int, hi: Int): Option[Long] =
      if (r.nextDouble() < p) None else Some((lo + r.nextInt(hi - lo + 1)).toLong)
    val stride = 5 + r.nextInt(9)
    (0 until n).toVector.map { i =>
      val ts =
        if (nullTs && r.nextDouble() < 0.15) None
        else Some("2024-01-01 00:%02d:%02d".format(
          i * stride / 60, i * stride % 60))
      Rec(i.toLong,
        optLong(0.2, 0, 4), optLong(0.15, -3, 9),
        if (r.nextDouble() < 0.2) None
        else Some(math.rint(r.nextDouble() * 2000 - 500) / 100.0),
        if (r.nextDouble() < 0.15) None else Some(vocab(r.nextInt(vocab.size))),
        s"g${r.nextInt(4)}",
        if (r.nextDouble() < 0.2) None else Some(r.nextBoolean()),
        ts)
    }
  }

  private def json(rec: Rec): String = {
    def j[A](v: Option[A], q: Boolean = false): String = v match {
      case None => "null"
      case Some(x) => if (q) "\"" + x + "\"" else x.toString
    }
    s"""{"id":${rec.id},"a":${j(rec.a)},"b":${j(rec.b)},"c":${j(rec.c)},""" +
      s""""s":${j(rec.s, q = true)},"g":"${rec.g}","f":${j(rec.f)},""" +
      s""""_ts":${j(rec.ts, q = true)}}"""
  }

  private val viewSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("a", LongType), StructField("b", LongType),
    StructField("c", DoubleType), StructField("s", StringType),
    StructField("g", StringType, nullable = false),
    StructField("f", BooleanType), StructField("_ts", TimestampType)))

  private def rowOf(rec: Rec): Row = Row(rec.id,
    rec.a.orNull, rec.b.orNull, rec.c.orNull, rec.s.orNull, rec.g,
    rec.f.orNull,
    rec.ts.map(java.sql.Timestamp.valueOf).orNull)

  // ---- dialect expression generators ---------------------------------------
  // Text only: the referee runs the SAME text through the batch path, so no
  // dual rendering (and no divergence table) is needed.

  private def intLit(r: Random): String = String.valueOf(r.nextInt(8) - 2)

  /** INTEGER-valued expression over a/b/id — safe as a SUM/AVG argument
    * (exact in any accumulation order; no FP-order hazard between the
    * streaming partials and the batch referee). */
  private def intExpr(r: Random, d: Int): String =
    if (d <= 0) pick(r, Seq("a", "b", "id", intLit(r)))
    else r.nextInt(6) match {
      case 0 => s"(${intExpr(r, d - 1)} ${pick(r, Seq("+", "-", "*"))} ${intExpr(r, d - 1)})"
      case 1 => s"ABS(${intExpr(r, d - 1)})"
      case 2 => s"IFNULL(${intExpr(r, d - 1)}, ${intLit(r)})"
      case 3 => s"NULLIF(${intExpr(r, d - 1)}, ${intLit(r)})"
      case 4 => s"CASE WHEN ${boolExpr(r, d - 1)} THEN ${intExpr(r, d - 1)}" +
        s" ELSE ${intExpr(r, d - 1)} END"
      case _ => intExpr(r, 0)
    }

  /** Numeric expression (long- or double-valued; division by an often-zero
    * divisor is NULL in the dialect — on purpose). Scalar contexts only. */
  private def numExpr(r: Random, d: Int): String =
    if (d <= 0) pick(r, Seq("a", "b", "id", "c", intLit(r)))
    else r.nextInt(7) match {
      case 0 => s"(${numExpr(r, d - 1)} ${pick(r, Seq("+", "-", "*"))} ${numExpr(r, d - 1)})"
      case 1 => s"(${numExpr(r, d - 1)} ${pick(r, Seq("/", "%"))} ${pick(r, Seq("b", intLit(r)))})"
      case 2 => s"ABS(${numExpr(r, d - 1)})"
      case 3 => s"IFNULL(${numExpr(r, d - 1)}, ${intLit(r)})"
      case 4 => s"CASE WHEN ${boolExpr(r, d - 1)} THEN ${numExpr(r, d - 1)}" +
        s" ELSE ${numExpr(r, d - 1)} END"
      case 5 => s"NULLIF(${numExpr(r, d - 1)}, ${intLit(r)})"
      case _ => numExpr(r, 0)
    }

  private def strExpr(r: Random, d: Int): String =
    if (d <= 0) pick(r, Seq("s", "g", "'zz'", "''"))
    else r.nextInt(5) match {
      case 0 => s"TO_UPPER(${strExpr(r, d - 1)})"
      case 1 => s"TO_LOWER(${strExpr(r, d - 1)})"
      case 2 => s"IFNULL(${strExpr(r, d - 1)}, 'nn')"
      case 3 => s"CAST(${pick(r, Seq("a", "b"))} AS STRING)"
      case _ => strExpr(r, 0)
    }

  private def boolExpr(r: Random, d: Int): String =
    if (d <= 0) r.nextInt(6) match {
      case 0 => s"${pick(r, Seq("a", "b", "id", "c"))} ${pick(r, Seq("<", "<=", ">", ">="))} ${intLit(r)}"
      case 1 => s"${pick(r, Seq("a", "b"))} ${pick(r, Seq("=", "<>"))} ${pick(r, Seq("b", "1", "3"))}"
      case 2 => s"${pick(r, Seq("a", "c", "s", "f"))} IS${if (r.nextBoolean()) " NOT" else ""} NULL"
      case 3 => s"${pick(r, Seq("a", "b"))} IN (${Seq.fill(1 + r.nextInt(3))(r.nextInt(6) - 1).distinct.mkString(", ")})"
      case 4 => s"s IN (${Seq.fill(1 + r.nextInt(2))(s"'${pick(r, Seq("ab", "cd", "xy", "qq"))}'").distinct.mkString(", ")})"
      case _ => s"${pick(r, Seq("b", "id"))} ${if (r.nextBoolean()) "BETWEEN 1 AND 5" else "NOT BETWEEN 2 AND 7"}"
    }
    else r.nextInt(4) match {
      case 0 => s"(${boolExpr(r, d - 1)} ${pick(r, Seq("AND", "OR"))} ${boolExpr(r, d - 1)})"
      case 1 => s"NOT (${boolExpr(r, d - 1)})"
      case _ => boolExpr(r, 0)
    }

  // ---- comparison ----------------------------------------------------------

  private def rend(v: Any): String = v match {
    case null => "∅"
    case d: java.lang.Double => d.toString
    case t: java.sql.Timestamp => t.toString
    case x => x.toString
  }

  private def rendRow(row: Row): String =
    (0 until row.length).map(k => rend(row.get(k))).mkString("|")

  private def multisetDiff(got: Seq[Row], want: Seq[Row]): Option[String] = {
    val g = got.map(rendRow).sorted
    val w = want.map(rendRow).sorted
    if (g == w) None
    else {
      val extra = g.diff(w).take(3)
      val missing = w.diff(g).take(3)
      Some(s"got ${g.size} rows, want ${w.size}; " +
        s"extra=[${extra.mkString("; ")}] missing=[${missing.mkString("; ")}]")
    }
  }

  /** Last update per group key (collect order IS emission order: the
    * memory sink stores batches sequentially and update mode emits at
    * most one row per changed group per batch). */
  private def lastPerKey(rows: Seq[Row], keyIdx: Seq[Int]): Map[String, String] =
    rows.foldLeft(Map.empty[String, String]) { (m, row) =>
      m.updated(keyIdx.map(k => rend(row.get(k))).mkString("|"), rendRow(row))
    }

  private def keyedDiff(got: Seq[Row], want: Seq[Row],
                        keyIdx: Seq[Int]): Option[String] = {
    val g = lastPerKey(got, keyIdx)
    val w = want.map(row =>
      keyIdx.map(k => rend(row.get(k))).mkString("|") -> rendRow(row)).toMap
    if (g == w) None
    else {
      val badKeys = (g.keySet ++ w.keySet).filter(k => g.get(k) != w.get(k)).take(3)
      Some(badKeys.map(k => s"key $k: got=${g.get(k)} want=${w.get(k)}")
        .mkString("; "))
    }
  }

  // ---- scenarios -----------------------------------------------------------

  def run(spark: SparkSession, seed: Long, n: Int = 14): Seq[Report] =
    (0 until n).map(i => runOne(spark, seed, i))

  private def runOne(spark: SparkSession, seed: Long, i: Int): Report = {
    val r = mix(seed, i)
    val kind = Vector("stateless", "agg", "tumble", "hop", "csas",
      "join", "view")(i % 7)
    val name = f"ssf_${seed}%d_${i}%02d_$kind"
    val src = s"ssfs_${seed}_$i"
    val src2 = s"ssfs2_${seed}_$i"
    val out = s"ssfo_${seed}_$i"
    val view = s"ssfv_${seed}_$i"
    val view2 = s"ssfv2_${seed}_$i"
    val e = new SqlEngine(spark)
    val started = scala.collection.mutable.ArrayBuffer.empty[String]
    if (kind == "join") return runJoin(spark, e, r, name, src, src2, out,
      view, view2)
    if (kind == "view") return runView(spark, e, r, name, src, out,
      view, view2)
    try {
      val rows = genRows(r, 30 + r.nextInt(30),
        nullTs = kind == "stateless" || kind == "csas")
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(rowOf), 2), viewSchema)
        .createOrReplaceTempView(view)
      e.sql(s"CREATE STREAM $src (id INTEGER, a INTEGER, b INTEGER, " +
        "c FLOAT, s STRING, g STRING, f BOOLEAN, _ts TIMESTAMP);")

      // the select body, parameterized on the FROM table (stream vs view)
      val where =
        if (r.nextBoolean()) s" WHERE ${boolExpr(r, 2)}" else ""
      val (body, keyCols): (String => String, Seq[String]) = kind match {
        case "stateless" | "csas" =>
          val e1 = s"ROUND((${numExpr(r, 2)}) * 1.0, 4) AS e1"
          val e2 = s"${strExpr(r, 2)} AS e2"
          ((t: String) => s"SELECT id, $e1, $e2, _ts FROM $t$where", Nil)
        case "agg" =>
          val keys = if (r.nextBoolean()) Seq("g") else Seq("g", "a")
          val aggs = Seq(
            "COUNT(*) AS cnt",
            s"SUM(${intExpr(r, 2)}) AS sv",
            s"MIN(${numExpr(r, 1)}) AS mn",
            s"AVG(${intExpr(r, 1)}) AS av")
          val having = if (r.nextBoolean()) " HAVING COUNT(*) >= 2" else ""
          ((t: String) => s"SELECT ${keys.mkString(", ")}, ${aggs.mkString(", ")}" +
            s" FROM $t$where GROUP BY ${keys.mkString(", ")}$having", keys)
        case _ => // tumble | hop
          val win =
            if (kind == "tumble") "TUMBLE(%s, INTERVAL 1 MINUTE)"
            else "HOP(%s, INTERVAL 2 MINUTE, INTERVAL 1 MINUTE)"
          val aggs = Seq("COUNT(*) AS cnt", s"SUM(${intExpr(r, 2)}) AS sv",
            s"MAX(${numExpr(r, 1)}) AS mx")
          val having = if (r.nextBoolean()) " HAVING COUNT(*) >= 2" else ""
          ((t: String) => s"SELECT g, ${aggs.mkString(", ")}" +
            s" FROM ${win.format(t)}$where GROUP BY g$having",
            Seq("g", "window_start"))
      }

      // start the streaming side
      val qname: String = kind match {
        case "csas" =>
          val dir = Files.createTempDirectory("ssf_wire").toString
          e.engine.createFileStream(out, dir, StructType(Seq(
            StructField("id", LongType), StructField("e1", DoubleType),
            StructField("e2", StringType), StructField("_ts", TimestampType))),
            wire = true)
          e.sql(s"CREATE STREAM $out AS ${body(src)};")
          started += out
          val st = e.sql(s"SELECT * FROM $out EMIT CHANGES;")
            .asInstanceOf[e.Started]
          started += st.query.name
          st.query.name
        case _ =>
          val st = e.sql(s"${body(src)} EMIT CHANGES;").asInstanceOf[e.Started]
          started += st.query.name
          st.query.name
      }

      // feed through the statement surface, one INSERT statement per row
      rows.foreach(rec => e.sql(s"INSERT INTO $src VALUES '${json(rec)}';"))
      e.engine.processAll()

      val got = spark.table(qname).collect().toSeq
      val wantDf = e.batch(s"${body(view)};")
      val want = wantDf.collect().toSeq

      // schema names must agree (the translation path is shared, but the
      // streaming side passes through sink encode/decode for CSAS)
      val gotNames = spark.table(qname).schema.fieldNames.toSeq
      val wantNames = wantDf.schema.fieldNames.toSeq
      val nulls = rows.map(_.nulls).sum
      if (got.nonEmpty && gotNames != wantNames)
        Report(name, ok = false,
          s"schema mismatch: got $gotNames want $wantNames")
      else {
        val diff =
          if (keyCols.isEmpty) multisetDiff(got, want)
          else keyedDiff(got, want, keyCols.map(wantNames.indexOf))
        diff match {
          case Some(d) => Report(name, ok = false, s"[${body(src)}] $d")
          case None => Report(name, ok = true, "", inserted = rows.size,
            nullFields = nulls, survivors = want.size,
            groups = if (keyCols.nonEmpty) want.size else 0)
        }
      }
    } finally {
      started.foreach(q => try e.sql(s"TERMINATE QUERY $q;")
        catch { case _: Exception => () })
      try e.sql(s"DROP STREAM $src;") catch { case _: Exception => () }
      try e.sql(s"DROP STREAM $out;") catch { case _: Exception => () }
      spark.catalog.dropTempView(view)
    }
  }

  /** Stream-stream WITHIN join through the SQL surface: equi (ON l.g =
    * rr.g) or KEYLESS CROSS — the r15 banded streaming path — started the
    * way the reference runs continuous joins: the SELECT resolves to a
    * streaming plan and a CSAS appends its matches (stream-stream joins
    * are append-mode; EMIT CHANGES' update mode cannot host them). Inner
    * and cross joins emit every match independent of batch boundaries and
    * arrival interleaving, so the multiset against the batch run of the
    * same text over the same rows is exact. */
  private def runJoin(spark: SparkSession, e: SqlEngine, r: Random,
                      name: String, src: String, src2: String, out: String,
                      view: String, view2: String): Report = {
    val started = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val rowsL = genRows(r, 25 + r.nextInt(15), nullTs = false)
      val rowsR = genRows(r, 25 + r.nextInt(15), nullTs = false)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rowsL.map(rowOf), 2), viewSchema)
        .createOrReplaceTempView(view)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rowsR.map(rowOf), 2), viewSchema)
        .createOrReplaceTempView(view2)
      val ddl = "(id INTEGER, a INTEGER, b INTEGER, c FLOAT, s STRING, " +
        "g STRING, f BOOLEAN, _ts TIMESTAMP)"
      e.sql(s"CREATE STREAM $src $ddl;")
      e.sql(s"CREATE STREAM $src2 $ddl;")
      val within = s"WITHIN (INTERVAL ${1 + r.nextInt(2)} MINUTE)"
      val cross = r.nextBoolean()
      def body(t1: String, t2: String): String = {
        val jc =
          if (cross) s"CROSS JOIN $t2 AS rr $within"
          else s"JOIN $t2 AS rr ON l.g = rr.g $within"
        "SELECT l.id AS lid, rr.id AS rid, " +
          "ROUND((IFNULL(l.a, 0) + IFNULL(rr.b, 0)) * 1.0, 4) AS e1 " +
          s"FROM $t1 AS l $jc"
      }
      val q = e.sql(s"${body(src, src2)};").asInstanceOf[e.Rows]
      val sink = out + "_sink"
      e.engine.createStreamAs(sink, q.df)
      started += sink
      rowsL.foreach(rec => e.sql(s"INSERT INTO $src VALUES '${json(rec)}';"))
      rowsR.foreach(rec => e.sql(s"INSERT INTO $src2 VALUES '${json(rec)}';"))
      e.engine.processAll()
      val got = spark.table(sink).collect().toSeq
      val wantDf = e.batch(s"${body(view, view2)};")
      val want = wantDf.collect().toSeq
      val gotNames = spark.table(sink).schema.fieldNames.toSeq
      if (got.nonEmpty && gotNames != wantDf.schema.fieldNames.toSeq)
        Report(name, ok = false, s"schema mismatch: got $gotNames " +
          s"want ${wantDf.schema.fieldNames.toSeq}")
      else multisetDiff(got, want) match {
        case Some(d) => Report(name, ok = false,
          s"[${body(src, src2)}${if (cross) " (cross)" else ""}] $d")
        case None => Report(name, ok = true, "",
          inserted = rowsL.size + rowsR.size,
          nullFields = (rowsL ++ rowsR).map(_.nulls).sum,
          survivors = want.size)
      }
    } finally {
      started.foreach(q => try e.sql(s"TERMINATE QUERY $q;")
        catch { case _: Exception => () })
      try e.sql(s"DROP STREAM $src;") catch { case _: Exception => () }
      try e.sql(s"DROP STREAM $src2;") catch { case _: Exception => () }
      spark.catalog.dropTempView(view)
      spark.catalog.dropTempView(view2)
    }
  }

  /** Materialized VIEW through the SQL surface: grammar-drawn CREATE
    * VIEW (unwindowed or TUMBLE aggregation; keys plain, self-aliased,
    * or ABSENT from the output — the shapes SqlEngine's incremental-vs-
    * complete mode decision discriminates on), maintained LIVE across
    * two insert phases, with a pull after each phase — sometimes through
    * a key-filtered WHERE — compared against the same aggregation text
    * run through the batch path over exactly the rows appended so far.
    * This is ViewFuzz's twin claim re-asserted at the STATEMENT surface:
    * whatever maintenance mode the dialect layer picked, a pull equals
    * the from-scratch recompute. */
  private def runView(spark: SparkSession, e: SqlEngine, r: Random,
                      name: String, src: String, out: String,
                      view: String, view2: String): Report = {
    val vname = out // the materialized view's engine name
    try {
      val rows = genRows(r, 40 + r.nextInt(20), nullTs = false)
      val split = rows.size / 2
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.take(split).map(rowOf), 2),
        viewSchema).createOrReplaceTempView(view)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(rowOf), 2), viewSchema)
        .createOrReplaceTempView(view2)
      e.sql(s"CREATE STREAM $src (id INTEGER, a INTEGER, b INTEGER, " +
        "c FLOAT, s STRING, g STRING, f BOOLEAN, _ts TIMESTAMP);")
      // key rendering draws the decision-relevant shapes: bare ref,
      // self-alias (still incremental), or dropped from the output
      // (forces complete mode)
      val keyOut = pick(r, Seq("g", "g AS g", ""))
      val windowed = r.nextBoolean()
      val from = if (windowed) s"TUMBLE($src, INTERVAL 1 MINUTE)" else src
      val aggs = Seq("COUNT(*) AS cnt", s"SUM(${intExpr(r, 2)}) AS sv",
        s"AVG(${intExpr(r, 1)}) AS av")
      val items = (if (keyOut.isEmpty) aggs else keyOut +: aggs).mkString(", ")
      val where = if (r.nextBoolean()) s" WHERE ${boolExpr(r, 1)}" else ""
      def body(t: String): String = {
        val f = if (windowed) s"TUMBLE($t, INTERVAL 1 MINUTE)" else t
        s"SELECT $items FROM $f$where GROUP BY g"
      }
      e.sql(s"CREATE VIEW $vname AS ${body(src)};")
      // a key-filtered pull exercises the serving path's pushdown; only
      // when the key is in the output (else the view has no `g` column)
      val pullWhere =
        if (keyOut.nonEmpty && r.nextBoolean()) s" WHERE g = 'g${r.nextInt(4)}'"
        else ""
      def phase(refView: String, tag: String): Option[String] = {
        val got = e.sql(s"SELECT * FROM $vname$pullWhere;")
          .asInstanceOf[e.Rows].df.collect().toSeq
        val wantDf = e.batch(s"${body(refView)};")
        val wantAll = wantDf.collect().toSeq
        val gIdx = wantDf.schema.fieldNames.indexOf("g")
        val want =
          if (pullWhere.isEmpty) wantAll
          else wantAll.filter(row =>
            rend(row.get(gIdx)) == pullWhere.split("'")(1))
        multisetDiff(got, want).map(d => s"$tag: [${body(src)}]$pullWhere $d")
      }
      rows.take(split).foreach(rec =>
        e.sql(s"INSERT INTO $src VALUES '${json(rec)}';"))
      e.engine.processAll()
      val d1 = phase(view, "phase1")
      rows.drop(split).foreach(rec =>
        e.sql(s"INSERT INTO $src VALUES '${json(rec)}';"))
      e.engine.processAll()
      val d2 = phase(view2, "phase2")
      d1.orElse(d2) match {
        case Some(d) => Report(name, ok = false, d)
        case None =>
          val finalGroups = e.batch(s"${body(view2)};").count().toInt
          Report(name, ok = true, "", inserted = rows.size,
            nullFields = rows.map(_.nulls).sum, survivors = finalGroups,
            groups = finalGroups)
      }
    } finally {
      try e.sql(s"DROP VIEW $vname;") catch { case _: Exception => () }
      try e.sql(s"DROP STREAM $src;") catch { case _: Exception => () }
      spark.catalog.dropTempView(view)
      spark.catalog.dropTempView(view2)
    }
  }

  def main(args: Array[String]): Unit = {
    val seeds = args.headOption.getOrElse("1").split(",").map(_.trim.toLong)
    val n = if (args.length > 1) args(1).toInt else 14
    val spark = Sessions.local(Sessions.cpus(8))
    var ok = 0; var fail = 0; var ins = 0; var nulls = 0; var surv = 0
    seeds.foreach { s =>
      run(spark, s, n).foreach { rep =>
        if (rep.ok) {
          ok += 1; ins += rep.inserted; nulls += rep.nullFields
          surv += rep.survivors
          System.err.println(s"[ssf] ok   ${rep.name} rows=${rep.inserted}" +
            s" out=${rep.survivors}")
        } else { fail += 1; System.err.println(s"[ssf] FAIL ${rep.name}: ${rep.detail}") }
      }
    }
    println(s"""{"metric":"streamsqlfuzz","ok":$ok,"fail":$fail,"rows":$ins,"nullFields":$nulls,"outRows":$surv,"seeds":"${seeds.mkString(",")}"}""")
    spark.stop()
    if (fail > 0) sys.exit(1)
  }
}
