package graft.sql

import org.apache.spark.sql.Row
import graft.SparkSpec

/** End-to-end dialect execution over live streams — the reference's server
  * integration tests (hstream/test/HStream/RunSQLSpec.hs:50-128) re-run
  * against our engine: create stream → insert → continuous query → assert
  * final values.
  */
class SqlEngineSpec extends SparkSpec {

  test("insert → filter/project push query (RunSQLSpec.hs:50-64)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM st1 (a INTEGER, b INTEGER, _ts TIMESTAMP);")
    val started = e.sql("SELECT a, a * 2 AS x FROM st1 WHERE b > 1 EMIT CHANGES;")
      .asInstanceOf[e.Started]
    e.sql("""INSERT INTO st1 (a, b, _ts) VALUES (1, 1, '2024-01-01 00:00:00');""")
    e.sql("""INSERT INTO st1 (a, b, _ts) VALUES (2, 2, '2024-01-01 00:00:01');""")
    e.sql("""INSERT INTO st1 VALUES '{"a": 5, "b": 9, "_ts": "2024-01-01 00:00:02"}';""")
    e.engine.processAll()
    val name = started.query.name
    val got = spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 4L), (5L, 10L)))
    e.sql(s"TERMINATE QUERY $name;")
  }

  test("grouped aggregation with HAVING over a stream (RunSQLSpec GROUP BY cases)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM st2 (k STRING, v INTEGER, _ts TIMESTAMP);")
    val q = e.sql(
      "SELECT k, SUM(v) AS s, COUNT(*) AS c FROM st2 GROUP BY k HAVING SUM(v) >= 3 EMIT CHANGES;")
      .asInstanceOf[e.Started]
    Seq(("a", 1), ("a", 2), ("b", 1), ("c", 7)).zipWithIndex.foreach { case ((k, v), i) =>
      e.sql(s"INSERT INTO st2 (k, v, _ts) VALUES ('$k', $v, '2024-01-01 00:00:0$i');")
    }
    e.engine.processAll()
    val last = spark.table(q.query.name).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    assert(last("a") == (3L, 2L) && last("c") == (7L, 1L) && !last.contains("b"))
    e.sql(s"TERMINATE QUERY ${q.query.name};")
  }

  test("HAVING over an aggregate absent from the SELECT list joins the Reduce") {
    val e = new SqlEngine(spark)
    import spark.implicits._
    Seq(("a", 1L), ("a", 2L), ("b", 9L)).toDF("k", "v")
      .createOrReplaceTempView("hv1")
    val got = e.batch(
      "SELECT k, SUM(v) AS s FROM hv1 GROUP BY k HAVING COUNT(*) > 1;")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 3L)), s"got $got")
  }

  test("tumbling window via FROM TUMBLE (SQL-v1.cf:128)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM st3 (k STRING, v INTEGER, _ts TIMESTAMP);")
    val q = e.sql(
      "SELECT k, SUM(v) AS s FROM TUMBLE(st3, INTERVAL 1 MINUTE) GROUP BY k EMIT CHANGES;")
      .asInstanceOf[e.Started]
    e.sql("INSERT INTO st3 (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:10');")
    e.sql("INSERT INTO st3 (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:00:50');")
    e.sql("INSERT INTO st3 (k, v, _ts) VALUES ('a', 10, '2024-01-01 00:01:10');")
    e.engine.processAll()
    val rows = spark.table(q.query.name).collect()
    // window bounds are appended (Codegen/V1.hs:422-425)
    assert(rows.head.schema.fieldNames.toSeq == Seq("k", "s", "window_start", "window_end"))
    val byWindow = rows.map(r => r.getTimestamp(2).toString -> r.getLong(1))
      .groupBy(_._1).map { case (w, vs) => w -> vs.last._2 }
    assert(byWindow("2024-01-01 00:00:00.0") == 3L)
    assert(byWindow("2024-01-01 00:01:00.0") == 10L)
    e.sql(s"TERMINATE QUERY ${q.query.name};")
  }

  test("interval join via SQL WITHIN (Stream.hs:273-312)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM jl (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM jr (k2 STRING, w INTEGER, _ts TIMESTAMP);")
    val q = e.sql(
      """SELECT jl.k AS k, jl.v AS v, jr.w AS w FROM jl
         JOIN jr ON jl.k = jr.k2 WITHIN (INTERVAL 1 MINUTE);""")
      .asInstanceOf[e.Rows]
    // batch check of the join plan over the streams' data would need the
    // stream contents; instead start it as CSAS and feed records
    val started = e.engine.createStreamAs("jout", q.df)
    e.sql("INSERT INTO jl (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO jr (k2, w, _ts) VALUES ('a', 10, '2024-01-01 00:00:30');")
    e.sql("INSERT INTO jr (k2, w, _ts) VALUES ('a', 99, '2024-01-01 00:30:00');")
    e.engine.processAll()
    val got = spark.table("jout").collect().map(r => (r.getString(0), r.getLong(2))).toSet
    assert(got == Set(("a", 10L)))
    started.stop()
  }

  test("streaming CROSS JOIN WITHIN is banded: bucket-keyed state, boundary pairs kept") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM xl (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM xr (w INTEGER, _ts TIMESTAMP);")
    val q = e.sql(
      """SELECT xl.k AS k, xl.v AS v, xr.w AS w FROM xl
         CROSS JOIN xr WITHIN (INTERVAL 1 MINUTE);""").asInstanceOf[e.Rows]
    // the band must ride the STREAMING plan too (r14 VERDICT #4): a
    // keyless stream-stream join hashes all state to one partition; the
    // time-bucket column gives the symmetric hash join a distributing key
    assert(q.df.queryExecution.analyzed.toString.contains("__graft_jb"),
      "streaming WITHIN cross join lost its time-bucket band")
    val started = e.engine.createStreamAs("xout", q.df)
    e.sql("INSERT INTO xl (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO xl (k, v, _ts) VALUES ('b', 2, '2024-01-01 00:10:00');")
    // 30 s from a (same bucket); 50 s from b ACROSS a bucket boundary
    // (00:09:10 → bucket 9, 00:10:00 → bucket 10 — exercises the ±1
    // explode); 99 is >19 min from everything
    e.sql("INSERT INTO xr (w, _ts) VALUES (10, '2024-01-01 00:00:30');")
    e.sql("INSERT INTO xr (w, _ts) VALUES (20, '2024-01-01 00:09:10');")
    e.sql("INSERT INTO xr (w, _ts) VALUES (99, '2024-01-01 00:30:00');")
    e.engine.processAll()
    val got = spark.table("xout").collect()
      .map(r => (r.getString(0), r.getLong(2))).toSet
    assert(got == Set(("a", 10L), ("b", 20L)), s"got $got")
    started.stop()
  }

  test("chained 3-way interval join: batch resolution + live streaming CSAS") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM t3a (k STRING, va INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM t3b (k STRING, vb INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM t3c (k STRING, vc INTEGER, _ts TIMESTAMP);")
    // left-anchored chaining: b and c each within 1 minute of a
    val q = e.sql(
      """SELECT a.k AS k, a.va AS va, b.vb AS vb, c.vc AS vc
         FROM t3a AS a
         JOIN t3b AS b ON a.k = b.k WITHIN (INTERVAL 1 MINUTE)
         JOIN t3c AS c ON a.k = c.k WITHIN (INTERVAL 1 MINUTE);""")
      .asInstanceOf[e.Rows]
    val started = e.engine.createStreamAs("t3out", q.df)
    e.sql("INSERT INTO t3a (k, va, _ts) VALUES ('x', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO t3b (k, vb, _ts) VALUES ('x', 2, '2024-01-01 00:00:20');")
    e.sql("INSERT INTO t3c (k, vc, _ts) VALUES ('x', 3, '2024-01-01 00:00:40');")
    // outside the 1-minute anchor window of a — must not join
    e.sql("INSERT INTO t3c (k, vc, _ts) VALUES ('x', 9, '2024-01-01 00:30:00');")
    e.engine.processAll()
    val got = spark.table("t3out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("x", 1L, 2L, 3L)), s"got $got")
    started.stop()
  }

  test("4-way chained join + inner-leaf column ownership in collisions") {
    val e = new SqlEngine(spark)
    import spark.implicits._
    // 4-way: after (a⋈b)⋈c, c's plain _ts survives un-renamed in the
    // chained left side — the 4th join must still anchor at a's _ts
    // (eventTs checks anchor-literal columns before plain ones)
    Seq(("x", 1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "va", "_ts").createOrReplaceTempView("f4a")
    Seq(("x", 2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10")))
      .toDF("k", "vb", "_ts").createOrReplaceTempView("f4b")
    Seq(("x", 3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:20")))
      .toDF("k", "vc", "_ts").createOrReplaceTempView("f4c")
    Seq(("x", 4L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30")),
        ("x", 9L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")))
      .toDF("k", "vd", "_ts").createOrReplaceTempView("f4d")
    val got = e.batch(
      """SELECT a.va AS va, b.vb AS vb, c.vc AS vc, d.vd AS vd
         FROM f4a AS a
         JOIN f4b AS b ON a.k = b.k WITHIN (INTERVAL 1 MINUTE)
         JOIN f4c AS c ON a.k = c.k WITHIN (INTERVAL 1 MINUTE)
         JOIN f4d AS d ON a.k = d.k WITHIN (INTERVAL 1 MINUTE);""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 2L, 3L, 4L)), s"got $got")

    // inner-leaf ownership: b's w survives join 1 plain, collides with c's
    // w in join 2 — it must be addressable as b.w (not mislabeled a.w)
    Seq(("x", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("k", "_ts").createOrReplaceTempView("o3a")
    Seq(("x", 20L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10")))
      .toDF("k", "w", "_ts").createOrReplaceTempView("o3b")
    Seq(("x", 30L, java.sql.Timestamp.valueOf("2024-01-01 00:00:20")))
      .toDF("k", "w", "_ts").createOrReplaceTempView("o3c")
    val own = e.batch(
      """SELECT b.w AS bw, c.w AS cw
         FROM o3a AS a
         JOIN o3b AS b ON a.k = b.k WITHIN (INTERVAL 1 MINUTE)
         JOIN o3c AS c ON a.k = c.k WITHIN (INTERVAL 1 MINUTE);""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(own == Set((20L, 30L)), s"got $own")
  }

  test("RIGHT outer join USING under streaming CSAS coalesces the key (Translate.usingJoin)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM rjl (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM rjr (k STRING, w INTEGER, _ts TIMESTAMP);")
    val q = e.sql(
      """SELECT k, v, w FROM rjl RIGHT JOIN rjr USING (k)
         WITHIN (INTERVAL 1 MINUTE);""").asInstanceOf[e.Rows]
    val started = e.engine.createStreamAs("rjout", q.df)
    e.sql("INSERT INTO rjl (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO rjr (k, w, _ts) VALUES ('a', 10, '2024-01-01 00:00:30');")
    e.sql("INSERT INTO rjr (k, w, _ts) VALUES ('b', 20, '2024-01-01 00:00:30');")
    e.engine.processAll()
    // flush both watermarks past the window so the unmatched right row
    // ('b') must emit — with its key COALESCED from the right side, not null
    e.sql("INSERT INTO rjl (k, v, _ts) VALUES ('zf', 0, '2024-01-01 02:00:00');")
    e.sql("INSERT INTO rjr (k, w, _ts) VALUES ('zf', 0, '2024-01-01 02:00:00');")
    e.engine.processAll()
    val got = spark.table("rjout").collect()
      .filter(r => Set("a", "b").contains(r.getString(0)))
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 1L, 10L), ("b", -1L, 20L)), s"got $got")
    started.stop()
  }

  test("materialized view + pull query with WHERE (Core/View.hs:166-254)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM st5 (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE VIEW v5 AS SELECT k, SUM(v) AS total FROM st5 GROUP BY k;")
    e.sql("INSERT INTO st5 (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO st5 (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:00:01');")
    e.sql("INSERT INTO st5 (k, v, _ts) VALUES ('b', 5, '2024-01-01 00:00:02');")
    e.engine.processAll()
    val rows = e.sql("SELECT k, total FROM v5 WHERE total > 2;").asInstanceOf[e.Rows]
    assert(rows.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 3L), ("b", 5L)))
    e.sql("DROP VIEW v5;")
  }

  test("a view with HAVING drops a key whose aggregate stops passing it") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM hs (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE VIEW hvw AS SELECT k, SUM(v) AS t FROM hs GROUP BY k HAVING SUM(v) < 10;")
    def pulled = e.sql("SELECT k, t FROM hvw;").asInstanceOf[e.Rows].df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    e.sql("INSERT INTO hs (k, v, _ts) VALUES ('a', 5, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO hs (k, v, _ts) VALUES ('b', 1, '2024-01-01 00:00:01');")
    e.engine.processAll()
    assert(pulled == Set(("a", 5L), ("b", 1L)))
    // a's sum reaches 15: batch semantics drop it from the view
    e.sql("INSERT INTO hs (k, v, _ts) VALUES ('a', 10, '2024-01-01 00:00:02');")
    e.engine.processAll()
    assert(pulled == Set(("b", 1L)))
    e.sql("DROP VIEW hvw;")
    e.sql("DROP STREAM hs;")
  }

  test("batch dialect SQL over registered tables (scalar functions)") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq((1L, "Hello World", 4.0), (2L, "bye", 16.0)))
      .toDF("id", "s", "x").createOrReplaceTempView("t6")
    val df = e.sql(
      """SELECT id, TO_UPPER(s) AS u, STRLEN(s) AS n, SQRT(x) AS r,
         TAKE(3, s) AS t, IFNULL(NULLIF(s, 'bye'), 'was-bye') AS nn
         FROM t6 WHERE x BETWEEN 1 AND 20;""").asInstanceOf[e.Rows]
    val got = df.df.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getString(4), r.getString(5))).toSet
    assert(got == Set(
      (1L, "HELLO WORLD", 11, 2.0, "Hel", "Hello World"),
      (2L, "BYE", 3, 4.0, "bye", "was-bye")))
  }

  test("SESSION window via dialect EMIT CHANGES (append-mode, gap merge)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM ss (k STRING, v INTEGER, _ts TIMESTAMP);")
    val q = e.sql(
      "SELECT k, COUNT(*) AS c FROM SESSION(ss, INTERVAL 30 SECOND) GROUP BY k EMIT CHANGES;")
      .asInstanceOf[e.Started]
    e.sql("INSERT INTO ss (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO ss (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:10');")
    e.engine.processAll()
    // flush record a day later closes the session past the 24h default grace
    e.sql("INSERT INTO ss (k, v, _ts) VALUES ('zz', 0, '2024-01-03 00:00:00');")
    e.engine.processAll()
    val rows = spark.table(q.query.name).collect().filter(_.getString(0) == "a")
    assert(rows.map(r => r.getLong(1)).toSeq == Seq(2L))
    e.sql(s"TERMINATE QUERY ${q.query.name};")
  }

  test("two-hop pipeline: stream → CSAS → view (RegressionSpec two-hop cases)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM hop0 (k STRING, v INTEGER, _ts TIMESTAMP);")
    // hop 1: continuous filter into a derived stream (memory table "hop1")
    e.sql("CREATE STREAM hop1 AS SELECT k, v, _ts FROM hop0 WHERE v > 1;")
    e.sql("INSERT INTO hop0 (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO hop0 (k, v, _ts) VALUES ('a', 5, '2024-01-01 00:00:01');")
    e.sql("INSERT INTO hop0 (k, v, _ts) VALUES ('b', 9, '2024-01-01 00:00:02');")
    e.engine.processAll()
    // hop 2: aggregate the derived stream's output (batch over the sink
    // table — the view-over-derived-stream shape)
    val rows = e.sql("SELECT k, SUM(v) AS s FROM hop1 GROUP BY k;").asInstanceOf[e.Rows]
    assert(rows.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 5L), ("b", 9L)))
    e.sql("TERMINATE QUERY hop1;")
  }

  test("INSERT INTO stream SELECT feeds the target stream (Codegen/V1.hs:151-160)") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM isrc (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM idst (k STRING, v INTEGER, _ts TIMESTAMP);")
    // downstream query over the TARGET stream
    val q = e.sql("SELECT k, v FROM idst EMIT CHANGES;").asInstanceOf[e.Started]
    // continuous INSERT-SELECT from source into target
    e.sql("INSERT INTO idst SELECT k, v * 10 AS v, _ts FROM isrc WHERE v > 1;")
    e.sql("INSERT INTO isrc (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO isrc (k, v, _ts) VALUES ('b', 2, '2024-01-01 00:00:01');")
    e.engine.processAll()
    e.engine.processAll() // second pass: rows inserted by batch 1 flow through
    val got = spark.table(q.query.name).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("b", 20L)))
    e.sql(s"TERMINATE QUERY ${q.query.name};")
    e.sql("TERMINATE QUERY insert_idst;")
  }

  test("FROM-clause subquery (accepted; reference rejects — AST.hs:593)") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq(("a", 1L), ("a", 5L), ("b", 2L)))
      .toDF("k", "v").createOrReplaceTempView("t8")
    val rows = e.sql(
      "SELECT k, SUM(bigv) AS s FROM (SELECT k, v * 10 AS bigv FROM t8 WHERE v > 1) GROUP BY k;")
      .asInstanceOf[e.Rows]
    assert(rows.df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 50L), ("b", 20L)))
  }

  test("join collisions surface as stream.field names (Rts/Old.hs:200-209)") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq((1L, "x", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))))
      .toDF("id", "v", "ts").createOrReplaceTempView("cja")
    spark.createDataFrame(Seq((1L, "y", java.sql.Timestamp.valueOf("2024-01-01 00:00:10"))))
      .toDF("id", "v", "ts").createOrReplaceTempView("cjb")
    val df = e.batch(
      """SELECT * FROM cja AS a JOIN cjb AS b ON a.id = b.id
         WITHIN (INTERVAL 1 MINUTE);""")
    // colliding fields are qualified; both copies present
    assert(df.columns.toSet == Set("a.id", "a.v", "a.ts", "b.id", "b.v", "b.ts"))
    val r = df.head()
    assert(r.getAs[String]("a.v") == "x" && r.getAs[String]("b.v") == "y")
  }

  test("JSONB stream column: nested payload round-trips through -> ops") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM js (id INTEGER, props JSONB, _ts TIMESTAMP);")
    e.sql("""INSERT INTO js VALUES '{"id": 1, "props": {"user": {"name": "ada", "age": 36}}, "_ts": "2024-01-01 00:00:00"}';""")
    val q = e.sql(
      """SELECT id, props #>> {'user','name'} AS name,
                (props -> 'user') ->> 'age' AS age
         FROM js EMIT CHANGES;""").asInstanceOf[e.Started]
    e.engine.processAll()
    val r = spark.table(q.query.name).head()
    assert(r.getLong(0) == 1L && r.getString(1) == "ada" && r.getString(2) == "36")
    e.sql(s"TERMINATE QUERY ${q.query.name};")
  }

  test("spark.graft.emitPerRow=true: dialect EMIT CHANGES gets per-row cadence") {
    spark.conf.set("spark.graft.emitPerRow", "true")
    try {
      val e = new SqlEngine(spark)
      e.sql("CREATE STREAM prc (k STRING, v INTEGER, _ts TIMESTAMP);")
      val q = e.sql(
        """SELECT k, COUNT(*) AS n, SUM(v) AS s FROM prc
           GROUP BY k EMIT CHANGES;""").asInstanceOf[e.Started]
      // three rows in ONE micro-batch: per-row cadence emits THREE
      // cumulative states (micro-batch coalescing would emit one)
      e.sql("INSERT INTO prc (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:00:00');")
      e.sql("INSERT INTO prc (k, v, _ts) VALUES ('a', 3, '2024-01-01 00:00:01');")
      e.sql("INSERT INTO prc (k, v, _ts) VALUES ('a', 10, '2024-01-01 00:00:02');")
      e.engine.processAll()
      val rows = spark.table(q.query.name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(("a", 1L, 2L), ("a", 2L, 5L), ("a", 3L, 15L)), s"got $rows")
      e.sql(s"TERMINATE QUERY ${q.query.name};")
      e.sql("DROP STREAM prc;")
    } finally spark.conf.unset("spark.graft.emitPerRow")
  }

  test("emitPerRow over TUMBLE: per-row cadence, schema + final states twin the micro-batch path") {
    val text = """SELECT k, COUNT(*) AS n, SUM(v) AS s
                  FROM TUMBLE(wpr, INTERVAL 1 MINUTE) GROUP BY k EMIT CHANGES;"""
    def run(perRow: Boolean): (org.apache.spark.sql.types.StructType, Set[(String, Long, Long, String)]) = {
      if (perRow) spark.conf.set("spark.graft.emitPerRow", "true")
      try {
        val e = new SqlEngine(spark)
        e.sql("CREATE STREAM wpr (k STRING, v INTEGER, _ts TIMESTAMP);")
        val q = e.sql(text).asInstanceOf[e.Started]
        e.sql("INSERT INTO wpr (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:00:10');")
        e.sql("INSERT INTO wpr (k, v, _ts) VALUES ('a', 3, '2024-01-01 00:00:40');")
        e.sql("INSERT INTO wpr (k, v, _ts) VALUES ('a', 10, '2024-01-01 00:01:20');")
        e.sql("INSERT INTO wpr (k, v, _ts) VALUES ('b', 7, '2024-01-01 00:00:50');")
        e.engine.processAll()
        val df = spark.table(q.query.name)
        val rows = df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), r.getAs[java.sql.Timestamp]("window_start").toString)).toSet
        e.sql(s"TERMINATE QUERY ${q.query.name};")
        e.sql("DROP STREAM wpr;")
        (df.schema, rows)
      } finally spark.conf.unset("spark.graft.emitPerRow")
    }
    val (batchSchema, batchRows) = run(perRow = false)
    val (perRowSchema, perRowRows) = run(perRow = true)
    // flipping the conf never changes the output shape
    assert(perRowSchema == batchSchema,
      s"schema drift: $perRowSchema vs $batchSchema")
    // per-row cadence: one emission per input row — the 'a'/w0 window shows
    // BOTH cumulative states, not just the coalesced final one
    val w0 = "2024-01-01 00:00:00.0"
    val w1 = "2024-01-01 00:01:00.0"
    assert(perRowRows == Set(
      ("a", 1L, 2L, w0), ("a", 2L, 5L, w0),
      ("a", 1L, 10L, w1), ("b", 1L, 7L, w0)), s"got $perRowRows")
    // twin: the micro-batch result is exactly the LAST per-row state of
    // every (key, window) — per-window maxima of the cumulative chain
    val finals = perRowRows.groupBy(r => (r._1, r._4))
      .map { case (_, states) => states.maxBy(_._2) }.toSet
    assert(finals == batchRows, s"per-row finals $finals vs micro-batch $batchRows")
  }

  test("emitPerRow over HOP: a row lands in size/advance windows, each with its own running state") {
    spark.conf.set("spark.graft.emitPerRow", "true")
    try {
      val e = new SqlEngine(spark)
      e.sql("CREATE STREAM hpr (k STRING, v INTEGER, _ts TIMESTAMP);")
      val q = e.sql(
        """SELECT k, SUM(v) AS s FROM HOP(hpr, INTERVAL 2 MINUTE, INTERVAL 1 MINUTE)
           GROUP BY k EMIT CHANGES;""").asInstanceOf[e.Started]
      e.sql("INSERT INTO hpr (k, v, _ts) VALUES ('a', 5, '2024-01-01 00:00:30');")
      e.engine.processAll()
      val rows = spark.table(q.query.name).collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getAs[java.sql.Timestamp]("window_start").toString)).toSet
      // one input row → TWO emissions, one per covering hop window
      // (TimeWindows.hs:42-48's landing rule through Spark's window())
      assert(rows == Set(
        ("a", 5L, "2023-12-31 23:59:00.0"),
        ("a", 5L, "2024-01-01 00:00:00.0")), s"got $rows")
      e.sql(s"TERMINATE QUERY ${q.query.name};")
      e.sql("DROP STREAM hpr;")
    } finally spark.conf.unset("spark.graft.emitPerRow")
  }

  test("emitPerRow over SESSION: per-row cadence with gap-merged fluid windows") {
    spark.conf.set("spark.graft.emitPerRow", "true")
    try {
      val e = new SqlEngine(spark)
      e.sql("CREATE STREAM spr (k STRING, v INTEGER, _ts TIMESTAMP);")
      val q = e.sql(
        """SELECT k, COUNT(*) AS n, SUM(v) AS s
           FROM SESSION(spr, INTERVAL 1 MINUTE) GROUP BY k EMIT CHANGES;"""
      ).asInstanceOf[e.Started]
      // rows 1+2 fall within one gap (session extends: end = last + gap);
      // row 3 is past the gap → a fresh session
      e.sql("INSERT INTO spr (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:00:10');")
      e.sql("INSERT INTO spr (k, v, _ts) VALUES ('a', 3, '2024-01-01 00:00:40');")
      e.sql("INSERT INTO spr (k, v, _ts) VALUES ('a', 10, '2024-01-01 00:05:00');")
      e.engine.processAll()
      val rows = spark.table(q.query.name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getAs[java.sql.Timestamp]("window_end").toString)).toSet
      // per-row cadence: the first session emits BOTH cumulative states,
      // and the second emission shows the EXTENDED end (00:00:40 + gap)
      assert(rows == Set(
        ("a", 1L, 2L, "2024-01-01 00:00:10.0", "2024-01-01 00:01:10.0"),
        ("a", 2L, 5L, "2024-01-01 00:00:10.0", "2024-01-01 00:01:40.0"),
        ("a", 1L, 10L, "2024-01-01 00:05:00.0", "2024-01-01 00:06:00.0")),
        s"got $rows")
      e.sql(s"TERMINATE QUERY ${q.query.name};")
      e.sql("DROP STREAM spr;")
    } finally spark.conf.unset("spark.graft.emitPerRow")
  }

  test("emitPerRow over SESSION: an out-of-gap-order row MERGES two open sessions") {
    spark.conf.set("spark.graft.emitPerRow", "true")
    try {
      val e = new SqlEngine(spark)
      e.sql("CREATE STREAM smr (k STRING, v INTEGER, _ts TIMESTAMP);")
      val q = e.sql(
        """SELECT k, COUNT(*) AS n, SUM(v) AS s
           FROM SESSION(smr, INTERVAL 1 MINUTE) GROUP BY k EMIT CHANGES;"""
      ).asInstanceOf[e.Started]
      // two disjoint sessions land first; the bridging row's [t, t+gap)
      // overlaps both → one merged session (min start / max end / merged
      // accumulators) — SessionWindowedStream.hs:93-138's merge rule
      e.sql("INSERT INTO smr (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
      e.sql("INSERT INTO smr (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:01:30');")
      e.engine.processAll()
      e.sql("INSERT INTO smr (k, v, _ts) VALUES ('a', 4, '2024-01-01 00:00:50');")
      e.engine.processAll()
      val rows = spark.table(q.query.name).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getAs[java.sql.Timestamp]("window_start").toString,
          r.getAs[java.sql.Timestamp]("window_end").toString)).toSet
      assert(rows == Set(
        ("a", 1L, 1L, "2024-01-01 00:00:00.0", "2024-01-01 00:01:00.0"),
        ("a", 1L, 2L, "2024-01-01 00:01:30.0", "2024-01-01 00:02:30.0"),
        // the merge: all three rows, bounds span both originals
        ("a", 3L, 7L, "2024-01-01 00:00:00.0", "2024-01-01 00:02:30.0")),
        s"got $rows")
      e.sql(s"TERMINATE QUERY ${q.query.name};")
      e.sql("DROP STREAM smr;")
    } finally spark.conf.unset("spark.graft.emitPerRow")
  }

  test("multi-statement script + SHOW VIEWS/QUERIES separation") {
    val e = new SqlEngine(spark)
    val results = e.script(
      """CREATE STREAM sc1 (k STRING, v INTEGER, _ts TIMESTAMP);
        |CREATE VIEW scv AS SELECT k, SUM(v) AS s FROM sc1 GROUP BY k;
        |INSERT INTO sc1 (k, v, _ts) VALUES ('a', 2, '2024-01-01 00:00:00');
        |INSERT INTO sc1 (k, v, _ts) VALUES ('a', 3, '2024-01-01 00:00:01');
        |SHOW VIEWS;""".stripMargin)
    assert(results.size == 5)
    assert(results.last.asInstanceOf[e.Done].info == "scv")
    e.sql("SHOW QUERIES;") match {
      case e.Done(info) => assert(!info.contains("scv")) // views listed separately
      case other => fail(other.toString)
    }
    e.engine.processAll()
    assert(e.sql("SELECT s FROM scv WHERE k = 'a';").asInstanceOf[e.Rows]
      .df.head().getLong(0) == 5L)
    e.script("DROP VIEW scv;DROP STREAM sc1;")
    assert(e.sql("SHOW VIEWS;").asInstanceOf[e.Done].info.isEmpty)
  }

  test("chained join: anchor leaf ts + pass-through leaf _ts resolves anchor's ts") {
    val e = new SqlEngine(spark)
    import java.sql.Timestamp
    spark.createDataFrame(Seq(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "e1"),
        (1L, Timestamp.valueOf("2024-01-01 00:05:00"), "e2")))
      .toDF("user_id", "ts", "event_id").createOrReplaceTempView("evmix")
    // b contributes an uncollided `_ts`; the second join's left side must
    // anchor on a's `ts`, not fail resolving `a._ts`
    val df = e.batch(
      """SELECT a.user_id AS user_id, COUNT(*) AS n
         FROM (SELECT user_id, ts, event_id FROM evmix) AS a
         JOIN (SELECT user_id, ts AS _ts, event_id FROM evmix) AS b
           ON a.user_id = b.user_id WITHIN (INTERVAL 30 MINUTE)
         JOIN (SELECT user_id, ts, event_id FROM evmix) AS c
           ON a.user_id = c.user_id WITHIN (INTERVAL 30 MINUTE)
         GROUP BY a.user_id;""")
    val r = df.head()
    assert(r.getLong(0) == 1L && r.getLong(1) == 8L) // 2×2×2 combinations
  }

  test("WITHIN-less join is batch-only: stream inputs still rejected") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM jw1 (k STRING, v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM jw2 (k STRING, v INTEGER, _ts TIMESTAMP);")
    try {
      val ex = intercept[Exception] {
        e.sql("SELECT a.v AS v FROM jw1 AS a JOIN jw2 AS b ON a.k = b.k;")
      }
      assert(ex.getMessage.contains("WITHIN"), ex.getMessage)
    } finally { e.sql("DROP STREAM jw1;"); e.sql("DROP STREAM jw2;") }
  }

  test("script splitter + lexer: '' escaped quote with embedded ';' literal") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq(Tuple1(1))).toDF("k")
      .createOrReplaceTempView("tsplit")
    // the '';'' literal must NOT split the first statement mid-string
    val rs = e.script(
      "SELECT 'it''s; fine' AS a FROM tsplit; SELECT 'x' AS b FROM tsplit;")
    assert(rs.size == 2)
    assert(e.batch("SELECT 'it''s; fine' AS a FROM tsplit;")
      .head().getString(0) == "it's; fine")
  }

  test("per-row (non-literal) formats: DATETOSTRING/STRINGTODATE/ARRAY_JOIN with column args") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq(
        (java.sql.Date.valueOf("2024-03-05"), "yyyy/MM/dd", "2024|03|05", "yyyy|MM|dd", "-"),
        (java.sql.Date.valueOf("2024-03-05"), "dd.MM.yyyy", "05.03.2024", "dd.MM.yyyy", "+")))
      .toDF("d", "fmt", "ds", "pfmt", "sep").createOrReplaceTempView("t9")
    val got = e.batch(
      """SELECT DATETOSTRING(d, fmt) AS out,
                STRINGTODATE(ds, pfmt) AS back,
                ARRAY_JOIN({'a','b'}, sep) AS joined
         FROM t9;""").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getString(2))).toSet
    assert(got == Set(
      ("2024/03/05", "2024-03-05", "a-b"),
      ("05.03.2024", "2024-03-05", "a+b")), got.toString)
  }

  test("SQL INSERT into a FORMAT='wire' stream wire-encodes typed literals") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM ws (k STRING, v INTEGER, _ts TIMESTAMP) WITH (FORMAT = 'wire');")
    val q = e.sql("SELECT k, v FROM ws EMIT CHANGES;").asInstanceOf[e.Started]
    // typed literals must land as {"$numberLong":"7"} etc., or the wire
    // decoder nulls the field
    e.sql("INSERT INTO ws (k, v, _ts) VALUES ('a', 7, '2024-01-01 00:00:00');")
    e.engine.processAll()
    val r = spark.table(q.query.name).head()
    assert(r.getString(0) == "a" && r.getLong(1) == 7L)
    e.sql(s"TERMINATE QUERY ${q.query.name};")
  }

  test("null-safe equality: NULL = NULL is TRUE (BinOp.hs:116-118)") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq((1L, Some("x")), (2L, None: Option[String])))
      .toDF("id", "s").createOrReplaceTempView("t7")
    val df = e.sql("SELECT id FROM t7 WHERE s = NULL;").asInstanceOf[e.Rows]
    assert(df.df.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("batch ORDER BY / LIMIT: alias keys, hidden keys, TakeOrdered plan") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq((1L, "a", 5.0), (2L, "b", 1.0), (3L, "c", 9.0),
      (4L, "d", 3.0))).toDF("id", "s", "x").createOrReplaceTempView("ob1")
    // key on a computed-column ALIAS (binds to the projected value)
    val byAlias = e.batch("SELECT id, x * 2 AS d FROM ob1 ORDER BY d DESC LIMIT 2;")
    assert(byAlias.collect().map(_.getLong(0)).toSeq == Seq(3L, 1L))
    // key NOT in the SELECT list (hidden-column path; column then dropped)
    val hidden = e.batch("SELECT s FROM ob1 ORDER BY x LIMIT 2;")
    assert(hidden.columns.toSeq == Seq("s"))
    assert(hidden.collect().map(_.getString(0)).toSeq == Seq("b", "d"))
    // ORDER BY an aggregate over grouped data
    spark.createDataFrame(Seq(("p", 1L), ("p", 2L), ("q", 10L), ("r", 5L)))
      .toDF("k", "v").createOrReplaceTempView("ob2")
    val agg = e.batch(
      "SELECT k, SUM(v) AS sv FROM ob2 GROUP BY k ORDER BY SUM(v) DESC LIMIT 2;")
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("q", 10L), ("r", 5L)))
    // ORDER BY an aggregate that is NOT in the SELECT list (standard SQL)
    assert(e.batch("SELECT k FROM ob2 GROUP BY k ORDER BY SUM(v) DESC LIMIT 1;")
      .collect().map(_.getString(0)).toSeq == Seq("q"))
    // ORDER BY + LIMIT plans as TakeOrderedAndProject, not a full global sort
    val plan = e.batch("SELECT id FROM ob1 ORDER BY x LIMIT 2;")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("batch set operations: UNION/UNION ALL/INTERSECT/EXCEPT semantics") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L), Tuple1(2L), Tuple1(3L)))
      .toDF("a").createOrReplaceTempView("su_l")
    spark.createDataFrame(Seq(Tuple1(2L), Tuple1(3L), Tuple1(4L)))
      .toDF("b").createOrReplaceTempView("su_r")
    def vals(sql: String) = e.batch(sql).collect().map(_.getLong(0)).toSeq.sorted
    // positional matching; left operand names the output
    val u = e.batch("SELECT a FROM su_l UNION SELECT b FROM su_r;")
    assert(u.columns.toSeq == Seq("a"))
    assert(vals("SELECT a FROM su_l UNION SELECT b FROM su_r;") == Seq(1L, 2L, 3L, 4L))
    assert(vals("SELECT a FROM su_l UNION ALL SELECT b FROM su_r;") ==
      Seq(1L, 2L, 2L, 2L, 3L, 3L, 4L))
    assert(vals("SELECT a FROM su_l INTERSECT SELECT b FROM su_r;") == Seq(2L, 3L))
    assert(vals("SELECT a FROM su_l EXCEPT SELECT b FROM su_r;") == Seq(1L))
    // trailing ORDER BY/LIMIT over the whole tree
    assert(e.batch("SELECT a FROM su_l UNION SELECT b FROM su_r ORDER BY a DESC LIMIT 2;")
      .collect().map(_.getLong(0)).toSeq == Seq(4L, 3L))
    // set op as a FROM-subquery feeding an aggregate
    assert(e.batch(
      """SELECT a, COUNT(*) AS c FROM
         (SELECT a FROM su_l UNION ALL SELECT b FROM su_r) AS x
         GROUP BY a;""").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 3L), (3L, 2L), (4L, 1L)))
  }

  test("continuous UNION ALL: CSAS over two live streams") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM ua1 (v INTEGER, _ts TIMESTAMP);")
    e.sql("CREATE STREAM ua2 (v INTEGER, _ts TIMESTAMP);")
    e.sql("""CREATE STREAM ua_out AS
             SELECT v, _ts FROM ua1 UNION ALL SELECT v, _ts FROM ua2;""")
    e.sql("INSERT INTO ua1 (v, _ts) VALUES (1, '2024-01-01 00:00:00');")
    e.sql("INSERT INTO ua2 (v, _ts) VALUES (2, '2024-01-01 00:00:01');")
    e.sql("INSERT INTO ua1 (v, _ts) VALUES (3, '2024-01-01 00:00:02');")
    e.engine.processAll()
    val got = e.batch("SELECT v FROM ua_out;").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L))
    e.sql("TERMINATE QUERY ua_out;")
  }

  test("DISTINCT aggregates + APPROX_COUNT_DISTINCT (extension)") {
    val e = new SqlEngine(spark)
    spark.createDataFrame(Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 5L),
      ("b", 5L))).toDF("k", "v").createOrReplaceTempView("cd1")
    val got = e.batch(
      """SELECT k, COUNT(DISTINCT v) AS cd, SUM(DISTINCT v) AS sd,
         COUNT(v) AS c FROM cd1 GROUP BY k;""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 2L, 3L, 3L), ("b", 1L, 5L, 2L)))
    // approx sketch tracks exact closely at small cardinality
    import org.apache.spark.sql.functions._
    val n = 10000
    spark.range(n).selectExpr("id % 1000 AS u").createOrReplaceTempView("cd2")
    val approx = e.batch("SELECT APPROX_COUNT_DISTINCT(u) AS a FROM cd2;")
    val a = approx.collect().head.getLong(0)
    assert(math.abs(a - 1000L) <= 100L, s"approx=$a")
  }

  test("DISTINCT aggregate rejected in continuous queries, APPROX allowed") {
    val e = new SqlEngine(spark)
    e.sql("CREATE STREAM cds (k STRING, v INTEGER, _ts TIMESTAMP);")
    val ex = intercept[Exception](e.sql(
      "SELECT k, COUNT(DISTINCT v) AS cd FROM cds GROUP BY k EMIT CHANGES;"))
    assert(ex.getMessage.contains("APPROX_COUNT_DISTINCT"))
    // the sketch form runs as a live update-mode query
    val q = e.sql(
      "SELECT k, APPROX_COUNT_DISTINCT(v) AS acd FROM cds GROUP BY k EMIT CHANGES;")
      .asInstanceOf[e.Started]
    Seq(1, 1, 2, 3).zipWithIndex.foreach { case (v, i) =>
      e.sql(s"INSERT INTO cds (k, v, _ts) VALUES ('a', $v, '2024-01-01 00:00:0$i');")
    }
    e.engine.processAll()
    val last = spark.table(q.query.name).collect().map(r => r.getLong(1)).max
    assert(last == 3L)
    e.sql(s"TERMINATE QUERY ${q.query.name};")
  }

  test("APPROX_PERCENTILE: sketch tracks exact batch, runs live in update mode") {
    val e = new SqlEngine(spark)
    spark.range(1001).selectExpr("CAST(id AS BIGINT) AS v")
      .createOrReplaceTempView("apt1")
    // at accuracy >= n the GK sketch is exact: p50 of 0..1000 is 500
    val exact = e.batch(
      "SELECT APPROX_PERCENTILE(v, 0.5) AS p FROM apt1;")
      .collect().head.getLong(0)
    assert(exact == 500L, s"p50=$exact")
    val coarse = e.batch(
      "SELECT APPROX_PERCENTILE(v, 0.9, 100) AS p FROM apt1;")
      .collect().head.getLong(0)
    assert(math.abs(coarse - 900L) <= 20L, s"p90=$coarse")
    // the sketch form runs as a live update-mode continuous query
    e.sql("CREATE STREAM aps (k STRING, v INTEGER, _ts TIMESTAMP);")
    val q = e.sql(
      "SELECT k, APPROX_PERCENTILE(v, 0.5) AS p50 FROM aps GROUP BY k EMIT CHANGES;")
      .asInstanceOf[e.Started]
    Seq(10, 20, 30, 40, 50).zipWithIndex.foreach { case (v, i) =>
      e.sql(s"INSERT INTO aps (k, v, _ts) VALUES ('a', $v, '2024-01-01 00:00:0$i');")
    }
    e.engine.processAll()
    val last = spark.table(q.query.name).collect().map(_.getLong(1)).max
    assert(last == 30L, s"streaming p50=$last")
    e.sql(s"TERMINATE QUERY ${q.query.name};")
  }

  test("FLATTEN: batch explode + live streaming tokenizer") {
    val e = new SqlEngine(spark)
    // batch: per-element rows with the input row's columns alongside
    spark.createDataFrame(Seq((1L, "a b a"), (2L, "c")))
      .toDF("id", "s").createOrReplaceTempView("fl1")
    val got = e.batch(
      """SELECT w, COUNT(*) AS n, COUNT(DISTINCT id) AS docs
         FROM FLATTEN(fl1, SPLIT(s, ' ') AS w) GROUP BY w;""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("a", 2L, 1L), ("b", 1L, 1L), ("c", 1L, 1L)))
    // streaming: FLATTEN over a live stream (continuous tokenizer CSAS)
    e.sql("CREATE STREAM fsrc (id INTEGER, s STRING, _ts TIMESTAMP);")
    e.sql("""CREATE STREAM ftoks AS
             SELECT id, w, _ts FROM FLATTEN(fsrc, SPLIT(s, ' ') AS w);""")
    e.sql("INSERT INTO fsrc (id, s, _ts) VALUES (1, 'x y', '2024-01-01 00:00:00');")
    e.sql("INSERT INTO fsrc (id, s, _ts) VALUES (2, 'z', '2024-01-01 00:00:01');")
    e.engine.processAll()
    val toks = e.batch("SELECT id, w FROM ftoks;").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(toks == Set((1L, "x"), (1L, "y"), (2L, "z")))
    e.sql("TERMINATE QUERY ftoks;")
  }

  test("SESSION view: append-mode FileSink opt-in is append-only storage") {
    spark.conf.set("spark.graft.sessionViewAppend", "true")
    try {
      val e = new SqlEngine(spark)
      e.sql("CREATE STREAM sav (k STRING, v INTEGER, _ts TIMESTAMP);")
      e.sql("""CREATE VIEW savv AS SELECT k, COUNT(*) AS c
               FROM SESSION(sav, INTERVAL 30 SECOND) GROUP BY k;""")
      e.sql("INSERT INTO sav (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:00');")
      e.sql("INSERT INTO sav (k, v, _ts) VALUES ('a', 1, '2024-01-01 00:00:10');")
      e.engine.processAll()
      // close the session: advance the watermark past gap + 24h grace
      e.sql("INSERT INTO sav (k, v, _ts) VALUES ('z1', 0, '2024-01-03 00:00:00');")
      e.engine.processAll()
      val pull1 = e.batch("SELECT k, c FROM savv WHERE k = 'a';").collect()
      assert(pull1.map(r => (r.getString(0), r.getLong(1))).toSet == Set(("a", 2L)))
      // record the parquet files serving the view, then close ANOTHER session
      def files = {
        val dir = new java.io.File(e.engine.appendViewDir("savv"))
        dir.listFiles((_, n) => n.endsWith(".parquet")).map(_.getName).toSet
      }
      val before = files
      e.sql("INSERT INTO sav (k, v, _ts) VALUES ('b', 1, '2024-01-03 00:01:00');")
      e.engine.processAll()
      e.sql("INSERT INTO sav (k, v, _ts) VALUES ('z2', 0, '2024-01-05 00:00:00');")
      e.engine.processAll()
      val after = files
      // append-only: every original file is still there, new ones arrived
      assert(before.subsetOf(after), s"files rewritten: ${before -- after}")
      assert(e.batch("SELECT k, c FROM savv;").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
        .contains(("b", 1L)))
      e.sql("DROP VIEW savv;")
      // a dropped append view must stop SERVING its stale log
      assertThrows[Exception](e.batch("SELECT k, c FROM savv;").collect())
    } finally spark.conf.unset("spark.graft.sessionViewAppend")
  }

  test("NATURAL JOIN between ts-less batch subqueries (r13 fuzz find)") {
    // the natural-key computation excludes event-time columns when
    // PRESENT; it used to call tsCol, which THROWS when a relation has no
    // _ts/ts at all, so this perfectly ordinary batch shape failed
    import spark.implicits._
    val e = new SqlEngine(spark)
    Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "g")
      .createOrReplaceTempView("nj_l")
    Seq((1L, 10L), (3L, 30L), (9L, 90L)).toDF("k", "v")
      .createOrReplaceTempView("nj_r")
    val got = e.batch(
      """SELECT k, g, v
         FROM (SELECT k, g FROM nj_l) AS l
           NATURAL JOIN (SELECT k, v FROM nj_r) AS r
         ORDER BY k;""")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, "x", 10L), (3L, "z", 30L)), got.toSeq)
    // and ts IS still excluded from the natural keys when present on
    // both sides (infrastructure, not a key): k alone joins the rows
    Seq((1L, new java.sql.Timestamp(1000L))).toDF("k", "ts")
      .createOrReplaceTempView("nj_tl")
    Seq((1L, new java.sql.Timestamp(2000L), 7L)).toDF("k", "ts", "w")
      .createOrReplaceTempView("nj_tr")
    val ts = e.batch(
      "SELECT k, w FROM nj_tl NATURAL JOIN nj_tr;").collect()
    assert(ts.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 7L)))
  }
}
