package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.LedgerBroker
import graft.sql.SqlEngine

/** Pieces of the streaming workload: brokers, dialect DDL, waiting
  * for committed offsets, latency from progress, and batch twins. */
object Streams {
  final class Broker(val log: StreamLog) {
    val broker = new LedgerBroker(log.logFile)
    val port: Int = broker.start()
    def stop(): Unit = broker.stop()
  }

  def createLedgerStream(e: SqlEngine, name: String, port: Int): Unit =
    Trace.span("sql.ddl", null) {
      e.sql(s"CREATE STREAM $name ${Events.ddlColumns} WITH (TRANSPORT = 'ledger', PORT = $port);")
    }

  /** Run a statement that must start a streaming query. */
  def start(e: SqlEngine, text: String): StreamingQuery = e.sql(text) match {
    case s: e.Started => s.query
    case other => throw new IllegalStateException(s"expected a started query for: $text, got $other")
  }

  /** Committed end offset of source `src` in the query's latest progress. */
  def committed(q: StreamingQuery, src: Int): Long =
    Option(q.lastProgress).map(Progress.endOffset(_, src)).getOrElse(-1L)

  /** Wait until each (query, source, offset) need is committed; false on
    * timeout or when a query died. */
  def waitCommitted(needs: Seq[(StreamingQuery, Int, Long)], timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = needs.forall { case (q, s, off) => committed(q, s) >= off }
    while (!done && System.currentTimeMillis() < deadline && needs.forall(_._1.isActive))
      Thread.sleep(5)
    done
  }

  /** Per-event latency in ms, from each live event's due time to the end
    * of the first micro-batch of `q` whose committed offset covers it. */
  def latenciesMs(q: StreamingQuery, src: Int, log: StreamLog): Seq[Double] = {
    val offs = log.liveDue.indices.map(i => (log.backlog + i).toLong)
    val cover = Progress.coverTimes(q.recentProgress.toSeq, src, offs)
    cover.zip(log.liveDue).map { case (t, due) => t - due / 1e6 }
  }

  /** End time (epoch ms) of the first batch of `q` covering offset `off`. */
  def coverMs(q: StreamingQuery, src: Int, off: Long): Double =
    Progress.coverTimes(q.recentProgress.toSeq, src, Seq(off)).head

  /** Register the generated records of a stream as a batch temp view. */
  def batchView(spark: SparkSession, log: StreamLog, name: String): Unit = {
    import spark.implicits._
    spark.read.schema(Events.sparkSchema).json(log.payloads.toSeq.toDS())
      .createOrReplaceTempView(name)
  }

  def rowStr(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  /** Sorted rendering of a frame's rows. */
  def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(rowStr).sorted

  /** Make one corrupted copy of an expected result, so a deliberate
    * mismatch can prove the check is live. */
  def corrupt(expected: Seq[String]): Seq[String] =
    if (expected.isEmpty) Seq("corrupted") else expected.updated(0, expected.head + "|corrupted")

  /** Background sampler: every `periodMs` records `f()`; stop() joins. */
  final class Sampler(periodMs: Long)(f: () => Unit) {
    @volatile private var running = true
    private val t = new Thread(() => {
      while (running) { try f() catch { case _: Exception => () }; Thread.sleep(periodMs) }
    }, "perfbench-sampler")
    t.setDaemon(true); t.start()
    def stop(): Unit = { running = false; t.join() }
  }

  /** Run `body` on a named thread and return its result at join. */
  final class Worker[A](name: String)(body: => A) {
    @volatile private var res: Either[Throwable, A] = _
    private val t = new Thread(() => { res = try Right(body) catch { case e: Throwable => Left(e) } }, name)
    t.start()
    def join(): A = { t.join(); res.fold(throw _, identity) }
  }

}
