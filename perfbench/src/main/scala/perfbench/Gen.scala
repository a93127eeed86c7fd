package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.sources.LedgerClient

/** Zipf(s) sampler over keys 0 until n (key 0 hottest). */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def next(rnd: SplittableRandom): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** The event schema every streaming workload uses. `_ts` is the event's
  * scheduled (due) time, written by the generator. */
object Events {
  val ddlColumns = "(event_id INTEGER, user_id INTEGER, event_type STRING, value INTEGER, _ts TIMESTAMP)"
  val sparkSchema = "event_id BIGINT, user_id BIGINT, event_type STRING, value BIGINT, _ts TIMESTAMP"
  val types: Array[String] = Array("view", "click", "purchase", "signup", "error")

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)
  def ts(epochNs: Long): String =
    fmt.format(Instant.ofEpochSecond(epochNs / 1000000000L, epochNs % 1000000000L))

  def payload(id: Long, user: Int, etype: String, value: Int, dueEpochNs: Long): String =
    s"""{"event_id":$id,"user_id":$user,"event_type":"$etype","value":$value,"_ts":"${ts(dueEpochNs)}"}"""
}

/** One ledger-backed stream as the generator sees it: every payload in
  * offset order, and each live event's due time by offset. */
final class StreamLog(val name: String, val logFile: Path) {
  val payloads = ArrayBuffer.empty[String]
  var backlog = 0
  /** due time (epoch ns) of live events; index = offset - backlog */
  val liveDue = ArrayBuffer.empty[Long]

  /** Write the backlog as the broker's log file, before the broker starts:
    * the broker loads it at construction, so no record pays a produce. */
  def writeBacklog(lines: Seq[String]): Unit = {
    payloads ++= lines
    backlog = lines.size
    Files.createDirectories(logFile.getParent)
    Files.write(logFile, lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Result of an open-loop generator run. */
final class GenStats {
  val lateMs = ArrayBuffer.empty[Double]
  val produceMs = ArrayBuffer.empty[Double]
}

/** Open-loop generator: event i is due at start + i / rate, whatever the
  * engine is doing. Each event is stamped with its due time, produced
  * through LedgerClient, and timed from that due time. */
object OpenLoop {
  final case class Target(log: StreamLog, port: Int)

  /** `make(i, dueNs)` returns (target index, payload) for event i. */
  def run(rate: Double, seconds: Double, targets: IndexedSeq[Target],
          outcome: Outcome, make: (Long, Long) => (Int, String)): GenStats = {
    val st = new GenStats
    val n = math.max(1L, math.round(rate * seconds))
    val startNs = Sys.nowNs + 20000000L
    val periodNs = 1e9 / rate
    var i = 0L
    while (i < n) {
      val dueNs = startNs + (i * periodNs).toLong
      Sys.sleepUntilNs(dueNs)
      val dueEpoch = dueNs + Sys.epochOffsetNs
      val (t, payload) = make(i, dueEpoch)
      val tg = targets(t)
      val t0 = Sys.nowNs
      st.lateMs += (t0 - dueNs) / 1e6
      outcome.attempt()
      try {
        val off = Trace.span("sources.produce", null) {
          LedgerClient.produce("localhost", tg.port, payload)
        }
        val expect = tg.log.payloads.size.toLong
        if (off != expect) outcome.fail(s"${tg.log.name}: produce got offset $off, expected $expect")
        tg.log.payloads += payload
        tg.log.liveDue += dueEpoch
      } catch {
        case e: Exception => outcome.fail(s"${tg.log.name}: produce failed: $e")
      }
      st.produceMs += (Sys.nowNs - t0) / 1e6
      i += 1
    }
    st
  }
}
