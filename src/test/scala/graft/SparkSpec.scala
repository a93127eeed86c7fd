package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session, local[4]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** The number of Spark jobs `body` starts on this thread. Listener
    * events arrive asynchronously, so a marker job under its own group
    * runs after `body`: one listener sees its events in order, so once
    * the marker's start is seen, every job `body` started has been too. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-probe-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(ev: SparkListenerJobStart): Unit =
        Option(ev.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "jobs probe marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "marker job never reached the listener")
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** Fixed at 4 threads, not [[Sessions.cpus]]: the suite runs the same
    * way whatever SPARK_GRAFT_CPUS the test runner exports. */
  lazy val session: SparkSession = Sessions.local(4)
}
