package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Per-stage profiling main (guide §1: measure first): runs selected
  * headline queries through the noop sink with a stage listener attached
  * and prints, for each stage, wall duration, summed task time, input /
  * shuffle-read / shuffle-write volumes, spill, and the stage name — the
  * numbers the Spark UI would show, emitted as text since the UI is off
  * in this environment. Two passes per query; the second (warm) pass is
  * the one reported. Usage:
  *   SPARK_GRAFT_SF_DIR=… sbt "runMain graft.Profile q_cdc_apply …" */
object Profile {
  private case class StageRow(id: Int, name: String, wallMs: Long,
    taskTimeMs: Long, tasks: Int, inputMB: Double, srMB: Double,
    swMB: Double, spillMB: Double, records: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus(32))
    val rows = ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        rows.synchronized {
          rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
            (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)),
            m.executorRunTime, si.numTasks,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.remoteBytesRead / 1e6 +
              m.shuffleReadMetrics.localBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
            m.inputMetrics.recordsRead)
        }
      }
    }
    // "streams" pseudo-name: run the whole StreamBench replay under the
    // listener and report its stages (the batch loop below skips it).
    if (args.contains("streams")) {
      rows.synchronized(rows.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val res = StreamBench.run(spark, sfDir)
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"\n===== streams  total ${sec}%.3f s =====")
      res.foreach { case (k, v) => println(f"  $k%-20s ${v}%8.3f s") }
      val snap = rows.synchronized(rows.toVector).sortBy(-_.taskTimeMs).take(25)
      println(f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"tasks"}%6s " +
        f"${"in_MB"}%9s ${"sh_rd"}%8s ${"sh_wr"}%8s ${"spill"}%7s ${"recs"}%10s  name")
      snap.foreach { r =>
        println(f"${r.id}%6d ${r.wallMs / 1e3}%8.2f ${r.taskTimeMs / 1e3}%8.2f " +
          f"${r.tasks}%6d ${r.inputMB}%9.1f ${r.srMB}%8.1f ${r.swMB}%8.1f " +
          f"${r.spillMB}%7.1f ${r.records}%10d  ${r.name.take(60)}")
      }
    }
    val qs = SparkEntry.queries ++ SparkEntry.benchOnly
    val names = if (args.nonEmpty) args.toSeq else Bench.headline
    names.filter(qs.contains).foreach { name =>
      // warm pass (uncounted): JIT + page cache
      try qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"$name warm FAILED: ${e.getMessage}") }
      spark.catalog.clearCache()
      graft.operators.Cdc.restoreShuffleSizing(spark)
      rows.synchronized(rows.clear())
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try {
        qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // let the listener bus drain before reading
        Thread.sleep(300)
        println(f"\n===== $name  total ${sec}%.3f s =====")
        val snap = rows.synchronized(rows.toVector).sortBy(-_.taskTimeMs)
        println(f"${"stage"}%6s ${"wall_s"}%8s ${"task_s"}%8s ${"tasks"}%6s " +
          f"${"in_MB"}%9s ${"sh_rd"}%8s ${"sh_wr"}%8s ${"spill"}%7s ${"recs"}%10s  name")
        snap.foreach { r =>
          println(f"${r.id}%6d ${r.wallMs / 1e3}%8.2f ${r.taskTimeMs / 1e3}%8.2f " +
            f"${r.tasks}%6d ${r.inputMB}%9.1f ${r.srMB}%8.1f ${r.swMB}%8.1f " +
            f"${r.spillMB}%7.1f ${r.records}%10d  ${r.name.take(60)}")
        }
      } catch { case e: Throwable => println(s"$name FAILED: ${e.getMessage}") }
      finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.catalog.clearCache()
        graft.operators.Cdc.restoreShuffleSizing(spark)
      }
    }
    spark.stop()
  }
}
