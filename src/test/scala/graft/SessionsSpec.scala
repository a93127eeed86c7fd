package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.internal.SQLConf

/** Pins what [[Sessions.local]] sets on every session (the suite's shared
  * one is built there too). Losing either checkpoint setting breaks no
  * answer anywhere else: it only makes each state-store commit ~3× slower
  * (Sessions' doc), so these checks are what notices. */
class SessionsSpec extends SparkSpec {

  test("the graft extensions are registered: graft_dot resolves") {
    val dot = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(dot == 11.0)
  }

  test("the session time zone is UTC") {
    assert(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key) == "UTC")
  }

  test("checkpoint checksum sidecars are off") {
    assert(!spark.sessionState.conf.getConf(
      SQLConf.STREAMING_CHECKPOINT_FILE_CHECKSUM_ENABLED))
  }

  test("checkpoints go through the FileSystem-based manager") {
    val dir = new Path(Files.createTempDirectory("graft_sessions").toUri)
    val mgr = CheckpointFileManager.create(dir,
      spark.sessionState.newHadoopConf())
    assert(mgr.getClass.getSimpleName.startsWith("FileSystemBased"),
      mgr.getClass.getName)
  }
}
