package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory: every main and the test suite
  * build their session here, so they all run with the same settings. A
  * setting only one caller needs is set on the returned session. */
object Sessions {

  /** The thread count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** A `local[threads]` session with as many shuffle partitions, UTC, the
    * graft extensions, no UI, the checkpoint settings below and log level
    * ERROR. Like any getOrCreate, it returns the JVM's active session when
    * one exists; static settings (master, extensions) stay as first built.
    *
    * Checkpoint checksums off (r16, measured): Spark 4.1 writes a checksum
    * sidecar file for every state/offset/commit checkpoint file, and every
    * state-store commit blocks awaiting it through a small thread pool
    * (thread dumps: all executor threads parked in
    * ChecksumCancellableFSDataOutputStream.close → awaitResult inside
    * finalizeDeltaFile). That is one extra create+write+fsync per store per
    * batch, 128 per micro-batch for a stream-stream join (4 stores × 32
    * partitions): integrity hardening for long-lived checkpoints, pure
    * overhead for per-run directories.
    *
    * FileSystem-based checkpoint manager (r16, thread dumps): the default
    * FileContext manager renames each checkpoint file through Hadoop's
    * ChecksumFs, which (without native libraries) forks a shell process per
    * rename (readlink) and writes a .crc sidecar per file; this manager
    * renames with no fork. Together the two settings took `s_stream_join`
    * from 11.7 to 3.6 s. The manager setting applies to every checkpoint
    * location whatever its scheme, and it is safe only where rename is
    * atomic, i.e. a `file://` checkpoint root. On an object store such as
    * S3, rename is copy+delete and a crash can leave a partial checkpoint
    * file, so do not point `spark.graft.checkpointRoot` at one from these
    * sessions; its default, a temp dir, is local.
    *
    * `fs.file.impl` = RawLocalFileSystem, to drop the .crc sidecars too, was
    * tried and reverted: Hadoop's FileSystem.getLocal casts the file:// fs
    * to LocalFileSystem, which RocksDB's checkpoint upload relies on
    * (StreamFuzzSpec caught the ClassCastException). */
  def local(threads: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
