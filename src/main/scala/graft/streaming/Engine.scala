package graft.streaming

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, IntervalUtils}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SizeEstimator

/** The engine facade: streams, continuous queries, and materialized views —
  * the reference's server surface (SURVEY §3) re-expressed on Structured
  * Streaming.
  *
  * Reference semantics mirrored (citations into /root/reference):
  *   - A stream is a named append-only log of JSON records
  *     (hstream-sql/src/HStream/SQL/AST.hs:761-772). Here: a declared
  *     StructType + an event-time `_ts` column; records enter via
  *     [[insert]] (SQL `INSERT`, AST.hs:777-804) or any readStream source.
  *   - `_ts` is producer-assigned at append when the payload has no
  *     timestamp (Processor.hs:530 uses wall clock at sink).
  *   - SELECT … EMIT CHANGES = update-mode sink: every input row re-emits
  *     the updated aggregate (GroupedStream.hs:102) — micro-batching
  *     coalesces per batch, an accepted divergence (SURVEY §7.3).
  *   - CREATE VIEW … AS SELECT <agg> materializes aggregation state served
  *     by pull queries (hstream/src/HStream/Server/Core/View.hs:94-254). We
  *     materialize the *final* view output into a parquet-backed snapshot
  *     (a distributed foreachBatch write), which
  *     sidesteps the reference's HAVING/Project splice (View.hs:189-222) by
  *     construction.
  *   - TERMINATE / PAUSE / RESUME / DROP / SHOW (AST.hs:806-906) map onto
  *     StreamingQuery lifecycle + catalog ops.
  *
  * Scale: MemoryStream is the test transport; production streams plug in any
  * readStream source (Kafka/files) with the same declared schema — every
  * transform downstream of [[df]] is source-agnostic. View state lives in
  * Spark's state store (RocksDB on a cluster) and served snapshots live in
  * parquet; [[pull]] is a batch scan with predicate/projection pushdown.
  * Only an incremental view under a fixed row bound also keeps its rows on
  * the driver, which its pulls filter without a Spark job.
  */
class Engine(val spark: SparkSession) {
  import spark.implicits._

  private case class StreamEntry(schema: StructType, source: MemoryStream[String],
                                 options: Map[String, String], wire: Boolean = false)
  /** File-backed stream registration: `dir`+`format` are kept so sinks
    * (insertSelect / CSAS into the stream) can write DISTRIBUTED into the
    * same directory the source tails — no driver hop. */
  private case class FileStreamEntry(dir: String, schema: StructType,
                                     format: String, wire: Boolean = false)
  private val streams = TrieMap.empty[String, StreamEntry]
  private val fileStreams = TrieMap.empty[String, FileStreamEntry]
  private val queries = TrieMap.empty[String, StreamingQuery]
  private val paused  = TrieMap.empty[String, () => StreamingQuery]

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Root for streaming checkpoints (file sinks + views). Set
    * `spark.graft.checkpointRoot` to a durable path for recovery across
    * engine restarts (RecoverySpec shape: offsets + state survive, nothing
    * reprocessed); defaults to a fresh temp dir per engine instance, so
    * within one engine a terminated-and-recreated query resumes from its
    * own checkpoint. Memory-sink queries are deliberately NOT checkpointed:
    * pause/resume replays the MemoryStream from the start into the fresh
    * sink table, and a checkpoint would skip those offsets. */
  private val checkpointRoot: String =
    spark.conf.getOption("spark.graft.checkpointRoot")
      .getOrElse(tempDir("graft_ckpt"))
  /** Checkpoint dir for `tag`, SANITIZED for restart (r15 in-flight
    * lifecycle fuzz find): a query stopped while writing its very FIRST
    * offset file can leave a temp file in `offsets/` with no committed
    * batch — Spark's fresh-start validation then refuses the directory
    * outright (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY) and no query
    * can ever start under this tag again (observed: DROP CONNECTOR
    * interrupting batch 0, the re-CREATE dead on arrival). No committed
    * offset means no batch ran, no sink commit, no state — the
    * checkpoint is semantically FRESH, so deleting the leftovers loses
    * nothing (the source replays from its origin, exactly-once intact).
    * A checkpoint with ANY committed batch is untouched: normal recovery
    * handles stray temp files once getLatest() resolves. Evaluated
    * inside every start() closure, so all restart paths self-heal. */
  private def ckpt(tag: String): String = {
    val dir = s"$checkpointRoot/$tag"
    try {
      val (fs, _) = hadoopFs(dir)
      val off = new org.apache.hadoop.fs.Path(s"$dir/offsets")
      if (fs.exists(off) && !fs.listStatus(off)
          .exists(st => st.getPath.getName.nonEmpty &&
            st.getPath.getName.forall(_.isDigit)))
        fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    } catch { case _: Exception => () } // sanitation is best-effort
    dir
  }

  /** Default window grace: the reference's fixed 24 h (TimeWindows.hs:39). */
  val defaultGrace: String = "24 hours"

  // ---- DDL (SURVEY §2.1) ---------------------------------------------------

  /** CREATE STREAM name (schema) [WITH (…)]: registers an append-only JSON
    * stream. Options (AST.hs:703-750): DURATION = backlog retention — served
    * reads exclude records older than it (default: unbounded here; the
    * reference defaults to 7 days), and views over the stream inherit it as
    * store retention (SqlEngine.viewRetention → createViewAppend /
    * createViewIncremental, where expired rows vanish from pulls and their
    * storage is GC'd). REPLICATE is storage-layer metadata
    * (meaningless on Spark — durability comes from the source/checkpoint)
    * and is recorded but inert. */
  def createStream(name: String, schema: StructType,
                   options: Map[String, String] = Map.empty): Unit = {
    requireNewStream(name)
    // FORMAT='wire': payloads are the reference's extended JSON and are
    // decoded on read (jsonValueToFlowValue, Rts/Old.hs:159-198)
    val wire = options.get("FORMAT").exists(_.equalsIgnoreCase("wire"))
    streams(name) = StreamEntry(schema, MemoryStream[String](spark), options, wire)
  }

  /** Whether `name` is a wire-format stream (payloads are extended JSON).
    * Callers appending records (INSERT paths) must encode accordingly. */
  def isWireStream(name: String): Boolean =
    streams.get(name).exists(_.wire) || fileStreams.get(name).exists(_.wire) ||
      socketStreams.get(name).exists(_.wire) ||
      ledgerStreams.get(name).exists(_.wire)

  /** Declared WITH-options of a stream (DESCRIBE-style metadata). */
  def streamOptions(name: String): Map[String, String] =
    streams.get(name).map(_.options).getOrElse(Map.empty)

  /** Declared schema of a stream, any transport. */
  def schemaOf(name: String): StructType =
    streams.get(name).map(_.schema)
      .orElse(fileStreams.get(name).map(_.schema))
      .orElse(socketStreams.get(name).map(_.schema))
      .orElse(ledgerStreams.get(name).map(_.schema))
      .getOrElse(throw new IllegalArgumentException(s"unknown stream $name"))

  def dropStream(name: String): Unit = {
    streams.remove(name); fileStreams.remove(name); socketStreams.remove(name)
    ledgerStreams.remove(name)
  }
  def showStreams: Seq[String] =
    (streams.keys ++ fileStreams.keys ++ socketStreams.keys ++
      ledgerStreams.keys).toSeq.sorted

  /** Stream names are unique across transports: a second registration
    * under any transport would leave INSERT and SELECT resolving the name
    * to different sources. */
  private def requireNewStream(name: String): Unit =
    require(!streams.contains(name) && !fileStreams.contains(name) &&
      !socketStreams.contains(name) && !ledgerStreams.contains(name),
      s"stream $name exists")

  /** INSERT INTO name: append JSON payloads (AST.hs:777-804 json form) —
    * uniform across transports, like the reference's append-to-log:
    * memory streams buffer in the MemoryStream; ledger streams PRODUCE to
    * the broker (durable before the ack); file streams get one new file
    * per call (= one micro-batch), refused loudly once a FileSink owns the
    * directory (externally-dropped files would be invisible to its
    * metadata log); socket streams cannot be appended to (the engine is
    * the CLIENT side of that transport — produce at the server). */
  def insert(name: String, jsonRecords: String*): Unit =
    if (streams.contains(name)) streams(name).source.addData(jsonRecords)
    else if (ledgerStreams.contains(name)) {
      val le = ledgerStreams(name)
      jsonRecords.foreach(r =>
        graft.sources.LedgerClient.produce(le.host, le.port, r))
    } else if (fileStreams.contains(name)) {
      require(!fileSinkWriters.contains(name),
        s"stream $name is fed by FileSink query '${fileSinkWriters(name)}'; " +
          "files dropped beside its metadata log would be invisible")
      val fe = fileStreams(name)
      val (fs, dirPath) = hadoopFs(fe.dir)
      val tmp = new org.apache.hadoop.fs.Path(dirPath,
        s".insert-${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write((jsonRecords.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      // atomic visibility: the file source must never list a half-written
      // file, so write to a dotfile (hidden from listings) and rename
      fs.rename(tmp, new org.apache.hadoop.fs.Path(dirPath,
        s"insert-${java.util.UUID.randomUUID()}.${if (fe.wire) "txt" else "json"}"))
    } else if (socketStreams.contains(name))
      throw new UnsupportedOperationException(
        s"stream $name is socket-backed; the engine consumes that socket — " +
          "append by producing to the socket's server side")
    else throw new IllegalArgumentException(s"unknown stream $name")

  /** Register a file-backed stream (the production transport: new files in
    * `dir` are micro-batches; swap for Kafka by changing only this method's
    * body — everything downstream of [[df]] is source-agnostic).
    * `wire = true` reads text files of extended-JSON payloads and decodes
    * them to the declared schema — the source half of the reference's
    * connector transport (Rts/Old.hs:159-198).
    *
    * Producer contract: a file-backed stream is fed EITHER by an external
    * producer dropping files into `dir` OR by one engine file-sink query
    * (CSAS / INSERT-SELECT). Once a FileSink attaches it writes
    * `_spark_metadata` into `dir`, and file sources then list only
    * sink-committed files — externally-dropped files become invisible, and
    * a second sink sharing the metadata log would silently skip batches.
    * [[attachFileSink]] enforces the one-sink half of this loudly. */
  def createFileStream(name: String, dir: String, schema: StructType,
                       format: String = "json", wire: Boolean = false): Unit = {
    requireNewStream(name)
    fileStreams(name) = FileStreamEntry(dir, schema, if (wire) "text" else format, wire)
  }

  /** Socket-backed stream registration: a real non-file NETWORK transport
    * through the same [[df]] seam — each line received on the TCP
    * connection is one record payload. */
  private case class SocketStreamEntry(host: String, port: Int,
                                       schema: StructType, wire: Boolean)
  private val socketStreams = TrieMap.empty[String, SocketStreamEntry]

  /** Register a socket-backed stream: records arrive as newline-delimited
    * payloads over TCP — the engine-side half of the reference's external
    * source connector tasks (hstream-io/src/HStream/IO/Worker.hs:71-83
    * runs them as separate processes feeding a stream; here the producer is
    * whatever serves `host:port`). `wire = true` decodes extended-JSON
    * payloads (Rts/Old.hs:159-198) to the declared schema, else plain JSON.
    *
    * This is the live proof of the "swap the transport by changing only
    * [[df]]'s source expression" claim: everything downstream — wire
    * decode, `_ts` assignment, every query — is byte-identical to the
    * MemoryStream and file paths. Spark's socket source keeps no offsets
    * (at-most-once; test/demo transport); an offset-tracked transport
    * (Kafka, files) plugs into the same seam with its own format string. */
  def createSocketStream(name: String, host: String, port: Int,
                         schema: StructType, wire: Boolean = false): Unit = {
    requireNewStream(name)
    socketStreams(name) = SocketStreamEntry(host, port, schema, wire)
  }

  /** Ledger-backed stream registration: the OFFSET-TRACKED network
    * transport (graft.sources.LedgerSourceProvider) through the same
    * [[df]] seam — records carry monotone broker offsets, Spark's
    * checkpoint stores the consumed range per batch, and the broker
    * replays any range on demand, so a restarted query resumes from its
    * last committed offset with no loss and no duplication (the contract
    * the reference's resumable connector tasks provide, hstream-io/src/
    * HStream/IO/Worker.hs:71-83; Kafka is the production instance). */
  private case class LedgerStreamEntry(host: String, port: Int,
                                       schema: StructType, wire: Boolean)
  private val ledgerStreams = TrieMap.empty[String, LedgerStreamEntry]

  def createLedgerStream(name: String, host: String, port: Int,
                         schema: StructType, wire: Boolean = false): Unit = {
    requireNewStream(name)
    ledgerStreams(name) = LedgerStreamEntry(host, port, schema, wire)
  }

  /** Writer registry enforcing one live FileSink per file-backed stream
    * (two sinks sharing one _spark_metadata log lose batches silently). */
  private val fileSinkWriters = TrieMap.empty[String, String]
  private def attachFileSink(target: String, writer: String): Unit = {
    val prev = fileSinkWriters.putIfAbsent(target, writer)
    require(prev.isEmpty || prev.contains(writer),
      s"stream $target already has file-sink writer ${prev.get}; " +
        "terminate it first (one sink per file-backed stream)")
  }

  /** Producer-assigned `_ts` when the schema declares none
    * (Processor.hs:530 uses wall clock at sink). */
  private def withEventTime(parsed: DataFrame, schema: StructType): DataFrame =
    if (schema.fieldNames.contains("_ts")) parsed
    else parsed.withColumn("_ts", current_timestamp())

  /** Parse a one-string-column `value` payload stream to the declared
    * schema: wire decode (extended JSON) or plain from_json. */
  private def parsePayload(raw: DataFrame, schema: StructType, wire: Boolean): DataFrame =
    if (wire) graft.sources.WireFormat.decode(raw, schema)
    else raw.select(from_json($"value", schema).as("r")).select($"r.*")

  /** The stream as an unbounded DataFrame: parsed payload columns + `_ts`. */
  def df(name: String): DataFrame = fileStreams.get(name) match {
    case Some(fe) =>
      val raw = spark.readStream.schema(
          if (fe.wire) StructType(Seq(StructField("value", StringType)))
          else fe.schema)
        .format(fe.format).load(fe.dir)
      val parsed =
        if (fe.wire) graft.sources.WireFormat.decode(raw, fe.schema) else raw
      withEventTime(parsed, fe.schema)
    case None => socketStreams.get(name) match {
      case Some(se) =>
        // the ONLY transport-specific lines: everything below the load()
        // is shared with every other source
        val raw = spark.readStream.format("socket")
          .option("host", se.host).option("port", se.port).load()
        withEventTime(parsePayload(raw, se.schema, se.wire), se.schema)
      case None if ledgerStreams.contains(name) =>
        val le = ledgerStreams(name)
        val raw = spark.readStream
          .format("graft.sources.LedgerSourceProvider")
          .option("host", le.host).option("port", le.port.toString).load()
        withEventTime(parsePayload(raw, le.schema, le.wire), le.schema)
      case None =>
        val e = streams(name)
        val parsed = parsePayload(e.source.toDF(), e.schema, e.wire)
        val withTs = withEventTime(parsed, e.schema)
        // DURATION retention: serve only records within the backlog window
        e.options.get("DURATION") match {
          case Some(d) => withTs.filter(col("_ts") >= current_timestamp() - expr(s"INTERVAL $d"))
          case None => withTs
        }
    }
  }

  // ---- continuous queries (SURVEY §3.1, §3.3) ------------------------------

  /** SELECT … EMIT CHANGES: update-mode push query into an in-memory sink
    * table named `name` (read results via `spark.table(name)`). */
  def emitChanges(name: String, plan: DataFrame): StreamingQuery =
    startQuery(name, plan, "update")

  /** CREATE STREAM out AS SELECT (CSAS): append-mode stream→stream query.
    * If `name` is a registered file-backed stream, result partitions write
    * executor-side through the streaming FileSink into the stream's
    * directory (the 100 TB path — downstream queries tail the same files);
    * otherwise an in-memory sink table serves tests and pull-style reads. */
  def createStreamAs(name: String, plan: DataFrame): StreamingQuery =
    fileStreams.get(name) match {
      case Some(fe) => startFileSinkQuery(name, name, fe, plan, s"csas_$name")
      case None => startQuery(name, plan, "append")
    }

  /** Shared FileSink launch for CSAS / INSERT-SELECT into a file-backed
    * stream: distributed append writes, resumable (checkpointed + paused-
    * closure registered like every other query), one sink per target. */
  private def startFileSinkQuery(queryName: String, target: String,
                                 fe: FileStreamEntry, plan: DataFrame,
                                 ckptTag: String): StreamingQuery = {
    attachFileSink(target, queryName)
    val encoded =
      if (fe.wire) graft.sources.WireFormat.encode(plan) else plan
    def start() = encoded.writeStream.outputMode("append").format(fe.format)
      .option("checkpointLocation", ckpt(ckptTag))
      .option("path", fe.dir)
      .trigger(Trigger.ProcessingTime(0)).start()
    val q = start()
    queries(queryName) = q
    paused(queryName) = start _
    q
  }

  /** CSAS with the reference's wire encoding on the way out: rows are
    * serialized to extended JSON (graft.sources.WireFormat) so the sink
    * table holds exactly what the reference would append to a sink topic. */
  def createStreamAsWire(name: String, plan: DataFrame): StreamingQuery =
    startQuery(name, graft.sources.WireFormat.encode(plan), "append")

  private def startQuery(name: String, plan: DataFrame, mode: String): StreamingQuery = {
    def start() = plan.writeStream
      .outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(0)).start()
    val q = start()
    queries(name) = q
    paused(name) = start _
    q
  }

  /** INSERT INTO target SELECT … (InsertBySelectPlan, Codegen/V1.hs:151-160):
    * a continuous query appending each result row INTO the target stream,
    * so queries over the target observe them.
    *
    * File-backed target: Spark's native streaming file sink writes result
    * partitions EXECUTOR-SIDE into the directory the target's source tails —
    * nothing crosses the driver, so INSERT-SELECT throughput scales with the
    * cluster (this is the path a Kafka-backed stream would take too, with
    * only the sink format changing). MemoryStream target: rows are collected
    * and re-encoded through the insert path — that transport is
    * driver-resident by definition (tests only). */
  def insertSelect(target: String, plan: DataFrame,
                   qname: String = null): StreamingQuery = {
    val n = Option(qname).getOrElse(s"insert_$target")
    fileStreams.get(target) match {
      case Some(fe) =>
        startFileSinkQuery(n, target, fe, plan, n)
      case None =>
        // MemoryStream transport (driver-resident by definition; tests).
        // A wire-format target stores extended-JSON payloads, so re-encode
        // through WireFormat (one `value` string column) — plain toJSON
        // would feed bare values to the wire decoder, which nulls every
        // non-string field.
        val wire = isWireStream(target)
        val encoded =
          if (wire) graft.sources.WireFormat.encode(plan) else plan
        def start() = encoded.writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val rows =
              if (wire) batch.collect().map(_.getString(0))
              else batch.toJSON.collect()
            if (rows.nonEmpty) insert(target, rows.toIndexedSeq: _*)
          }
          .trigger(Trigger.ProcessingTime(0)).start()
        val q = start()
        queries(n) = q
        paused(n) = start _
        q
    }
  }

  // ---- connector tasks (SURVEY §2.1) ---------------------------------------

  /** Execute a SOURCE connector of the built-in `socket` type: a live TCP
    * transport feeding `stream` through the same [[df]] seam every other
    * source uses (payload format follows the target stream's: wire streams
    * decode extended JSON). The reference launches connector tasks as
    * external processes (hstream-io/src/HStream/IO/Worker.hs:71-83,
    * Docker images); socket tasks run in-engine, other types stay external
    * metadata. At-most-once like the underlying socket source: on
    * PAUSE/RESUME the task reconnects and the producer decides what to
    * replay. */
  def startSourceConnector(name: String, stream: String, host: String,
                           port: Int,
                           transport: String = "socket"): StreamingQuery = {
    require(!queries.contains(s"connector_$name"),
      s"connector $name already running; DROP it first")
    val internal = s"__conn_$name"
    transport match {
      case "socket" =>
        createSocketStream(internal, host, port, schemaOf(stream),
          wire = isWireStream(stream))
      case "ledger" =>
        // offset-tracked transport: consumed ranges live in the query's
        // checkpoint and the broker replays on demand, so this connector
        // class is RESUMABLE (exactly-once into file-backed streams) —
        // the guarantee the reference's CDC connector tasks provide
        // (hstream-io/src/HStream/IO/Worker.hs:71-83)
        createLedgerStream(internal, host, port, schemaOf(stream),
          wire = isWireStream(stream))
      case other => throw new IllegalArgumentException(
        s"unknown connector transport $other (socket|ledger)")
    }
    insertSelect(stream, df(internal), qname = s"connector_$name")
  }

  /** Execute a SINK connector of the built-in `socket` type: the stream's
    * records wire-encode (Rts/Old.hs:134-157 — what the reference's sink
    * task would push) and go out over TCP, each result partition writing on
    * its OWN connection executor-side — nothing crosses the driver, so sink
    * throughput scales with the cluster; the receiving system load-balances
    * connections exactly as it would the reference's parallel sink tasks. */
  def startSinkConnector(name: String, stream: String, host: String,
                         port: Int,
                         transport: String = "socket"): StreamingQuery = {
    val qn = s"connector_$name"
    // duplicate guard: a second query on the same checkpoint would corrupt
    // offsets and orphan the first's handle in the registry
    require(!queries.contains(qn),
      s"connector $name already running; DROP it first")
    require(transport == "socket" || transport == "ledger",
      s"unknown connector transport $transport (socket|ledger)")
    val encoded = graft.sources.WireFormat.encode(df(stream))
    def start() = encoded.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt(qn))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-partition connection: the one justified RDD use (imperative
        // per-partition network I/O with connection lifecycle)
        batch.rdd.foreachPartition { rows =>
          if (rows.hasNext) transport match {
            case "socket" =>
              val sock = new java.net.Socket(host, port)
              try {
                // BufferedWriter, NOT PrintWriter: PrintWriter swallows
                // IOExceptions (only sets an internal flag), which would let
                // the batch commit after a broken connection — silent loss.
                // A thrown IOException here fails the batch and Spark retries.
                val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
                  sock.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
                rows.foreach { r => out.write(r.getString(0)); out.newLine() }
                out.flush()
              } finally sock.close()
            case "ledger" =>
              // durable-before-ack appends; a failed produce throws and the
              // batch retries → at-least-once into the broker log (the same
              // contract as a non-transactional Kafka producer sink)
              rows.foreach { r =>
                graft.sources.LedgerClient.produce(host, port, r.getString(0))
              }
          }
        }
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    val q = start()
    queries(qn) = q
    paused(qn) = start _
    q
  }

  /** Stop a connector task and remove its transient source stream. */
  def dropConnector(name: String): Unit = {
    terminate(s"connector_$name")
    dropStream(s"__conn_$name")
  }

  // ---- CDC connector: materialized-table maintenance in-engine -------------

  /** A CDC-maintained table: `logDir` accumulates decoded change envelopes
    * (FileSink — distributed, exactly-once), [[cdcTable]] materializes the
    * latest state on demand. */
  private case class CdcEntry(logDir: String, rowSchema: StructType,
                              keyCols: Seq[String])
  private val cdcTables = TrieMap.empty[String, CdcEntry]

  /** Execute a CDC SOURCE connector in-engine: Debezium-shaped JSON change
    * envelopes (op/before/after/ts_ms/seq — graft.operators.Cdc) arrive
    * over the offset-tracked ledger transport, decode map-side, and append
    * to `table`'s durable changelog via the exactly-once FileSink; the
    * materialized table is served by [[cdcTable]] (and [[pull]] under the
    * table's name). The reference runs this entire pipeline as an external
    * Debezium container and only tracks task metadata + progress in-engine
    * (conf/hstream.yaml:129-143, hstream-io/src/HStream/IO/Worker.hs:71-83);
    * here the decode/apply processing half runs inside the engine with the
    * same resumability: ledger offsets live in the Spark checkpoint, so
    * PAUSE/RESUME/restart never lose or duplicate a change.
    *
    * Scale: the changelog is an append-only columnar-friendly log written
    * distributed; materialization is one partial-agg shuffle (Cdc.scala
    * header). A production deployment would periodically compact the log
    * through the same applyLatest plan (state := applyLatest(log)) — the
    * serving read is identical either way. */
  def startCdcConnector(name: String, table: String, host: String, port: Int,
                        rowSchema: StructType,
                        keyCols: Seq[String]): StreamingQuery = {
    require(!queries.contains(s"connector_$name"),
      s"connector $name already running; DROP it first")
    val env = graft.operators.Cdc.envelopeSchema(rowSchema)
    val internal = s"__conn_$name"
    // declared schema = envelope schema, so the shared df() seam's payload
    // parse IS the envelope decode — no CDC-specific read path
    createLedgerStream(internal, host, port, env)
    val entry = cdcTables.getOrElseUpdate(table,
      CdcEntry(tempDir(s"graft_cdc_$table"), rowSchema, keyCols))
    val logStream = s"__cdclog_$table"
    if (!fileStreams.contains(logStream))
      createFileStream(logStream, entry.logDir, env)
    // malformed envelopes decode to all-null rows (PERMISSIVE) and are
    // dropped here, mirroring Debezium's skipped-event accounting
    insertSelect(logStream,
      df(internal).drop("_ts").filter(col("op").isNotNull),
      qname = s"connector_$name")
  }

  /** Latest state of a CDC-maintained table: per key the (ts_ms, seq)-last
    * change's row, deletes removed. Batch frame over the changelog — every
    * call sees all changes committed so far (FileSink metadata log). */
  def cdcTable(table: String): DataFrame = {
    val e = cdcTables.getOrElse(table,
      throw new IllegalArgumentException(s"unknown CDC table $table"))
    val changes = spark.read
      .schema(graft.operators.Cdc.envelopeSchema(e.rowSchema)).json(e.logDir)
    graft.operators.Cdc.applyLatest(changes, e.keyCols)
  }

  private[graft] def isCdcTable(name: String): Boolean = cdcTables.contains(name)

  private[graft] def cdcLogDir(table: String): String = cdcTables(table).logDir

  /** Adopt an existing durable changelog (restart/recovery): a fresh engine
    * registers the log dir BEFORE restarting the connector, so the FileSink
    * resumes appending to the same log its checkpoint describes — the CDC
    * analogue of RecoverySpec's durable-checkpointRoot contract. */
  def adoptCdcTable(table: String, logDir: String, rowSchema: StructType,
                    keyCols: Seq[String]): Unit =
    cdcTables.putIfAbsent(table, CdcEntry(logDir, rowSchema, keyCols))

  /** TERMINATE QUERY (AST.hs:856-868). */
  def terminate(name: String): Unit = {
    queries.remove(name).foreach(_.stop()); paused.remove(name)
    // a terminated view must stop SERVING too: stale snapshot/manifest/
    // append-log registrations would otherwise shadow a recreated view
    // of the same name (pull checks these maps before the catalog)
    views.remove(name); incViews.remove(name); appendViews.remove(name)
    claimCopy(name, 0)
    fileSinkWriters.filterInPlace((_, writer) => writer != name)
  }

  /** PAUSE: stop consumption, keep the restart closure (AST.hs:880-906).
    * MemoryStream retains data, so RESUME replays from the start — same
    * at-least-once contract as the reference's changelog restore. */
  def pause(name: String): Unit = queries.get(name).foreach(_.stop())

  /** Restart a paused query from its checkpoint. RESUME of a query that
    * is still RUNNING is idempotent (returns the live query) — the
    * restart thunk in `paused` registers at START, so blindly invoking it
    * would launch a SECOND concurrent query on the same checkpoint (r14
    * RejectFuzz connector-lifecycle find: RESUME before PAUSE). An
    * unknown name is a messaged rejection, not a NoSuchElementException. */
  def resume(name: String): StreamingQuery =
    queries.get(name).filter(_.isActive) match {
      case Some(live) => live
      case None =>
        val mk = paused.getOrElse(name, throw new IllegalArgumentException(
          s"no pausable query $name"))
        val q = mk(); queries(name) = q; q
    }

  def showQueries: Seq[String] = queries.keys.toSeq.sorted

  /** EXPLAIN: the physical plan of a (streaming) DataFrame. */
  def explain(plan: DataFrame): String = plan.queryExecution.explainString(
    org.apache.spark.sql.execution.FormattedMode)

  /** Block until every started query has processed all available input.
    * Queries can feed each other (CSAS / INSERT-SELECT pipelines), so one
    * pass in arbitrary order can leave a downstream query unfed. Iterate
    * until a full pass moves no data (fixpoint): the shallowest unfed hop
    * drains every pass, so productive passes ≤ pipeline depth regardless of
    * how many queries the engine hosts — not the old N passes × N queries.
    * Returns the number of PRODUCTIVE passes (one final no-progress pass
    * verifies the fixpoint and is not counted). */
  def processAll(): Int = {
    // a pass "made progress" if any query processed a batch with input rows
    // beyond its batchId high-water mark
    val seen = scala.collection.mutable.Map.empty[String, Long]
    var productive = 0
    var progress = true
    // pass bound: a self-feeding pipeline (INSERT INTO s SELECT ... FROM s)
    // or a continuously-fed external source would otherwise never reach the
    // fixpoint — cap at a generous multiple of the pipeline size and return
    // what drained so far rather than hanging the caller
    val maxPasses = math.max(queries.size * 2, 8)
    var passes = 0
    while (progress && passes < maxPasses) {
      passes += 1
      progress = false
      queries.foreach { case (name, q) =>
        q.processAllAvailable()
        val hwm = seen.getOrElse(name, -1L)
        val advanced = q.recentProgress.exists(p =>
          p.batchId > hwm && p.numInputRows > 0)
        seen(name) = (q.recentProgress.map(_.batchId) :+ hwm).max
        if (advanced) progress = true
      }
      if (progress) productive += 1
    }
    productive
  }

  // ---- materialized views (SURVEY §3.2) ------------------------------------

  /** view name → (base dir, latest snapshot path, result schema). The
    * snapshot pointer flips only after a full distributed write succeeds,
    * so pulls never observe a half-written snapshot. */
  private final class ViewState(val dir: String, val schema: StructType) {
    @volatile var snapshot: Option[String] = None
  }
  private val views = TrieMap.empty[String, ViewState]

  /** CREATE VIEW name AS <aggregation plan>: complete-mode materialization
    * into a PARQUET-BACKED table via foreachBatch — each trigger writes the
    * full aggregate distributed (executor-side, one snapshot dir per batch)
    * and then flips the serving pointer. The reference holds view state in
    * an in-memory store and dumps it per pull (groupbyStores, View.hs:
    * 134-135; ksDump Processor.hs:380-411) — a driver-memory bound we
    * deliberately do not inherit: at 100 TB the aggregate lives in files,
    * the driver only tracks a path. */
  /** Root for view snapshots. Set `spark.graft.viewRoot` to SHARED storage
    * (HDFS/object store) on a real cluster — executors write snapshot
    * partitions there and the driver's pull() scans the same path; the
    * local temp default is correct only for local[*]. */
  private val viewRoot: String =
    spark.conf.getOption("spark.graft.viewRoot").getOrElse(tempDir("graft_view"))

  /** How many snapshot generations to retain per view (besides serving
    * correctness, this is the grace window for long-lived readers: a
    * continuous query planned over [[pull]] re-reads its pinned snapshot
    * path every micro-batch, so retention must cover its lifetime — raise
    * this, or re-plan such readers per batch). Default 2 = current +
    * previous. */
  private def viewRetain: Int = math.max(2,
    spark.conf.getOption("spark.graft.viewRetainSnapshots").map(_.toInt).getOrElse(2))

  private def hadoopFs(dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  def createView(name: String, plan: DataFrame): StreamingQuery = {
    val state = new ViewState(s"$viewRoot/$name", plan.schema)
    // Recovery: with a durable viewRoot + checkpointRoot, a restarted engine
    // must serve the last committed snapshot immediately — not an empty
    // result until new input arrives (the checkpoint makes the query itself
    // resume, but the serving pointer lives here). Latest b<N> wins.
    locally {
      val (fs, dirPath) = hadoopFs(state.dir)
      if (fs.exists(dirPath)) {
        // only COMMITTED snapshots qualify (_SUCCESS marker): a crash mid
        // parquet write leaves a partial b<N> that must not be served —
        // the newest committed generation wins, not the lexically newest
        val prior = fs.listStatus(dirPath)
          .filter(st => st.isDirectory && st.getPath.getName.matches("b\\d+") &&
            fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
          .sortBy(_.getPath.getName.drop(1).toLong)
        prior.lastOption.foreach(st => state.snapshot = Some(st.getPath.toString))
      }
    }
    views(name) = state
    val q = plan.writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt(s"view_$name"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val path = s"${state.dir}/b$batchId"
        batch.write.mode("overwrite").parquet(path)
        state.snapshot = Some(path)
        // retain the newest `viewRetain` snapshots (concurrent readers of a
        // replaced snapshot get that many generations of grace — see
        // viewRetain). Hadoop FS, not java.io: the root may be HDFS/S3.
        val (fs, dirPath) = hadoopFs(state.dir)
        val gens = fs.listStatus(dirPath)
          .filter(st => st.isDirectory && st.getPath.getName.matches("b\\d+"))
          .sortBy(-_.getPath.getName.drop(1).toLong)
        gens.drop(viewRetain).foreach(st => fs.delete(st.getPath, true))
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    queries(name) = q
    q
  }

  /** APPEND-mode view maintenance for SESSION-window (and join-fed)
    * aggregations — the scale path complete-mode snapshots can't offer:
    * once the watermark passes, a session is CLOSED and immutable, so the
    * store is a FileSink parquet log that only ever appends —
    * O(new sessions) write amplification per trigger vs O(view) for the
    * snapshot rewrite. Exactly-once via the FileSink commit log; restart
    * recovery is automatic (checkpoint resumes the query, pulls read the
    * directory). Opt-in semantics divergence, documented: pulls see
    * closed sessions only — sessions still open inside the watermark are
    * buffered in streaming state and not yet visible (the complete-mode
    * default shows them; the reference's incremental state does too,
    * Core/View.hs:94-141). */
  def createViewAppend(name: String, plan: DataFrame,
                       retainOn: Option[String] = None,
                       retention: Option[String] = None): StreamingQuery = {
    require(retention.isEmpty == retainOn.isEmpty,
      "retention and retainOn must be set together")
    retainOn.foreach(c => require(plan.schema.fieldNames.contains(c),
      s"retention column $c must be an output column of the view plan"))
    val dir = s"$viewRoot/$name/alog"
    val bucketSecs = retention.map(intervalSeconds)
    appendViews(name) =
      AppendViewState(dir, plan.schema, retainOn, retention, bucketSecs)
    // With retention, the log is partitioned by a coarse time bucket of the
    // retention column (one bucket = one retention width), so GC can drop
    // whole expired partition dirs without touching live files.
    val withBucket = (retainOn, bucketSecs) match {
      case (Some(c), Some(s)) => plan.withColumn("graft_ret_bucket",
        floor(unix_timestamp(col(c)) / s))
      case _ => plan
    }
    val writer = withBucket.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", ckpt(s"view_$name"))
    val q = (if (retention.isDefined) writer.partitionBy("graft_ret_bucket")
             else writer)
      .trigger(Trigger.ProcessingTime(0)).start()
    queries(name) = q
    q
  }

  private case class AppendViewState(dir: String, schema: StructType,
                                     retainOn: Option[String],
                                     retention: Option[String],
                                     bucketSecs: Option[Long])
  private val appendViews = TrieMap.empty[String, AppendViewState]

  /** Storage directory of an append-mode view (tests/diagnostics). */
  private[graft] def appendViewDir(name: String): String = appendViews(name).dir

  /** Interval string → seconds: the epoch plus the interval in the session
    * time zone, Spark's own timestamp + interval arithmetic, on the driver
    * with no job. Month/year intervals resolve at the epoch — retention is
    * meant for day-scale backlogs, not calendar arithmetic. */
  private[graft] def intervalSeconds(d: String): Long = {
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(d))
    val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
    Math.floorDiv(DateTimeUtils.timestampAddInterval(
      0L, iv.months, iv.days, iv.microseconds, zone), 1000000L)
  }

  /** Drop whole expired partition dirs of the existing log `dir` of an
    * append view whose buckets are `s` seconds wide: a bucket covers
    * [b·s, (b+1)·s) of the retention column, so it is deletable once its
    * UPPER bound is a full bucket width behind the wall-clock horizon —
    * live readers of the metadata log skip the vanished files
    * (ignoreMissingFiles on the pull read). Runs opportunistically at pull
    * time; idempotent, one listing. Returns whether any partition dir
    * survives. */
  private def gcAppendView(fs: FileSystem, dir: Path, s: Long): Boolean = {
    val horizonBucket = (System.currentTimeMillis() / 1000L - s) / s
    val (expired, live) = fs.listStatus(dir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("graft_ret_bucket="))
      .partition(_.getPath.getName.stripPrefix("graft_ret_bucket=").toLong + 1 <= horizonBucket - 1)
    expired.foreach(st => fs.delete(st.getPath, true))
    live.nonEmpty
  }

  // ---- incremental views (update-mode upsert; the 100× scale path) ---------

  /** One served generation of an incremental view, immutable and swapped
    * whole: the manifest (bucket → the one leaf that serves it), the data
    * files of those leaves, and, while the view is small, its rows on the
    * driver, each carrying its `graft_bucket` as the last field. `frame` is
    * the serving relation, built once: a Catalyst `LocalRelation` over
    * `rows` when they are kept, so a pull of it runs no Spark job, else a
    * scan of the recorded files ([[readLeaves]]). Both have the view schema
    * read nullable, in the view's column order. */
  private final class IncGen(val manifest: Map[Int, String],
                             val files: Map[String, Seq[FileStatus]],
                             val rows: Option[Array[Row]],
                             val frame: DataFrame)

  /** view name → (dir, output schema, upsert keys, bucket count, serving
    * generation). A generation flips atomically, by one volatile write,
    * after each batch's distributed write; history retains recent manifests
    * so pinned readers get a grace window (viewRetain generations).
    *
    * A bucket maps to ONE leaf path: the generation that last rewrote the
    * bucket whole. Every leaf holds exactly one parquet file, and reads of
    * leaves go through the data files recorded for them when they were
    * written ([[readLeaves]]), so no pull and no trigger lists a directory
    * or launches a listing job.
    *
    * Every stored row satisfies `graft_bucket = bucketOf`: a row's bucket
    * is computed from its keys with [[bucketOf]] before any write, and
    * `graft_bucket` is the leaf it lands in. Reads carry that invariant
    * into the plan, so a pull that fixes every key reads one bucket. */
  private final class IncViewState(val dir: String, val schema: StructType,
                                   val keys: Seq[String], val buckets: Int,
                                   val retainOn: Option[String],
                                   val retention: Option[String]) {
    @volatile var gen: IncGen = _
    @volatile var history: List[Map[Int, String]] = Nil
    /** The view schema as it is read back: every field nullable, as
      * `spark.read` reads any file source. */
    val readSchema: StructType = {
      def nullable(t: DataType): DataType = t match {
        case s: StructType => StructType(s.fields.map(f =>
          f.copy(dataType = nullable(f.dataType), nullable = true)))
        case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
        case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
        case other => other
      }
      nullable(schema).asInstanceOf[StructType]
    }
    /** The bucket of a row, from its upsert keys. */
    def bucketOf: Column = pmod(hash(keys.map(col): _*), lit(buckets))
    /** Retention predicate over served/rewritten rows (true = keep);
      * DURATION semantics, same wall-clock form as the stream read path. */
    def live: Column = (retainOn, retention) match {
      case (Some(c), Some(d)) =>
        col(c) >= current_timestamp() - expr(s"INTERVAL $d")
      case _ => lit(true)
    }
  }
  private val incViews = TrieMap.empty[String, IncViewState]

  /** Test seam (ViewFuzz r14, VERDICT r13 #4b): invoked from the
    * maintenance thread at named points of the incremental-view
    * transaction — ("view", "post-write") after a generation's files are
    * durable but before the in-memory manifest flips, ("post-flip")
    * after the flip but before the manifest persists, ("post-persist")
    * before GC. Production default is a no-op; the view fuzzer injects
    * pulls here to certify that a pull landing inside each window serves
    * one CONSISTENT snapshot (pre-batch state before the flip, post-batch
    * state after), including while a served bucket is being rewritten. */
  private[graft] var incViewSeam: (String, String) => Unit = (_, _) => ()

  /** A generation keeps its rows on the driver while the view holds fewer
    * rows than this (and its copy fits [[incViewDriverBytes]]); a pull of
    * it is then a `LocalRelation` filtered on the driver, no Spark job.
    * The bound is near the size where that filter costs what the
    * one-bucket parquet job it replaces costs. Measured on an idle 4-core
    * `local[4]` session, a 64-bucket view of one BIGINT sum per INT key, p50
    * of 200 key pulls through [[pull]] plus `collect`: 14, 13, 31 and 62 ms
    * from the driver copy at 500, 10k, 50k and 100k rows, against 64, 56,
    * 47 and 49 ms for the one-bucket job, so the two cross near 78k rows.
    * The copy also costs upkeep: each trigger rebuilds the relation, O(view)
    * (p50 trigger of 20 changed keys at 75k rows: 625–686 ms with the copy
    * against 569–592 ms without), so the bound is 50k, where a pull still
    * saves a third. A view that outgrows the bound or the byte budget
    * drops its copy until a restart reloads it. Tests set it to 0 to serve
    * every view from parquet. */
  private[graft] var incViewDriverRows: Int = 50000

  /** Byte budget shared by the driver copies of all incremental views of
    * this engine: a share of the driver heap, so wide rows drop a copy
    * before their count reaches the row bound. A copy is collected only
    * when the parquet bytes of its generation fit what the other views
    * leave ([[claimCopy]]), and kept only when its estimated size does,
    * counted twice: the collected rows and the `LocalRelation`'s
    * converted copy of them. Parquet bytes understate highly
    * compressible rows, which the estimate after the collect then drops.
    * Tests lower it. */
  private[graft] var incViewDriverBytes: Long = Runtime.getRuntime.maxMemory / 16

  /** View name → the bytes its driver copy claims of [[incViewDriverBytes]]. */
  private val copyClaims = scala.collection.mutable.Map.empty[String, Long]

  /** Claim `bytes` of the shared driver-copy budget for view `name`,
    * replacing its previous claim. When the claims of all views would not
    * fit, the view's claim is dropped and the answer is false; a claim of
    * 0 releases it. */
  private def claimCopy(name: String, bytes: Long): Boolean = copyClaims.synchronized {
    val others = copyClaims.iterator.collect { case (v, b) if v != name => b }.sum
    val fits = bytes > 0 && others + bytes <= incViewDriverBytes
    if (fits) copyClaims(name) = bytes else copyClaims.remove(name)
    fits
  }

  /** Driver copies collected so far, by triggers and restarts (tests). */
  private[graft] val incViewCopiesCollected = new java.util.concurrent.atomic.AtomicInteger

  /** The rows of `df`, collected as a driver copy. */
  private def collectCopy(df: DataFrame): Array[Row] = {
    incViewCopiesCollected.incrementAndGet()
    df.collect()
  }

  /** CREATE VIEW with INCREMENTAL maintenance: the aggregation runs in
    * UPDATE mode, so each trigger carries only the keys whose aggregates
    * changed, and the sink upserts just those keys into a bucket-partitioned
    * parquet table — write amplification is O(changed buckets), not O(view)
    * as in complete-mode [[createView]]. The reference maintains view state
    * incrementally and serves pulls from it (hstream/src/HStream/Server/
    * Core/View.hs:94-141; state dump Processor.hs:380-411); this is that
    * semantics with the state in shared storage, and a small view's rows
    * also on the driver.
    *
    * Layout: each batch writes `dir/g<batchId>/graft_bucket=<b>/` for affected
    * buckets only, one parquet file per leaf (every write repartitions by
    * bucket first); a manifest (bucket → leaf path) flips atomically and is
    * persisted for engine-restart recovery. Unchanged buckets keep serving
    * their old generation's files untouched. Pulls and maintenance reads
    * scan the files recorded when each leaf was written, so they run no
    * listing job however many buckets they span. A row's bucket is
    * `pmod(hash(keys), buckets)`; reads state that invariant as a filter
    * over the `graft_bucket` partition column, so a pull that fixes every
    * key with an equality reads that key's bucket alone. While the view is
    * under [[incViewDriverRows]], each generation also keeps its rows on the
    * driver ([[IncGen]]), which pulls filter without a Spark job. `keys` must be
    * output columns of `plan` (the upsert identity); `buckets` bounds the
    * per-trigger rewrite granularity — at 100 TB size it so one bucket's
    * parquet fits comfortably in executor memory (e.g. thousands). */
  def createViewIncremental(name: String, plan: DataFrame, keys: Seq[String],
                            buckets: Int = 64,
                            retainOn: Option[String] = None,
                            retention: Option[String] = None): StreamingQuery = {
    require(keys.nonEmpty && keys.forall(plan.schema.fieldNames.contains),
      s"upsert keys $keys must be output columns of the view plan")
    require(retention.isEmpty == retainOn.isEmpty,
      "retention and retainOn must be set together")
    retainOn.foreach(c => require(plan.schema.fieldNames.contains(c),
      s"retention column $c must be an output column of the view plan"))
    val state = new IncViewState(s"$viewRoot/$name", plan.schema, keys, buckets,
      retainOn, retention)
    state.gen = loadManifest(name, state) // engine-restart recovery: serve last committed state
    state.history = List(state.gen.manifest)
    incViews(name) = state
    val q = plan.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt(s"incview_$name"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val delta = batch.withColumn("graft_bucket", state.bucketOf).persist()
        try {
          val (affected, deltaRows) = bucketsIn(delta)
          if (affected.nonEmpty) {
            // Replay safety: after a crash between manifest persist and the
            // checkpoint commit, the replayed batch's manifest may point
            // INTO g<batchId> — overwriting a directory that is also the
            // lazy read input would destroy it. Pick a fresh suffix.
            val (gfs, _) = hadoopFs(state.dir)
            var genDir = s"${state.dir}/g$batchId"
            var attempt = 0
            while (gfs.exists(new org.apache.hadoop.fs.Path(genDir))) {
              attempt += 1; genDir = s"${state.dir}/g$batchId-r$attempt"
            }
            val next = upsertWholeBucket(name, state, delta, deltaRows, affected, genDir)
            // Maintenance-transaction seam points (ViewFuzz r14): files of
            // this generation are fully written at "post-write" but the
            // serving generation is still the previous one; the in-memory
            // flip at "post-flip" is the atomic visibility point;
            // persistence only matters for restart recovery. A pull landing
            // in any window must see ONE consistent state.
            incViewSeam(name, "post-write")
            state.gen = next
            incViewSeam(name, "post-flip")
            state.history = (next.manifest :: state.history).take(viewRetain)
            persistManifest(state, batchId)
            incViewSeam(name, "post-persist")
            gcIncView(state)
          }
        } finally delta.unpersist()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    queries(name) = q
    q
  }

  /** The upsert: rewrite each affected bucket whole — unchanged rows of
    * the bucket (null-safe anti-join against the delta keys: a null group
    * key's old row must be replaced too, since k = k is NULL for nulls and
    * a plain anti-join would keep appending one stale row per trigger) plus
    * the delta rows. O(changed buckets) writes. Returns the next generation;
    * when the serving one keeps a driver copy, the next copy is its rows of
    * the unaffected buckets plus the merged rows the write produced. */
  private def upsertWholeBucket(name: String, state: IncViewState, delta: DataFrame,
                                deltaRows: Long, affected: Set[Int], genDir: String): IncGen = {
    val old = state.gen
    val current = readLeaves(state,
        affected.toSeq.flatMap(old.manifest.get).map(l => l -> old.files(l)))
      .where(state.live) // bucket rewrites shed rows past retention
    val deltaKeys = delta.select(state.keys.map(col): _*).alias("__dk")
    val antiCond = state.keys.map(k =>
      current(k) <=> org.apache.spark.sql.functions.col(s"__dk.$k"))
      .reduce(_ && _)
    val merged = current
      .join(deltaKeys, antiCond, "left_anti")
      .unionByName(delta)
      .repartition(col("graft_bucket")) // one writing task, so one file, per bucket
    // the next copy holds at most the old copy's rows plus the delta's; when
    // it will be collected, the merge is persisted across the write and
    // read back from the cache the write filled, not merged again
    val copying = old.rows.exists(_.length + deltaRows < incViewDriverRows)
    if (copying) merged.persist()
    try {
      writeLeaves(merged, genDir)
      val (fs, _) = hadoopFs(state.dir)
      val leaves = affected.map(b => b -> s"$genDir/graft_bucket=$b").toMap
      val files = old.files -- affected.flatMap(old.manifest.get) ++
        leaves.values.map(leaf => leaf -> dataFiles(fs, leaf))
      // collected only when the generation's parquet bytes fit the budget
      val rows = old.rows.filter(_ => copying && claimCopy(name, storedBytes(files)))
        .map(kept => kept.filterNot(r => affected(r.getInt(r.length - 1))) ++ collectCopy(merged))
      generation(name, state, old.manifest ++ leaves, files, rows)
    } finally if (copying) merged.unpersist()
  }

  /** Write `df` (which carries graft_bucket, each bucket in one partition)
    * under `dir`: one leaf per bucket, ONE parquet file per leaf. */
  private def writeLeaves(df: DataFrame, dir: String): Unit =
    df.write.partitionBy("graft_bucket").mode("overwrite").parquet(dir)

  /** A generation and its serving frame. `rows` (which carry graft_bucket)
    * are kept, and served, only while they are under [[incViewDriverRows]]
    * and their claim fits [[incViewDriverBytes]]. */
  private def generation(name: String, state: IncViewState, manifest: Map[Int, String],
                         files: Map[String, Seq[FileStatus]],
                         rows: Option[Array[Row]]): IncGen = {
    val kept = rows.filter(a => a.length < incViewDriverRows &&
      claimCopy(name, 2 * SizeEstimator.estimate(a)))
    if (kept.isEmpty) claimCopy(name, 0)
    val frame = kept.fold(readLeaves(state, manifest.values.toSeq.map(l => l -> files(l))))(a =>
      spark.createDataFrame(java.util.Arrays.asList(a: _*),
        state.readSchema.add("graft_bucket", IntegerType)))
    new IncGen(manifest, files, kept, frame.drop("graft_bucket"))
  }

  /** The bytes of the data files of a generation. */
  private def storedBytes(files: Map[String, Seq[FileStatus]]): Long =
    files.valuesIterator.flatten.map(_.getLen).sum

  /** The distinct `graft_bucket` values of `df` and its row count in one
    * stage: a set and a count per partition, combined on the driver
    * (O(buckets) there, as a collected distinct is, without the distinct's
    * shuffle stage). */
  private def bucketsIn(df: DataFrame): (Set[Int], Long) =
    df.select("graft_bucket").rdd
      .mapPartitions { rows =>
        var n = 0L
        val seen = rows.map { r => n += 1; r.getInt(0) }.toSet
        Iterator(seen -> n)
      }
      .collect().foldLeft((Set.empty[Int], 0L)) { case ((s, n), (t, m)) => (s ++ t, n + m) }

  /** The data files of one leaf directory (hidden `_`/`.` names skipped,
    * as Spark's own file listing does). */
  private def dataFiles(fs: FileSystem, leaf: String): Seq[FileStatus] =
    fs.listStatus(new Path(leaf)).toSeq.filterNot(st =>
      st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))

  /** A scan over the data files of `leaves` (leaf path, its recorded data
    * files) with the view schema plus the partition column `graft_bucket`:
    * a parquet relation over a [[KnownFiles]] index, so planning it lists
    * nothing. The schema is read nullable ([[IncViewState.readSchema]]).
    *
    * The scan is filtered by the stored-row invariant
    * `graft_bucket = pmod(hash(keys), buckets)`. It holds for every stored
    * row (each write derives `graft_bucket` from the keys with that same
    * expression, see [[IncViewState.bucketOf]]), so the filter removes
    * nothing; what it adds is the link from the keys to the partition
    * column. When a pull fixes every key with an equality, Catalyst's
    * ConstantPropagation and ConstantFolding rewrite it to
    * `graft_bucket = <b>`, a partition filter, and the scan reads the one
    * bucket that can hold the key. */
  private def readLeaves(state: IncViewState, leaves: Seq[(String, Seq[FileStatus])]): DataFrame = {
    val index = KnownFiles(leaves)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      state.readSchema, None, new ParquetFileFormat, Map.empty)(spark))
      .where(col("graft_bucket") === state.bucketOf)
  }

  /** The serving manifest of an incremental view (tests/diagnostics):
    * bucket → the one leaf that serves it. */
  private[graft] def viewManifest(name: String): Map[Int, String] =
    incViews(name).gen.manifest

  private def persistManifest(state: IncViewState, gen: Long): Unit = {
    val (fs, _) = hadoopFs(state.dir)
    val tmp = new org.apache.hadoop.fs.Path(s"${state.dir}/manifest-g$gen.tmp")
    val out = fs.create(tmp, true)
    // one line per bucket: bucket \t leaf path
    try out.write(state.gen.manifest.toSeq.sortBy(_._1)
      .map { case (b, leaf) => s"$b\t$leaf" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(s"${state.dir}/manifest-g$gen.txt")
    // a replayed batch re-persists the same generation id: HDFS rename to
    // an existing path fails (local FS silently succeeds) — delete first
    if (fs.exists(dst)) fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  /** The serving generation of view `name` at start: the newest persisted
    * manifest, or an empty view. A line naming more than one leaf is a
    * chain of the removed delta-log storage, whose files hold superseded
    * rows per key: serving it as whole buckets would answer wrongly, so
    * recovery refuses it. A one-leaf line of that storage (a first delta or
    * a compacted base) holds one row per key and recovers like any
    * whole-bucket leaf. Other files in the directory (such as that
    * storage's `zones-g*.txt`) are not read. The driver copy is reloaded
    * here, once, by one bounded read, when the recovered view is under the
    * bound. */
  private def loadManifest(name: String, state: IncViewState): IncGen = {
    val (fs, dirPath) = hadoopFs(state.dir)
    val manifest = (if (!fs.exists(dirPath)) None else fs.listStatus(dirPath)
      .filter(_.getPath.getName.matches("manifest-g\\d+\\.txt"))
      .sortBy(_.getPath.getName.stripPrefix("manifest-g").stripSuffix(".txt").toLong)
      .lastOption).fold(Map.empty[Int, String]) { st =>
      val in = fs.open(st.getPath)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      text.linesIterator.filter(_.contains('\t')).map { line =>
        line.split("\t") match {
          case Array(b, leaf) => b.toInt -> leaf
          case _ => throw new IllegalStateException(
            s"incremental view $name: ${st.getPath} serves bucket " +
              s"${line.takeWhile(_ != '\t')} from several leaves, a chain of " +
              "the delta-log view storage, which was removed; recreate the view")
        }
      }.toMap
    }
    val files = manifest.values.map(leaf => leaf -> dataFiles(fs, leaf)).toMap
    val rows =
      if (manifest.isEmpty) Some(Array.empty[Row])
      else if (!claimCopy(name, storedBytes(files))) None
      else Some(collectCopy(readLeaves(state, files.toSeq).limit(incViewDriverRows)))
    generation(name, state, manifest, files, rows)
  }

  /** Delete generation dirs no manifest in the retention window references,
    * and manifest files older than the newest (recovery needs only that).
    * One listing of the view directory per trigger. */
  private def gcIncView(state: IncViewState): Unit = {
    val (fs, dirPath) = hadoopFs(state.dir)
    val referenced = state.history.flatMap(_.values)
      .map(leaf => new Path(leaf).getParent.getName).toSet
    val entries = fs.listStatus(dirPath)
    def genOf(n: String) = n.stripPrefix("manifest-g").stripSuffix(".txt").toLong
    val newestManifest = entries.map(_.getPath.getName)
      .filter(_.matches("manifest-g\\d+\\.txt")).map(genOf).maxOption
    entries.foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.matches("g\\d+(-r\\d+)?") && !referenced.contains(n))
        fs.delete(st.getPath, true)
      else if (n.matches("manifest-g\\d+\\.txt") && newestManifest.exists(_ > genOf(n)))
        fs.delete(st.getPath, false)
    }
  }

  /** Pull query over a view: a BATCH scan over the parquet snapshot with the
    * immediate WHERE applied — the predicate and projection push into the
    * parquet reader (View.hs:166-254's splice made unnecessary by
    * materializing final output; SURVEY §3.2). Falls back to the session
    * catalog for names materialized elsewhere (e.g. memory-sink tests). */
  def pull(view: String, where: String = "true"): DataFrame =
    if (cdcTables.contains(view)) cdcTable(view).where(where)
    else appendViews.get(view) match {
      case Some(state) =>
        val (fs, p) = hadoopFs(state.dir)
        if (!fs.exists(p)) // no session has closed yet: empty, correctly typed
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], state.schema)
            .where(where)
        else (state.retainOn, state.retention, state.bucketSecs) match {
          case (Some(c), Some(ret), Some(secs)) =>
            // opportunistic GC: expired partitions vanish. It may empty the
            // log entirely (everything expired): schema inference over a
            // metadata log of vanished files fails, so serve empty-typed
            if (!gcAppendView(fs, p, secs))
              spark.createDataFrame(spark.sparkContext.emptyRDD[Row], state.schema)
                .where(where)
            else {
              // ignoreMissingFiles: the FileSink metadata log still lists
              // GC'd files; the scan must skip them, not fail. The bucket
              // predicate prunes expired partitions the GC grace still
              // retains; the row filter is the exact retention semantics
              // (same wall-clock form as the stream read path's DURATION).
              val horizon = current_timestamp() - expr(s"INTERVAL $ret")
              // explicit schema (view schema + the partition column): footer
              // inference would try to read GC'd files before the scan's
              // ignoreMissingFiles can skip them
              spark.read
                .schema(StructType(state.schema.fields :+
                  StructField("graft_ret_bucket", LongType)))
                .option("ignoreMissingFiles", "true")
                .parquet(state.dir)
                .where(col("graft_ret_bucket") >=
                  floor(unix_timestamp(horizon) / secs) - 1)
                .where(col(c) >= horizon)
                .drop("graft_ret_bucket")
                .where(where)
            }
          case _ =>
            spark.read.schema(state.schema).parquet(state.dir).where(where)
        }
      case None => pullNonAppend(view, where)
    }

  private def pullNonAppend(view: String, where: String): DataFrame =
    incViews.get(view) match {
      case Some(state) =>
        // the serving generation at CALL time: each pull (and each
        // re-planned batch over it) sees the current generation; a pinned
        // plan over files gets viewRetain generations of grace before GC
        state.gen.frame.where(state.live && expr(where))
      case None => views.get(view) match {
        case Some(state) => state.snapshot match {
          case Some(path) => spark.read.parquet(path).where(where)
          case None => // no trigger has completed yet: empty, correctly typed
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], state.schema)
              .where(where)
        }
        case None => spark.table(view).where(where)
      }
    }

  /** Bounded pull: the reference dumps whole state stores to the client
    * (ksDump/ssDump, Processor.hs:380-411) — unbounded driver memory on a
    * big view. This serves at most `limit` rows as a local iterator, so
    * driver memory is O(limit) regardless of view size (SURVEY §7.3). */
  def pullBounded(view: String, where: String = "true",
                  limit: Int = 10000): Iterator[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    pull(view, where).limit(limit).toLocalIterator().asScala
  }
}

/** A file index over view leaves whose data files are already known
  * (recorded when they were written): one partition per leaf, valued by
  * the bucket its `graft_bucket=<b>` name carries. Planning a scan over it
  * lists nothing and launches no listing job, whatever the number of
  * leaves; partition filters on `graft_bucket` drop the leaves they
  * cannot match, so a scan whose filters fix the bucket (the stored-row
  * invariant of [[Engine.readLeaves]] under a key equality) reads one
  * bucket. */
private final class KnownFiles(leaves: Seq[PartitionDirectory]) extends FileIndex {
  override def rootPaths: Seq[Path] =
    leaves.flatMap(_.files.map(_.getPath.getParent)).distinct
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) leaves
    else {
      // graft_bucket is the only partition column: bind every reference
      // to it, as Spark's own partition pruning binds by name
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case _: AttributeReference => BoundReference(0, IntegerType, nullable = true)
      })
      leaves.filter(leaf => keep.eval(leaf.values))
    }
  override def inputFiles: Array[String] =
    leaves.flatMap(_.files.map(_.getPath.toString)).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = leaves.flatMap(_.files.map(_.getLen)).sum
  override def partitionSchema: StructType = KnownFiles.partitionSchema
}

private object KnownFiles {
  val partitionSchema: StructType = StructType(Seq(StructField("graft_bucket", IntegerType)))

  /** An index over `(leaf path, its data files)` pairs. */
  def apply(leaves: Seq[(String, Seq[FileStatus])]): KnownFiles =
    new KnownFiles(leaves.map { case (leaf, files) =>
      val bucket = new Path(leaf).getName.stripPrefix("graft_bucket=").toInt
      PartitionDirectory(InternalRow(bucket), files.toArray)
    })
}
