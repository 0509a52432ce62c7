package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.pipeline.Ingest

/** Streaming flavor of the ingest pipeline: sources (SURVEY §2.1), the
  * shared parse/cast transform, and sinks (§2.3) with the reference's
  * buffering/retry semantics mapped onto Structured Streaming.
  *
  * Delivery semantics vs the reference (SURVEY §4.2): checkpointing couples
  * source offsets to sink progress — file→parquet is exactly-once,
  * Kafka→JDBC at-least-once; both strictly stronger than the reference's
  * volatile in-memory buffer (crash between offset commit and flush loses
  * rows there).
  *
  * Every sink installs [[SessionSettings]] on its session, each unless the
  * session already has a value for it, so sessions built outside
  * [[graft.GraftSession]] run their streams the same way.
  */
object StreamingIngest {

  /** Spark's per-session artifact isolation. On (Spark's default), every
    * streaming query runs in a session clone with its own executor class
    * loader, and the codegen cache is keyed by class loader, so each query
    * compiles and JITs its generated classes again. The engine adds no
    * session artifacts, so isolation buys nothing here.
    */
  val ArtifactIsolationKey = "spark.sql.artifact.isolation.enabled"

  /** The settings every stream of the engine runs with: checkpoint logs on
    * local disk written without a process per file, and generated classes
    * reused by every query of the session.
    */
  val SessionSettings: Seq[(String, String)] = Seq(
    LocalCheckpointFileManager.ConfKey -> LocalCheckpointFileManager.ClassName,
    ArtifactIsolationKey -> "false")

  /** Sets each of [[SessionSettings]] on `spark` unless the session has a
    * value for it. `getAll` holds only the values that were set, where
    * `getOption` would also return Spark's default.
    */
  private def installSessionSettings(spark: SparkSession): Unit = {
    val set = spark.conf.getAll
    SessionSettings.foreach { case (k, v) => if (!set.contains(k)) spark.conf.set(k, v) }
  }

  /** Spark's cost of opening a file, in bytes that could be read in the
    * same time (Spark's default: 4 MB).
    */
  val OpenCostKey = "spark.sql.files.openCostInBytes"

  /** [[OpenCostKey]] for rotated logs on local disk. Spark uses the one
    * value twice: as each file's charge when it packs files into splits,
    * and as the smallest split it makes. Measured on 4 cores, through parse
    * → cast → partitioned parquet, the engine's write path:
    *  - the pipeline parses about 13–18 MB per core-second (27 MB of nginx
    *    lines took 1.5 to 2.0 s of task CPU);
    *  - opening a file costs about 0.7 ms, some 10 KB of parsing: a Hadoop
    *    `Configuration` clone for the file's record reader plus a
    *    checksummed open (one task over 600 one-line files, against one
    *    file of the same 600 lines);
    *  - a task costs about 80 ms before it parses a byte, some 1.2 MB of
    *    parsing: launch, parquet writers and their commit (median of tasks
    *    that read one one-line file each).
    *
    * So the value is 1 MB, the work a split must hold to pay for its task.
    * Spark's packing charges a file its cost only once the file is in a
    * split, so a charge below the files' size cuts a small tail split: at
    * 16 KB, 150 rotated files of 180 KB made 4 splits of 37 files and one
    * of 2, and the tail task's fixed cost ate most of the saving. At
    * Spark's 4 MB the same backlog counts as 627 MB and the 128 MB split
    * cap cuts it into 5 splits of about 30 files, two waves on 4 cores; at
    * 1 MB it is 4 splits of 38/38/38/36.
    */
  val LocalOpenCostBytes: Long = 1L << 20

  /** Sets [[OpenCostKey]] to [[LocalOpenCostBytes]] on `spark` unless the
    * session has a value of its own, tested by `getAll` as in
    * [[installSessionSettings]]. Spark offers no per-read override:
    * `FilePartition.maxSplitBytes` and `getFilePartitions` read only the
    * session's conf, so this applies to every file scan of the session,
    * like the listing threshold in [[fileSource]].
    */
  private[graft] def installLocalSplitPolicy(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains(OpenCostKey)) spark.conf.set(OpenCostKey, LocalOpenCostBytes)

  /** The parquet type Spark writes `TimestampType` values as. */
  val OutputTimestampTypeKey = "spark.sql.parquet.outputTimestampType"

  /** Sets [[OutputTimestampTypeKey]] to `TIMESTAMP_MICROS` on `spark` unless
    * the session has a value of its own, tested by `getAll` as in
    * [[installSessionSettings]]. The ingest table's `time_local` then
    * becomes INT64 `TIMESTAMP(MICROS, isAdjustedToUTC=true)` instead of
    * Spark's legacy INT96, which the Parquet spec deprecates and whose
    * writer hashes every 12-byte value into a dictionary: in three probe
    * runs of a 150-file drain on 4 cores the switch cut drain CPU by
    * 11–16%. Spark reads a directory of both kinds as one timestamp
    * column. Only the ingest sinks install it, not [[SessionSettings]]:
    * DuckDB reads an INT64 UTC timestamp as `TIMESTAMP WITH TIME ZONE`, so
    * parquet that is compared with DuckDB's naive `TIMESTAMP` (the
    * `Verify` dumps) stays INT96.
    */
  private[graft] def installInt64Timestamps(spark: SparkSession): Unit =
    if (!spark.conf.getAll.contains(OutputTimestampTypeKey))
      spark.conf.set(OutputTimestampTypeKey, "TIMESTAMP_MICROS")

  /** S1: rotating-file-scan parity. Spark's file source does
    * discover-per-trigger with exactly-once bookkeeping; `cleanSource`
    * archive/delete reproduces the backup/delete policy
    * (`pkg/fileio/rotate.go:28-71`, `io.go:16-73`). The `nginx -s reopen`
    * side effect has no engine analog (external hook).
    *
    * A trigger admits every file present, as the reference streams the
    * whole rotated file at each tick; `maxFilesPerTrigger` caps it.
    * Backpressure is the micro-batch loop: the next trigger starts only
    * after the current batch commits, and each task reads one split.
    *
    * Raises the session's `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * to `maxFilesPerTrigger` (no cap: `Int.MaxValue`) when it is lower, and
    * never lowers it. Each batch lists its exact file paths again in
    * `getBatch`; above the threshold (Spark's default is 32) that listing
    * runs as a Spark job of one task per file, a second job in every
    * trigger besides the sink write. At or under the threshold the driver
    * stats the paths itself, which on a local or NFS filesystem is faster.
    * The setting applies to the whole session: a batch read in it over
    * more paths than the old threshold also lists on the driver.
    *
    * Also sizes the session's splits for small local files
    * ([[installLocalSplitPolicy]]), so one trigger over a backlog runs as
    * one wave across all cores.
    */
  def fileSource(
      spark: SparkSession, dir: String,
      archiveDir: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val listingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val threshold = maxFilesPerTrigger.getOrElse(Int.MaxValue)
    if (spark.conf.get(listingThreshold).toInt < threshold)
      spark.conf.set(listingThreshold, threshold.toLong)
    installLocalSplitPolicy(spark)
    val base = maxFilesPerTrigger.foldLeft(spark.readStream)(_.option("maxFilesPerTrigger", _))
    val withClean = archiveDir match {
      case Some(a) => base.option("cleanSource", "archive").option("sourceArchiveDir", a)
      case None    => base.option("cleanSource", "delete")
    }
    withClean.text(dir)
  }

  /** S5: Kafka source — one message value = one log line
    * (`internal/services/kafkalog/server.go:117-152`); group/offset
    * management is built in.
    */
  def kafkaSource(spark: SparkSession, brokers: String, topic: String,
      maxOffsetsPerTrigger: Long = 100000L): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()
      .selectExpr("CAST(value AS STRING) AS value")

  /** S5 (native): the engine's own Kafka DataSource V2
    * ([[graft.sources.KafkaLiteSourceProvider]]) — broker-held offsets,
    * replayable per-partition ranges, executor-side fetch, admission
    * control via maxOffsetsPerTrigger. Speaks the hand-rolled wire
    * protocol ([[graft.sources.KafkaWire]]: magic-2 batches, brokers
    * 0.11 → 4.x), so the Kafka SEMANTICS are e2e-tested in this container
    * with no Kafka jars, and the same source deploys against a current
    * cluster natively. [[kafkaSource]] (stock connector) remains wired for
    * shops standardized on it (TLS, compacted-topic tooling).
    */
  def kafkaLiteSource(spark: SparkSession, brokers: String, topic: String,
      startingOffsets: String = "earliest",
      maxOffsetsPerTrigger: Option[Long] = None,
      saslUser: Option[String] = None,
      saslPass: Option[String] = None,
      saslMechanism: String = "PLAIN"): DataFrame = {
    val base = spark.readStream.format("kafka-lite")
      .option("brokers", brokers)
      .option("topic", topic)
      .option("startingOffsets", startingOffsets)
      // always forwarded, even with no credentials, so the DSv2 driver
      // validation catches a typo'd mechanism instead of silently
      // ignoring a mechanism-only misconfiguration
      .option("sasl.mechanism", saslMechanism)
    val withSasl = saslUser.fold(base)(u => base.option("sasl.username", u)
      .option("sasl.password", saslPass.getOrElse("")))
    maxOffsetsPerTrigger.fold(withSasl)(n => withSasl.option("maxOffsetsPerTrigger", n))
      .load()
      .selectExpr("CAST(value AS STRING) AS value")
  }

  /** K2 (native): Kafka producer sink over the same wire client — the
    * producer half of the reference's KafkaLog
    * (`internal/services/kafkalog/client.go:62-98`: lines batched to a
    * topic, leader-acked). Partition routing is selected by `balancer`:
    *
    *   - `"spark_partition"` (default) — each Spark partition produces to
    *     one Kafka partition (spark partition id mod partition count);
    *     this sink's original mapping, one leader connection per task.
    *   - `"round_robin"` / `"least_bytes"` / `"hash"` /
    *     `"reference_hash"` — the reference's per-record balancers
    *     (`opt.go:47-61`, kafka-go semantics re-derived in
    *     [[graft.sources.KafkaBalancer]]; unknown names fall back to
    *     least_bytes exactly like the reference's `Balancer.Match`).
    *     Keyed balancers read the key from `keyExpr` (a SQL expression
    *     over the input columns, cast to STRING; absent/null keys hash
    *     as empty). Records buffer per target partition and flush in
    *     `produceBatch`-sized leader-acked requests; leader connections
    *     are opened once per task and cached by (host, port).
    *
    * A broker error fails the batch, so checkpoint + replay give
    * at-least-once, the reference's own envelope, in every mode.
    */
  def kafkaLiteSink(lines: DataFrame, brokers: String, topic: String,
      checkpoint: String, produceBatch: Int = 500,
      produceCodec: String = "none",
      saslUser: Option[String] = None,
      saslPass: Option[String] = None,
      saslMechanism: String = "PLAIN",
      balancer: String = "spark_partition",
      keyExpr: Option[String] = None): DataStreamWriter[org.apache.spark.sql.Row] = {
    val codecId = graft.sources.KafkaWire.codecId(produceCodec) // validate up front
    require(saslMechanism == "PLAIN" || saslMechanism == "SCRAM-SHA-256",
      s"kafka-lite saslMechanism must be 'PLAIN' or 'SCRAM-SHA-256', got '$saslMechanism'")
    installSessionSettings(lines.sparkSession)
    val projected = keyExpr match {
      case Some(k) => lines.selectExpr(s"CAST(($k) AS STRING) AS key",
        "CAST(value AS STRING) AS value")
      case None => lines.selectExpr("CAST(NULL AS STRING) AS key",
        "CAST(value AS STRING) AS value")
    }
    projected
      .where(col("value").isNotNull)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val (host, port) = graft.sources.KafkaLiteSource.parseBroker(brokers)
        batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.hasNext) {
            val boot = new graft.sources.KafkaLiteClient(host, port,
              saslUser = saslUser, saslPass = saslPass, saslMechanism = saslMechanism)
            val extra = scala.collection.mutable.Map.empty[(String, Int),
              graft.sources.KafkaLiteClient]
            def clientFor(m: graft.sources.KafkaWire.PartitionMeta) =
              if (m.leaderHost == host && m.leaderPort == port) boot
              else extra.getOrElseUpdate((m.leaderHost, m.leaderPort),
                new graft.sources.KafkaLiteClient(m.leaderHost, m.leaderPort,
                  saslUser = saslUser, saslPass = saslPass, saslMechanism = saslMechanism))
            def bytesOf(r: org.apache.spark.sql.Row): (Array[Byte], Array[Byte]) = {
              val key = if (r.isNullAt(0)) null
                else r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
              (key, r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            try {
              // sorted partition-id order: balancers index the same list
              // kafka-go balances over (the topic's partitions ascending)
              val metas = boot.partitionsOf(topic).sortBy(_.partition)
              if (balancer == "spark_partition") {
                val pid = org.apache.spark.TaskContext.getPartitionId()
                val m = metas(pid % metas.size)
                val leader = clientFor(m)
                rows.grouped(produceBatch).foreach { group =>
                  leader.produce(topic, m.partition, group.map(bytesOf), codec = codecId)
                }
              } else {
                val bal = graft.sources.KafkaBalancer(balancer)
                val bufs = Array.fill(metas.size)(
                  scala.collection.mutable.ArrayBuffer
                    .empty[(Array[Byte], Array[Byte])])
                def flush(i: Int): Unit = if (bufs(i).nonEmpty) {
                  clientFor(metas(i)).produce(topic, metas(i).partition,
                    bufs(i).toSeq, codec = codecId)
                  bufs(i).clear()
                }
                rows.foreach { r =>
                  val (key, value) = bytesOf(r)
                  val sz = (if (key == null) 0 else key.length) + value.length
                  val i = bal.pick(key, sz, metas.size)
                  bufs(i) += ((key, value))
                  if (bufs(i).size >= produceBatch) flush(i)
                }
                bufs.indices.foreach(flush)
              }
            } finally {
              extra.values.foreach(_.close())
              boot.close()
            }
          }
        }
      }
  }

  /** S4 (native): the engine's own syslog DataSource V2
    * ([[graft.sources.SyslogSourceProvider]]) — the reference's syslog
    * server as one source: every given listener feeds one driver buffer,
    * at-most-once like the reference. `tcp` is `host:port` of an emitter
    * to dial, `udp` is `bind:port` of a datagram listener, `unix` is the
    * path of an AF_UNIX stream listener; give at least one.
    */
  def syslogSource(spark: SparkSession, tcp: Option[String] = None,
      udp: Option[String] = None, unix: Option[String] = None): DataFrame =
    spark.readStream.format("syslog")
      .options(Map("tcp" -> tcp, "udp" -> udp, "unix" -> unix).collect { case (k, Some(v)) => k -> v })
      .load()

  /** [[syslogSource]] with one TCP listener dialing `host:port`. */
  def syslogTcpSource(spark: SparkSession, host: String, port: Int): DataFrame =
    syslogSource(spark, tcp = Some(s"$host:$port"))

  /** S6 (native): the engine's own FileBuf gRPC DataSource V2
    * ([[graft.sources.FileBufSourceProvider]]) — direct transport parity
    * with the reference's `CreateDataStreamer` stream-ingest server
    * (`internal/services/filegrpc/server.go:80-91`); real gRPC wire
    * format, so the reference's Go client can point at it unchanged.
    */
  def filebufSource(spark: SparkSession, port: Int, bind: String = "0.0.0.0"): DataFrame =
    spark.readStream.format("filebuf")
      .option("host", bind).option("port", port).load()

  /** K3: gRPC client sink (`internal/services/filegrpc/client.go:102-136`)
    * via foreachBatch — each partition opens its own
    * `CreateDataStreamer` stream(s) to the remote FileBuf server and
    * half-closes after the partition drains (the reference's
    * `CloseAndRecv`). A non-zero grpc-status fails the batch, so
    * checkpoint + retry give the same at-least-once envelope as the
    * reference's retried inserts.
    */
  def filebufSink(lines: DataFrame, host: String, port: Int, checkpoint: String,
      streamsPerPartition: Int = 1): DataStreamWriter[org.apache.spark.sql.Row] = {
    installSessionSettings(lines.sparkSession)
    lines.selectExpr("CAST(value AS STRING) AS value")
      // a null value (e.g. a Kafka tombstone) has no line representation;
      // dropping it here beats a poison-pill NPE that fails the batch on
      // every checkpoint replay
      .where(col("value").isNotNull)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
          if (rows.hasNext) {
            val client = new graft.sources.FileBufClient(host, port, streamsPerPartition)
            try rows.foreach(r => client.send(r.getString(0)))
            finally client.close()
          }
        }
      }
  }

  /** RFC3164 envelope strip → content, the syslog handler's extraction
    * (`internal/services/syslog/impl.go:89-98`): `<PRI>Mmm dd hh:mm:ss
    * host tag: content`.
    */
  def stripSyslogEnvelope(df: DataFrame): DataFrame =
    df.select(regexp_extract(col("value"),
      "^<\\d{1,3}>[A-Z][a-z]{2} [ \\d]\\d \\d\\d:\\d\\d:\\d\\d \\S+ [^:]*: (.*)$", 1)
      .as("value"))

  /** K4-parity parquet table sink: [[Ingest.withTableLayout]] (derived
    * `insert_date`, month partitioning), trigger = flush-interval parity
    * (default 2000 ms, `cmd/filelog/main.go:82-88`), timestamps as INT64
    * ([[installInt64Timestamps]]).
    */
  def parquetSink(
      parsed: DataFrame, path: String, checkpoint: String,
      timeCol: String = "time_local",
      flushIntervalMs: Long = 2000L): DataStreamWriter[org.apache.spark.sql.Row] = {
    installSessionSettings(parsed.sparkSession)
    installInt64Timestamps(parsed.sparkSession)
    Ingest.withTableLayout(parsed, timeCol)
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(Ingest.PartitionColumn)
      .trigger(Trigger.ProcessingTime(flushIntervalMs))
  }

  /** K1: buffered JDBC (ClickHouse) sink via foreachBatch — batchsize =
    * reference buffer size (default 5000, `cmd/filelog/main.go:75-81`),
    * retry with backoff = `WithRetry(true)` (`filelog/impl.go:64`),
    * queryTimeout = `max_execution_time` (`impl.go:73-75`).
    */
  def jdbcSink(
      parsed: DataFrame, url: String, table: String, checkpoint: String,
      batchSize: Int = 5000, flushIntervalMs: Long = 2000L,
      maxRetries: Int = 3, queryTimeoutSec: Int = 60): DataStreamWriter[org.apache.spark.sql.Row] = {
    installSessionSettings(parsed.sparkSession)
    parsed.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(flushIntervalMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        var attempt = 0
        var done = false
        while (!done) {
          try {
            batch.write.format("jdbc")
              .option("url", url)
              .option("dbtable", table)
              .option("batchsize", batchSize)
              .option("queryTimeout", queryTimeoutSec)
              .option("isolationLevel", "NONE")
              .mode("append")
              .save()
            done = true
          } catch {
            case _: Throwable if attempt < maxRetries =>
              attempt += 1
              Thread.sleep(500L * attempt) // linear backoff like clickhouse-buffer retry
            case e: Throwable => throw e
          }
        }
      }
  }

  /** Graceful-stop parity (`pkg/signal/notify.go:29-55`): stop the query on
    * SIGTERM/SIGINT, letting the in-flight micro-batch finish.
    */
  def withGracefulStop(query: StreamingQuery): StreamingQuery = {
    sys.addShutdownHook {
      try query.stop()
      catch { case _: Throwable => () }
    }
    query
  }

  /** S2 parity — backup retention (`pkg/fileio/io.go:16-73`): keep at most
    * `maxFiles` newest files in the archive dir and none older than
    * `maxAgeMs`. Run after each batch or on a timer; the file source's
    * `cleanSource=archive` moves consumed inputs here, this prunes them.
    * Returns the number of files deleted.
    */
  def pruneArchive(archiveDir: String, maxFiles: Int, maxAgeMs: Long): Int = {
    val root = new java.io.File(archiveDir)
    if (!root.exists()) return 0
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = walk(root).sortBy(-_.lastModified()) // newest first
    val now = System.currentTimeMillis()
    val doomed = files.zipWithIndex.collect {
      case (f, i) if i >= maxFiles || now - f.lastModified() > maxAgeMs => f
    }
    doomed.count(_.delete())
  }

  /** Liveness endpoint parity (`cmd/filelog/main.go:221-241`, the fiber
    * `/live` route): a JDK-builtin HTTP server answering 200 while the
    * query is active, 503 after it stops/fails. Returns the server for
    * shutdown.
    */
  def serveLiveness(query: StreamingQuery, port: Int): com.sun.net.httpserver.HttpServer = {
    val server = com.sun.net.httpserver.HttpServer
      .create(new java.net.InetSocketAddress(port), 0)
    server.createContext("/live", (exchange: com.sun.net.httpserver.HttpExchange) => {
      val (code, body) =
        if (query.isActive) (200, """{"status":"live"}""")
        else (503, """{"status":"stopped"}""")
      val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      exchange.getResponseHeaders.add("Content-Type", "application/json")
      exchange.sendResponseHeaders(code, bytes.length)
      val os = exchange.getResponseBody
      os.write(bytes); os.close()
    })
    server.start()
    server
  }
}
