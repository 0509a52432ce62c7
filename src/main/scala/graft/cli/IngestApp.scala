package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.config.GraftConfig
import graft.pipeline.Ingest
import graft.streaming.StreamingIngest

/** Config-driven ingest entrypoint — the engine's analog of the
  * reference's four binaries (`cmd/{filelog,syslog,kafkalog,filegrpc}`),
  * collapsed into one: the transport is a flag, the parse/cast pipeline is
  * the YAML config, the sink is a flag.
  *
  * Usage:
  * {{{
  * IngestApp --config cfg.yaml --mode stream --source file --input /logs \
  *   [--archive-dir /archive] [--backup-files 7] [--backup-max-age-ms 604800000] \
  *   [--dead-letter /rejects] [--live-port 8080] \
  *   --sink parquet --output /warehouse/access_log \
  *   [--checkpoint /chk] [--trigger-ms 2000] [--batch-size 5000] \
  *   [--master local[*]]
  * IngestApp --config cfg.yaml --mode stream --source syslog \
  *   --listeners tcp,udp,unix [--host localhost] --tcp-port 5140 \
  *   [--bind 0.0.0.0] --udp-port 5141 --socket-path /run/graft-syslog.sock \
  *   --sink parquet --output /warehouse/access_log
  * }}}
  *
  * Sources: `file` (S1/S2 rotating-scan parity via cleanSource/archive),
  * `syslog` (S4: the reference server's listeners, any subset of
  * `--listeners tcp,udp,unix`, default `tcp`, into one source; the TCP
  * listener dials `--host`:`--tcp-port`, UDP binds `--bind`:`--udp-port`,
  * UNIX binds `--socket-path`; RFC3164 envelope stripped), `kafka` (S5
  * stock connector; `--brokers`, `--topic`), `kafka-lite` (S5 native
  * wire, magic-2 batches to 0.11 → 4.x brokers — no Kafka jars needed;
  * `--brokers`, `--topic`, `--starting-offsets`, `--max-offsets`,
  * `--sasl-user`/`--sasl-password`/`--sasl-mechanism` for SASL PLAIN or
  * SCRAM-SHA-256), `filebuf` (S6 native gRPC stream server; `--port`,
  * `--bind`).
  * Sinks: `parquet` (K4 parity: insert_date + month partitioning), `jdbc`
  * (K1 parity: batched, retried — `--url`, `--table`), `filebuf` (K3 gRPC
  * relay to a remote FileBuf server; `--sink-port`), `kafka-lite` (K2
  * native producer relay; `--sink-topic`, `--compress
  * none|gzip|snappy|lz4|zstd`),
  * `console` (dev). `--mode batch` reads `--input` as a static
  * text directory and writes once — same pipeline, bounded input.
  * `--dead-letter` persists rejected raw lines (delivers the reference's
  * README.md:30 TODO); in stream mode it runs a second query over its own
  * copy of the source, stopped when the main query ends, so `file` (a
  * second cleanSource over the same directory), `syslog` and `filebuf`
  * (second listeners) reject it.
  *
  * Every argument is a `--flag value` pair; an unknown flag or a flag
  * without a value fails with an `IllegalArgumentException` naming it.
  */
object IngestApp {

  /** Every flag [[main]] reads. */
  private val Flags = Set("config", "mode", "master", "source", "sink",
    "input", "output", "checkpoint", "trigger-ms", "batch-size", "dead-letter",
    "archive-dir", "backup-files", "backup-max-age-ms", "live-port",
    "listeners", "host", "tcp-port", "bind", "udp-port", "socket-path", "port",
    "brokers", "topic", "starting-offsets", "max-offsets",
    "sasl-user", "sasl-password", "sasl-mechanism",
    "url", "table", "sink-port", "sink-topic", "compress")

  private def parseFlags(args: Array[String]): Map[String, String] = {
    val it = args.iterator.buffered
    val opts = Map.newBuilder[String, String]
    while (it.hasNext) {
      val k = it.next()
      require(k.startsWith("--"), s"expected a --flag, got '$k'")
      require(Flags(k.stripPrefix("--")), s"unknown flag $k")
      require(it.hasNext && !it.head.startsWith("--"), s"flag $k has no value")
      opts += k.stripPrefix("--") -> it.next()
    }
    opts.result()
  }

  def main(args: Array[String]): Unit = {
    val opts = parseFlags(args)
    def need(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required flag --$k"))

    val cfg = GraftConfig.fromYamlFile(need("config")).fold(sys.error, identity)
    // reuse an embedding application's session (tests, notebooks) and leave
    // its lifecycle alone; stop only a session this main created
    val preExisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = graft.GraftSession.getOrCreate("graft-ingest",
      opts.getOrElse("master", "local[*]"))

    val triggerMs = opts.getOrElse("trigger-ms", "2000").toLong
    val batchSize = opts.getOrElse("batch-size", "5000").toInt
    val checkpoint = opts.getOrElse("checkpoint",
      s"/tmp/graft-checkpoint-${cfg.logsTable}")

    // a failed query must not leave the session or the /live port behind
    try opts.getOrElse("mode", "stream") match {
      case "batch" =>
        StreamingIngest.installLocalSplitPolicy(spark)
        val lines = spark.read.text(need("input")).toDF("value")
        val (good, bad) = Ingest.parseWithDeadLetter(lines, cfg)
        opts.get("dead-letter").foreach(p => bad.write.mode("append").text(p))
        opts.getOrElse("sink", "parquet") match {
          case "parquet" =>
            StreamingIngest.installInt64Timestamps(spark)
            Ingest.withTableLayout(good).write.mode("append")
              .partitionBy(Ingest.PartitionColumn).parquet(need("output"))
          case "jdbc" =>
            good.write.format("jdbc").option("url", need("url"))
              .option("dbtable", need("table")).option("batchsize", batchSize)
              .mode("append").save()
          case "console" => good.show(100, truncate = false)
          case other     => sys.error(s"unknown sink: $other")
        }

      case "stream" =>
        val source = opts.getOrElse("source", "file")
        // the dead-letter query builds its own source: for a listener
        // source that is a second listener on the same address, for the
        // file source a second cleanSource archiving or deleting files
        // the other query has yet to read
        require(!(opts.contains("dead-letter") && Set("file", "syslog", "filebuf")(source)),
          s"--dead-letter is not supported with --source $source: " +
            "a second query would read the source again")
        val lines = source match {
          case "file" => StreamingIngest.fileSource(spark, need("input"),
            archiveDir = opts.get("archive-dir"))
          // the reference syslog server's --listeners: any subset of
          // tcp/udp/unix running SIMULTANEOUSLY into one source
          // (`internal/services/syslog/syslog.go:33-53` starts all
          // configured listeners against one handler)
          case "syslog" =>
            val ls = opts.getOrElse("listeners", "tcp").split(',').map(_.trim).toSet
            require(ls.nonEmpty && ls.forall(Set("tcp", "udp", "unix")),
              s"--listeners must be a comma list of tcp/udp/unix, got '${ls.mkString(",")}'")
            StreamingIngest.stripSyslogEnvelope(StreamingIngest.syslogSource(spark,
              tcp = Option.when(ls("tcp"))(
                s"${opts.getOrElse("host", "localhost")}:${need("tcp-port")}"),
              udp = Option.when(ls("udp"))(
                s"${opts.getOrElse("bind", "0.0.0.0")}:${need("udp-port")}"),
              unix = Option.when(ls("unix"))(need("socket-path"))))
          case "kafka" => StreamingIngest.kafkaSource(spark, need("brokers"), need("topic"))
          case "kafka-lite" => StreamingIngest.kafkaLiteSource(spark,
            need("brokers"), need("topic"),
            startingOffsets = opts.getOrElse("starting-offsets", "earliest"),
            maxOffsetsPerTrigger = opts.get("max-offsets").map(_.toLong),
            saslUser = opts.get("sasl-user"),
            saslPass = opts.get("sasl-password"),
            saslMechanism = opts.getOrElse("sasl-mechanism", "PLAIN"))
          case "filebuf" => StreamingIngest.filebufSource(spark, need("port").toInt,
            bind = opts.getOrElse("bind", "0.0.0.0"))
          case other   => sys.error(s"unknown source: $other")
        }
        val (good, bad) = Ingest.parseWithDeadLetter(lines, cfg)
        val writer = opts.getOrElse("sink", "parquet") match {
          case "parquet" =>
            StreamingIngest.parquetSink(good, need("output"), checkpoint,
              flushIntervalMs = triggerMs)
          case "jdbc" =>
            StreamingIngest.jdbcSink(good, need("url"), need("table"), checkpoint,
              batchSize = batchSize, flushIntervalMs = triggerMs)
          case "console" =>
            good.writeStream.format("console")
              .option("checkpointLocation", checkpoint)
              .trigger(Trigger.ProcessingTime(triggerMs))
          // raw-line relay to a remote FileBuf gRPC server (K3; pairs with
          // `--source filebuf` on the receiving engine) — relays the raw
          // `value` column like the reference's client, so it reads from
          // the source directly rather than the parsed stream
          case "filebuf" =>
            StreamingIngest.filebufSink(lines,
              opts.getOrElse("host", "localhost"), need("sink-port").toInt,
              checkpoint).trigger(Trigger.ProcessingTime(triggerMs))
          // raw-line relay to a Kafka topic over the native wire (K2;
          // the reference kafkalog client's role) — like filebuf, relays
          // the raw source stream, not the parsed one
          case "kafka-lite" =>
            StreamingIngest.kafkaLiteSink(lines, need("brokers"),
              need("sink-topic"), checkpoint, produceBatch = batchSize,
              produceCodec = opts.getOrElse("compress", "none"),
              saslUser = opts.get("sasl-user"),
              saslPass = opts.get("sasl-password"),
              saslMechanism = opts.getOrElse("sasl-mechanism", "PLAIN"))
              .trigger(Trigger.ProcessingTime(triggerMs))
          case other => sys.error(s"unknown sink: $other")
        }
        // dead-letter stream: raw rejected lines to text files
        val deadLetter = opts.get("dead-letter").map { p =>
          bad.writeStream.format("text").option("path", p)
            .option("checkpointLocation", s"$checkpoint-dead")
            .trigger(Trigger.ProcessingTime(triggerMs)).start()
        }
        try runQuery(writer.start(), opts, triggerMs)
        finally deadLetter.foreach(_.stop())

      case other => sys.error(s"unknown mode: $other")
    } finally if (!preExisting) spark.stop()
  }

  /** Runs the started main `query` until it ends, with a graceful-stop
    * hook, the archive retention sweep and the `/live` server; the hook
    * and the server go when the query ends, so a long-lived JVM keeps
    * nothing of a finished run.
    */
  private def runQuery(query: StreamingQuery, opts: Map[String, String],
      triggerMs: Long): Unit = {
    // graceful-stop parity (`pkg/signal/notify.go:29-55`): SIGTERM/SIGINT
    // stop the query, letting the in-flight micro-batch finish
    val hook = sys.addShutdownHook {
      try query.stop()
      catch { case _: Throwable => () }
    }
    try {
      // --backup-files/--backup-max-age-ms: S2 retention over the
      // archive dir (the reference prunes on its scrape timer; here a
      // daemon sweep per trigger interval)
      for (dir <- opts.get("archive-dir")
           if opts.contains("backup-files") || opts.contains("backup-max-age-ms")) {
        val maxFiles = opts.get("backup-files").map(_.toInt).getOrElse(Int.MaxValue)
        val maxAge = opts.get("backup-max-age-ms").map(_.toLong).getOrElse(Long.MaxValue)
        val t = new Thread(() => while (query.isActive) {
          try StreamingIngest.pruneArchive(dir, maxFiles, maxAge)
          catch { case _: Throwable => () }
          Thread.sleep(math.max(1000L, triggerMs))
        }, "graft-archive-retention")
        t.setDaemon(true)
        t.start()
      }
      // --live-port: the reference's run-http-server/bind-address pair —
      // 200 {"status":"live"} while the query runs, 503 after
      val live = opts.get("live-port").map(p =>
        StreamingIngest.serveLiveness(query, p.toInt))
      try query.awaitTermination()
      finally live.foreach(_.stop(0))
    } finally {
      // throws once the JVM is shutting down, when the hook has run
      try hook.remove() catch { case _: IllegalStateException => () }
    }
  }
}
