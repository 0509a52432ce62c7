package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.GraftConfig
import graft.pipeline.Ingest

/** Streaming pipeline tests: MemoryStream → parse → memory sink (SURVEY §5
  * port test plan item 4).
  */
class StreamingIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // every file stream sets the shared session's split policy, and every
  // parquet sink its timestamp type
  override def withFixture(test: NoArgTest): Outcome =
    TestSpark.restoringConf(StreamingIngest.OpenCostKey,
      StreamingIngest.OutputTimestampTypeKey)(super.withFixture(test))

  val cfg = GraftConfig(
    logFormat = "$remote_addr - $remote_user [$time_local] \"$request\" $status $bytes_sent $request_time",
    columns = Seq("remote_addr", "remote_user", "time_local", "request",
      "status", "bytes_sent", "request_time").map(c => c -> c).toMap,
    logsTable = "access_log")

  val goodLine =
    "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512 0.05"
  val badLine = "complete garbage"
  val badCast =
    "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" abc 512 0.05"

  test("memory stream → parse → memory sink: drops malformed, types good rows") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val parsed = Ingest.parse(stream.toDF().toDF("value"), cfg)
    val q = parsed.writeStream.format("memory")
      .queryName("ingest_test").outputMode("append").start()
    try {
      stream.addData(goodLine, badLine, badCast, goodLine)
      q.processAllAvailable()
      val out = spark.table("ingest_test").collect()
      assert(out.length == 2)
      val r = out.head
      assert(r.getAs[Int]("status") == 200)
      assert(r.getAs[Long]("bytes_sent") == 512L)
      assert(r.getAs[java.sql.Timestamp]("time_local") ==
        java.sql.Timestamp.valueOf("2022-07-21 00:30:43"))
    } finally q.stop()
  }

  test("windowed aggregation with watermark over the stream") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = stream.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val q = agg.writeStream.format("memory")
      .queryName("win_test").outputMode("update").start()
    try {
      stream.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), 2.0),
        (java.sql.Timestamp.valueOf("2024-01-01 00:07:00"), 4.0))
      q.processAllAvailable()
      val rows = spark.table("win_test")
        .select(col("window.start").cast("string"), col("n"), col("v"))
        .as[(String, Long, Double)].collect().map { case (k, n, v) => (k, (n, v)) }.toMap
      assert(rows("2024-01-01 00:00:00") == (2L, 3.0))
      assert(rows("2024-01-01 00:05:00") == (1L, 4.0))
    } finally q.stop()
  }

  test("syslog envelope strip (RFC3164)") {
    val df = Seq(
      "<34>Oct 11 22:14:15 myhost nginx: " + goodLine,
      "<13>Jan  2 03:04:05 h2 app[77]: payload here").toDF("value")
    val out = StreamingIngest.stripSyslogEnvelope(df).as[String].collect()
    assert(out(0) == goodLine)
    assert(out(1) == "payload here")
  }

  test("file source streaming end-to-end with archive cleanup") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cp = s"$tmp/cp"
    new java.io.File(inDir).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inDir/access.log"),
      s"$goodLine\n$badLine\n$goodLine\n")
    val lines = StreamingIngest.fileSource(spark, inDir, archiveDir = Some(s"$tmp/archive"))
    val parsed = Ingest.parse(lines, cfg)
    val q = StreamingIngest.parquetSink(parsed, outDir, cp).start()
    try q.processAllAvailable() finally q.stop()
    val written = spark.read.parquet(outDir)
    assert(written.count() == 2)
    assert(written.columns.contains("insert_month"))
    assert(written.select("insert_month").distinct().as[String].collect().head == "202207")
  }

  /** `n` files of one good and two malformed lines each in `in/` of a new
    * directory. Returns the directory and the batch parse of the files,
    * read before a stream's `cleanSource` deletes them.
    */
  private def backlog(n: Int): (java.nio.file.Path, Seq[String]) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_backlog")
    val in = java.nio.file.Files.createDirectories(tmp.resolve("in"))
    (0 until n).foreach { i =>
      java.nio.file.Files.writeString(in.resolve(f"access-$i%03d.log"),
        s"10.0.${i / 256}.${i % 256} - - [21/Jul/2022:00:30:43 +0000] \"GET /f$i HTTP/1.1\" 200 ${i * 10} 0.05\n" +
          s"$badLine\n$badCast\n")
    }
    (tmp, rows(Ingest.parse(spark.read.text(in.toString), cfg)))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Runs `fileSource` → `parquetSink` over `in/` of `tmp` until the input
    * is drained, then stops.
    */
  private def drain(session: SparkSession, tmp: java.nio.file.Path,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val lines = StreamingIngest.fileSource(session, tmp.resolve("in").toString,
      maxFilesPerTrigger = maxFilesPerTrigger)
    val q = StreamingIngest.parquetSink(Ingest.parse(lines, cfg), tmp.resolve("out").toString,
      tmp.resolve("cp").toString, flushIntervalMs = 100).start()
    try q.processAllAvailable() finally q.stop()
    q
  }

  private def sinkRows(tmp: java.nio.file.Path): Seq[String] = {
    val cols = Ingest.parse(spark.read.text(tmp.resolve("in").toString), cfg).columns.map(col).toSeq
    rows(spark.read.parquet(tmp.resolve("out").toString).select(cols: _*))
  }

  private def inputs(tmp: java.nio.file.Path): Seq[String] =
    java.nio.file.Files.list(tmp.resolve("in")).iterator.asScala
      .map(_.getFileName.toString).toSeq.sorted

  test("file source drains a backlog of more than the old 100-file cap in one trigger") {
    val (tmp, want) = backlog(150)
    spark.conf.unset(StreamingIngest.OpenCostKey)
    val (q, stages) = TestSpark.inputTaskRecords(drain(spark, tmp))
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    assert(want.size == 150)
    assert(sinkRows(tmp) == want)
    assert(spark.conf.get(StreamingIngest.OpenCostKey) == StreamingIngest.LocalOpenCostBytes.toString)
    // one wave: a task per core, or one more that reads a few files of 3
    // lines; Spark's 4 MB open cost packs the 150 files into 5 splits
    assert(stages.size == 1, stages)
    assert(stages.head.sum == 150 * 3)
    assert(TestSpark.oneWave(stages.head, tail = 4 * 3), stages.head)
  }

  test("file source keeps a split policy the session set itself") {
    val (tmp, want) = backlog(150)
    // Spark's default, set explicitly: the drain packs 32 files a split
    spark.conf.set(StreamingIngest.OpenCostKey, (4L << 20).toString)
    val (_, stages) = TestSpark.inputTaskRecords(drain(spark, tmp))
    assert(spark.conf.get(StreamingIngest.OpenCostKey) == (4L << 20).toString)
    assert(sinkRows(tmp) == want)
    assert(stages.map(_.sorted) == Seq(Seq(22, 32, 32, 32, 32).map(_ * 3L)), stages)
  }

  test("file source lists a batch of more than 32 files on the driver: no per-file listing job") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val saved = spark.conf.get(key)
    val (tmp, want) = backlog(150)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    spark.conf.set(key, "32") // Spark's default
    try {
      TestSpark.listening(listener)(drain(spark, tmp))
      val listing = descriptions.asScala.filter(_.startsWith("Listing leaf files"))
      assert(listing.isEmpty, listing.mkString("; "))
      assert(sinkRows(tmp) == want)

      // raised to the cap, or to Int.MaxValue without one, and never lowered
      assert(spark.conf.get(key) == Int.MaxValue.toString)
      spark.conf.set(key, "32")
      StreamingIngest.fileSource(spark, tmp.resolve("in").toString, maxFilesPerTrigger = Some(100))
      assert(spark.conf.get(key) == "100")
      spark.conf.set(key, "1000")
      StreamingIngest.fileSource(spark, tmp.resolve("in").toString, maxFilesPerTrigger = Some(100))
      assert(spark.conf.get(key) == "1000")
    } finally spark.conf.set(key, saved)
  }

  test("cleanSource deletes a stopped drain's last batch only when a restart plans its next one") {
    val (tmp, first) = backlog(150)
    drain(spark, tmp)
    // batch 0 is cleaned while batch 1 is planned, and there is no batch 1
    assert(inputs(tmp).size == 150)
    assert(sinkRows(tmp) == first)
    // a restart with no new file plans no batch and deletes nothing
    val idle = drain(spark, tmp)
    assert(idle.recentProgress.forall(_.numInputRows == 0))
    assert(inputs(tmp).size == 150)
    // a restart's first batch deletes the earlier batch's files, not its own
    val late = "access-late.log"
    java.nio.file.Files.writeString(tmp.resolve("in").resolve(late), goodLine + "\n")
    val next = rows(Ingest.parse(spark.read.text(tmp.resolve("in").resolve(late).toString), cfg))
    val q = drain(spark, tmp)
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    assert(inputs(tmp) == Seq(late))
    assert(sinkRows(tmp) == (first ++ next).sorted)
  }

  test("a second file stream in a session compiles no generated class again") {
    val bare = spark.newSession()
    bare.conf.unset(StreamingIngest.ArtifactIsolationKey)
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (first, _) = backlog(3)
    drain(bare, first)
    val (second, want) = backlog(3)
    val before = compiles
    drain(bare, second)
    assert(compiles - before == 0)
    assert(sinkRows(second) == want)
  }

  test("jdbc sink end-to-end against embedded Derby (K1 parity: batch insert + retry loop)") {
    implicit val sqlCtx = spark.sqlContext
    val url = "jdbc:derby:memory:graftk1;create=true"
    val stream = MemoryStream[String]
    val parsed = Ingest.parse(stream.toDF().toDF("value"), cfg)
    val cp = java.nio.file.Files.createTempDirectory("graft_jdbc_cp").toString
    val q = StreamingIngest.jdbcSink(parsed, url, "access_log", cp,
      batchSize = 2, flushIntervalMs = 100).start()
    try {
      stream.addData(goodLine, badLine, goodLine, badCast)
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "access_log").load()
    assert(back.count() == 2) // two good lines; garbage + bad cast dropped
    assert(back.where(col("status") === 200).count() == 2)
    assert(back.where(col("bytes_sent") === 512L).count() == 2)
  }

  test("jdbc sink: retry survives induced failure; checkpoint replays the failed batch") {
    implicit val sqlCtx = spark.sqlContext
    // the database does NOT exist yet: every write against plainUrl fails
    // until the test creates it (Derby only materializes an in-memory db
    // under ;create=true)
    val plainUrl = "jdbc:derby:memory:graftk1retry"
    val createUrl = "jdbc:derby:memory:graftk1retry;create=true"
    val stream = MemoryStream[String]
    val parsed = Ingest.parse(stream.toDF().toDF("value"), cfg)
    val cp = java.nio.file.Files.createTempDirectory("graft_jdbc_retry_cp").toString

    // phase 1: no retries → the micro-batch fails and kills the query,
    // leaving the batch UNCOMMITTED in the checkpoint
    val q1 = StreamingIngest.jdbcSink(parsed, plainUrl, "access_log", cp,
      maxRetries = 0, flushIntervalMs = 50).start()
    stream.addData(goodLine, badLine, goodLine)
    intercept[Exception] { q1.processAllAvailable() }
    assert(q1.exception.isDefined)

    // phase 2: same checkpoint, retries on → attempt 1 still fails (db
    // absent), the db appears mid-backoff, a later attempt succeeds: the
    // replayed batch lands exactly once
    val creator = new Thread(() => {
      Thread.sleep(700)
      java.sql.DriverManager.getConnection(createUrl).close()
    })
    creator.start()
    val q2 = StreamingIngest.jdbcSink(parsed, plainUrl, "access_log", cp,
      maxRetries = 10, flushIntervalMs = 50).start()
    try {
      q2.processAllAvailable()
      creator.join()
      val back = spark.read.format("jdbc")
        .option("url", plainUrl).option("dbtable", "access_log").load()
      assert(back.count() == 2) // replayed batch, two good lines, no dupes
      // phase 3: stream continues on the recovered query
      stream.addData(goodLine)
      q2.processAllAvailable()
      assert(spark.read.format("jdbc")
        .option("url", plainUrl).option("dbtable", "access_log").load().count() == 3)
    } finally q2.stop()
  }

  /** Drains two files through `fileSource` → `parquetSink` in `first`, one
    * batch each, then deletes the last `commits/N`: a crash after the sink
    * wrote its batch but before the query committed it. Restarts from the
    * checkpoint in the test session with two more files, and checks the
    * sink holds each good input line exactly once. Returns the checkpoint.
    */
  private def restartAfterCrashBeforeCommit(first: SparkSession): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_restart")
    val inDir = tmp.resolve("in"); val cp = tmp.resolve("cp")
    java.nio.file.Files.createDirectories(inDir)
    // the batch parse of the new files, read before the stream: cleanSource
    // deletes the inputs once consumed
    def addFiles(ids: Range): Seq[String] = {
      val files = ids.map { i =>
        java.nio.file.Files.writeString(inDir.resolve(f"access-$i%02d.log"), (0 until 3)
          .map(j => s"10.0.$i.$j - - [21/Jul/2022:00:30:43 +0000] \"GET /r$i/$j HTTP/1.1\" 200 $j 0.05\n")
          .mkString + s"$badLine\n").toString
      }
      rows(Ingest.parse(spark.read.text(files: _*), cfg))
    }
    val first2 = addFiles(0 until 2)
    drain(first, tmp, maxFilesPerTrigger = Some(1))
    java.nio.file.Files.delete(cp.resolve("commits/1"))
    java.nio.file.Files.deleteIfExists(cp.resolve("commits/.1.crc"))
    val next2 = addFiles(2 until 4)
    drain(spark, tmp, maxFilesPerTrigger = Some(1))
    val want = (first2 ++ next2).sorted
    assert(want.size == 12 && want.distinct.size == 12)
    assert(sinkRows(tmp) == want)
    assert((0 to 3).forall(b => java.nio.file.Files.exists(cp.resolve(s"commits/$b"))))
    cp
  }

  test("parquet sink restart after a crash between sink write and commit: every line once") {
    restartAfterCrashBeforeCommit(spark)
  }

  test("a checkpoint written by Spark's FileContext manager resumes under the local manager") {
    val first = spark.newSession()
    first.conf.set(LocalCheckpointFileManager.ConfKey,
      "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager")
    val cp = restartAfterCrashBeforeCommit(first)
    // phase 1 wrote checksums beside its logs, phase 2 none
    assert(java.nio.file.Files.exists(cp.resolve("offsets/.1.crc")))
    assert(java.nio.file.Files.exists(cp.resolve("offsets/2")))
    assert(!java.nio.file.Files.exists(cp.resolve("offsets/.2.crc")))
  }

  test("native syslog-tcp DSv2 source end-to-end (S4 transport parity)") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val sent = new java.util.concurrent.CountDownLatch(1)
    val writer = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("<34>Oct 11 22:14:15 myhost nginx: " + goodLine)
      out.println("<34>Oct 11 22:14:16 myhost nginx: " + badLine)
      out.println("<34>Oct 11 22:14:17 myhost nginx: " + goodLine)
      out.flush()
      sent.countDown()
      Thread.sleep(30000)
      sock.close()
    })
    writer.setDaemon(true)
    writer.start()

    val lines = StreamingIngest.syslogSource(spark, tcp = Some(s"localhost:$port"))
    val parsed = Ingest.parse(StreamingIngest.stripSyslogEnvelope(lines), cfg)
    val q = parsed.writeStream.format("memory")
      .queryName("syslog_tcp_test").outputMode("append").start()
    try {
      sent.await(10, java.util.concurrent.TimeUnit.SECONDS)
      // lines flow through the driver-side listener buffer; poll until the
      // two good rows land (bounded)
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.table("syslog_tcp_test").count()
        if (n < 2) Thread.sleep(200)
      }
      assert(n == 2)
      val r = spark.table("syslog_tcp_test").collect().head
      assert(r.getAs[Int]("status") == 200)
      assert(r.getAs[Long]("bytes_sent") == 512L)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("native syslog-udp DSv2 source end-to-end (S4 UDP transport parity)") {
    val probe = new java.net.DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close() // freed for the source to bind (loopback test; tiny race is fine)

    val lines = StreamingIngest.syslogSource(spark, udp = Some(s"127.0.0.1:$port"))
    val parsed = Ingest.parse(StreamingIngest.stripSyslogEnvelope(lines), cfg)
    val q = parsed.writeStream.format("memory")
      .queryName("syslog_udp_test").outputMode("append").start()
    val sender = new java.net.DatagramSocket()
    try {
      val addr = new java.net.InetSocketAddress("127.0.0.1", port)
      def send(msg: String): Unit = {
        val b = msg.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        sender.send(new java.net.DatagramPacket(b, b.length, addr))
      }
      // the listener binds lazily on the first micro-batch; resend each
      // poll round (UDP is fire-and-forget — datagrams before bind vanish,
      // which is exactly the documented at-most-once contract)
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        send("<34>Oct 11 22:14:15 myhost nginx: " + goodLine)
        send("<34>Oct 11 22:14:16 myhost nginx: " + badLine)
        send("<34>Oct 11 22:14:17 myhost nginx: " + goodLine)
        q.processAllAvailable()
        n = spark.table("syslog_udp_test").count()
        if (n < 2) Thread.sleep(200)
      }
      assert(n >= 2) // both good lines landed; garbage dropped
      val r = spark.table("syslog_udp_test").collect().head
      assert(r.getAs[Int]("status") == 200)
      assert(r.getAs[Long]("bytes_sent") == 512L)
    } finally {
      q.stop()
      sender.close()
    }
  }

  test("multi-listener syslog: tcp + udp unioned into ONE pipeline (server parity)") {
    // the reference syslog server runs all configured listeners against a
    // single handler (`syslog.go:33-53`); here both listeners feed the one
    // buffer of one syslog source
    val server = new java.net.ServerSocket(0)
    val tcpPort = server.getLocalPort
    val probe = new java.net.DatagramSocket(0)
    val udpPort = probe.getLocalPort
    probe.close()

    val tcpWriter = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      out.println("<34>Oct 11 22:14:15 tcphost nginx: " + goodLine)
      out.flush()
      Thread.sleep(30000)
      sock.close()
    })
    tcpWriter.setDaemon(true)
    tcpWriter.start()

    val lines = StreamingIngest.syslogSource(spark,
      tcp = Some(s"localhost:$tcpPort"), udp = Some(s"127.0.0.1:$udpPort"))
    val parsed = Ingest.parse(StreamingIngest.stripSyslogEnvelope(lines), cfg)
    val q = parsed.writeStream.format("memory")
      .queryName("syslog_multi_test").outputMode("append").start()
    val sender = new java.net.DatagramSocket()
    try {
      val addr = new java.net.InetSocketAddress("127.0.0.1", udpPort)
      val deadline = System.currentTimeMillis() + 30000
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        val b = ("<34>Oct 11 22:14:16 udphost nginx: " + goodLine)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        sender.send(new java.net.DatagramPacket(b, b.length, addr))
        q.processAllAvailable()
        n = spark.table("syslog_multi_test").count()
        if (n < 2) Thread.sleep(200)
      }
      // one line over each transport, both through the one source
      assert(n >= 2)
      assert(spark.table("syslog_multi_test")
        .where(col("status") === 200).count() == n)
      assert(q.lastProgress.sources.length == 1)
    } finally {
      q.stop()
      sender.close()
      server.close()
    }
  }

  test("native syslog-unix DSv2 source end-to-end (S4 UNIX transport parity)") {
    val path = java.nio.file.Files.createTempDirectory("graft_unixsock").toString + "/syslog.sock"
    val lines = StreamingIngest.syslogSource(spark, unix = Some(path))
    val parsed = Ingest.parse(StreamingIngest.stripSyslogEnvelope(lines), cfg)
    val q = parsed.writeStream.format("memory")
      .queryName("syslog_unix_test").outputMode("append").start()
    try {
      // listener binds lazily on the first micro-batch — wait for the socket file
      val deadline = System.currentTimeMillis() + 30000
      q.processAllAvailable()
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)) &&
        System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(100)
      }
      val ch = java.nio.channels.SocketChannel.open(
        java.net.UnixDomainSocketAddress.of(path))
      val msg = ("<34>Oct 11 22:14:15 myhost nginx: " + goodLine + "\n" +
        "<34>Oct 11 22:14:16 myhost nginx: " + badLine + "\n" +
        "<34>Oct 11 22:14:17 myhost nginx: " + goodLine + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ch.write(java.nio.ByteBuffer.wrap(msg))
      ch.close()
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.table("syslog_unix_test").count()
        if (n < 2) Thread.sleep(200)
      }
      assert(n == 2) // two good lines; garbage dropped
      val r = spark.table("syslog_unix_test").collect().head
      assert(r.getAs[Int]("status") == 200)
      assert(r.getAs[Long]("bytes_sent") == 512L)
    } finally q.stop()
  }

  test("syslog source with no listener option fails at query start, naming tcp, udp and unix") {
    val q = spark.readStream.format("syslog").load()
      .writeStream.format("memory").queryName("syslog_none_test").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination(30000))
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      Seq("'tcp'", "'udp'", "'unix'").foreach(o => assert(msg.contains(o), msg))
    } finally q.stop()
  }

  test("archive retention prunes by count and age (S2 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_archive").toString
    (1 to 6).foreach { i =>
      val f = java.nio.file.Paths.get(s"$dir/log-$i.txt")
      java.nio.file.Files.writeString(f, s"line $i")
      f.toFile.setLastModified(System.currentTimeMillis() - i * 60000L)
    }
    // keep 3 newest AND nothing older than 4.5 minutes
    val deleted = StreamingIngest.pruneArchive(dir, maxFiles = 3, maxAgeMs = 270000L)
    val left = new java.io.File(dir).listFiles().map(_.getName).sorted.toSeq
    assert(deleted == 3)
    assert(left == Seq("log-1.txt", "log-2.txt", "log-3.txt"))
  }

  test("liveness endpoint: 200 while active, 503 after stop") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val q = stream.toDF().writeStream.format("memory")
      .queryName("live_test").outputMode("append").start()
    val server = StreamingIngest.serveLiveness(q, 0)
    val port = server.getAddress.getPort
    def probe(): Int = {
      val conn = new java.net.URL(s"http://localhost:$port/live")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      try conn.getResponseCode finally conn.disconnect()
    }
    try {
      assert(probe() == 200)
      q.stop()
      assert(probe() == 503)
    } finally server.stop(0)
  }

  test("parquet sink: time_local as INT64 TIMESTAMP(MICROS, UTC); a session value wins; " +
    "a sink resumed from INT96 files reads as one timestamp column") {
    val (tmp, first) = backlog(3)
    val key = StreamingIngest.OutputTimestampTypeKey
    // a sink written before INT64: Spark's legacy default, set explicitly
    spark.conf.set(key, "INT96")
    drain(spark, tmp)
    val old = TestSpark.parquetTypes(tmp.resolve("out"), "time_local")
    assert(old.nonEmpty && old.forall(_ == "INT96"))
    assert(spark.conf.get(key) == "INT96")
    spark.conf.unset(key)
    // the same sink resumes from its checkpoint with new files
    val late = (0 until 2).map { i =>
      java.nio.file.Files.writeString(tmp.resolve("in").resolve(s"late-$i.log"),
        s"10.1.0.$i - - [01/Aug/2022:10:00:0$i -0700] \"GET /l$i HTTP/1.1\" 200 $i 0.5\n").toString
    }
    val second = rows(Ingest.parse(spark.read.text(late: _*), cfg))
    drain(spark, tmp)
    val all = TestSpark.parquetTypes(tmp.resolve("out"), "time_local")
    assert(all.count(_ == "INT96") == old.size)
    assert(all.count(_ == "INT64 TIMESTAMP(MICROS,true)") == all.size - old.size && all.size > old.size)
    assert(spark.read.parquet(tmp.resolve("out").toString).schema("time_local").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(sinkRows(tmp) == (first ++ second).sorted)
  }

  test("a session that never built a parquet sink still writes INT96 timestamps") {
    val fresh = spark.newSession()
    assert(!fresh.conf.getAll.contains(StreamingIngest.OutputTimestampTypeKey))
    val out = java.nio.file.Files.createTempDirectory("graft_int96").resolve("t")
    fresh.range(2).select(current_timestamp().as("time_local")).write.parquet(out.toString)
    val types = TestSpark.parquetTypes(out, "time_local")
    assert(types.nonEmpty && types.forall(_ == "INT96"))
  }
}
