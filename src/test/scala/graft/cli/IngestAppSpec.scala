package graft.cli

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.GraftConfig
import graft.pipeline.Ingest
import graft.streaming.StreamingIngest

class IngestAppSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark // shared session; IngestApp getOrCreate reuses it

  // file reads set the shared session's split policy, parquet writes its
  // timestamp type
  override def withFixture(test: NoArgTest): Outcome =
    TestSpark.restoringConf(StreamingIngest.OpenCostKey,
      StreamingIngest.OutputTimestampTypeKey)(super.withFixture(test))

  test("batch mode: yaml config → parse → parquet + dead letter") {
    val tmp = Files.createTempDirectory("graft_cli").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$tmp/in"))
    Files.writeString(Paths.get(s"$tmp/in/access.log"),
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512\n" +
        "garbage line\n" +
        "10.0.0.2 - - [21/Jul/2022:01:00:00 +0000] \"GET /y HTTP/1.1\" 404 99\n")

    IngestApp.main(Array(
      "--config", s"$tmp/cfg.yaml", "--mode", "batch",
      "--input", s"$tmp/in", "--sink", "parquet",
      "--output", s"$tmp/out", "--dead-letter", s"$tmp/dead",
      "--master", "local[2]"))

    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 2)
    assert(out.columns.contains("insert_date"))
    assert(out.where(out("status") === 404).count() == 1)
    // the stream parquet sink's layout: month partitions of insert_date
    assert(Files.isDirectory(Paths.get(s"$tmp/out/insert_month=202207")))
    // and its timestamp type
    val types = TestSpark.parquetTypes(Paths.get(s"$tmp/out"), "time_local")
    assert(types.nonEmpty && types.forall(_ == "INT64 TIMESTAMP(MICROS,true)"))
    val dead = spark.read.text(s"$tmp/dead").collect().map(_.getString(0))
    assert(dead.toSeq == Seq("garbage line"))
  }

  test("batch mode reads a backlog of small rotated files in one wave, rows unchanged") {
    val tmp = Files.createTempDirectory("graft_cli_wave").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$tmp/in"))
    (0 until 150).foreach { i =>
      Files.writeString(Paths.get(f"$tmp/in/access.log.$i%03d"),
        s"10.0.${i / 256}.${i % 256} - - [21/Jul/2022:00:30:43 +0000] \"GET /f$i HTTP/1.1\" 200 $i\n" +
          "garbage line\n")
    }
    val cfg = GraftConfig.fromYamlFile(s"$tmp/cfg.yaml").fold(sys.error, identity)
    // the parse under Spark's own policy: a 4 MB open cost, 32 files a split
    spark.conf.unset(StreamingIngest.OpenCostKey)
    val parsed = Ingest.parse(spark.read.text(s"$tmp/in"), cfg)
    assert(spark.read.text(s"$tmp/in").rdd.getNumPartitions == 5)
    val want = parsed.collect().map(_.toString).toSeq.sorted

    val (_, stages) = TestSpark.inputTaskRecords(IngestApp.main(Array(
      "--config", s"$tmp/cfg.yaml", "--mode", "batch",
      "--input", s"$tmp/in", "--sink", "parquet", "--output", s"$tmp/out")))
    assert(stages.nonEmpty)
    stages.foreach(t => assert(TestSpark.oneWave(t, tail = 4 * 2), t))
    val got = spark.read.parquet(s"$tmp/out").select(parsed.columns.map(col).toSeq: _*)
      .collect().map(_.toString).toSeq.sorted
    assert(got.size == 150)
    assert(got == want)
  }

  test("stream mode: --dead-letter with a listener source fails fast, no query started") {
    val tmp = Files.createTempDirectory("graft_cli_dl").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)
    val udpPort = {
      val s = new java.net.DatagramSocket(0)
      try s.getLocalPort finally s.close()
    }
    Files.createDirectories(Paths.get(s"$tmp/in"))
    val sources = Seq(
      Seq("--source", "syslog", "--listeners", "udp", "--bind", "127.0.0.1",
        "--udp-port", udpPort.toString),
      // the dead-letter query's cleanSource would archive or delete files
      // the main query has yet to read
      Seq("--source", "file", "--input", s"$tmp/in"))
    sources.foreach { source =>
      val before = spark.streams.active.map(_.id).toSet
      val e = intercept[IllegalArgumentException](IngestApp.main((Seq(
        "--config", s"$tmp/cfg.yaml", "--mode", "stream") ++ source ++ Seq(
        "--dead-letter", s"$tmp/dead",
        "--sink", "parquet", "--output", s"$tmp/out", "--checkpoint", s"$tmp/cp")).toArray))
      assert(e.getMessage.contains("--dead-letter"), source)
      assert(spark.streams.active.map(_.id).toSet == before, source)
    }
  }

  test("unknown flags and flags without a value fail, naming the flag") {
    val tmp = Files.createTempDirectory("graft_cli_flags").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    status: status
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$tmp/in"))
    Files.writeString(Paths.get(s"$tmp/in/access.log"),
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512\n")
    val valid = Seq("--config", s"$tmp/cfg.yaml", "--mode", "batch",
      "--input", s"$tmp/in", "--sink", "console", "--master", "local[2]")
    // a removed flag must not run with its setting silently dropped
    val unknown = intercept[IllegalArgumentException](
      IngestApp.main((valid ++ Seq("--dialect", "legacy")).toArray))
    assert(unknown.getMessage.contains("--dialect"), unknown.getMessage)
    val trailing = intercept[IllegalArgumentException](
      IngestApp.main((valid :+ "--dead-letter").toArray))
    assert(trailing.getMessage.contains("--dead-letter"), trailing.getMessage)
  }

  test("stream mode: a failed query stops the /live server and main throws") {
    val tmp = Files.createTempDirectory("graft_cli_fail").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$tmp/in"))
    Files.writeString(Paths.get(s"$tmp/in/access.log"),
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512\n")
    val livePort = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    // no JDBC driver takes this URL, so the first batch fails after its retries
    val run = scala.concurrent.Future(IngestApp.main(Array(
      "--config", s"$tmp/cfg.yaml", "--mode", "stream",
      "--source", "file", "--input", s"$tmp/in",
      "--sink", "jdbc", "--url", "jdbc:graft-no-such-driver://nowhere",
      "--table", "access_log", "--checkpoint", s"$tmp/cp",
      "--live-port", livePort.toString, "--trigger-ms", "200")))(
      scala.concurrent.ExecutionContext.global)
    intercept[Exception](scala.concurrent.Await.result(run,
      scala.concurrent.duration.Duration(120, "s")))
    new java.net.ServerSocket(livePort).close()
  }

  /** A stream run with a dead-letter query whose main query fails: a
    * kafka-lite source on a stub broker, and a JDBC sink whose URL no
    * driver takes. Returns the ids of the queries left running by the run,
    * after stopping them.
    */
  private def failedDeadLetterRun(): Set[java.util.UUID] = {
    val tmp = Files.createTempDirectory("graft_cli_dlfail").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)
    val broker = new graft.sources.KafkaStubBroker(numPartitions = 1)
    val port = broker.start()
    broker.append("dllogs", 0, Seq(
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512",
      "not a log line"))
    val before = spark.streams.active.map(_.id).toSet
    try {
      val run = scala.concurrent.Future(IngestApp.main(Array(
        "--config", s"$tmp/cfg.yaml", "--mode", "stream",
        "--source", "kafka-lite", "--brokers", s"127.0.0.1:$port", "--topic", "dllogs",
        "--dead-letter", s"$tmp/dead",
        "--sink", "jdbc", "--url", "jdbc:graft-no-such-driver://nowhere",
        "--table", "access_log", "--checkpoint", s"$tmp/cp", "--trigger-ms", "200")))(
        scala.concurrent.ExecutionContext.global)
      val e = intercept[Exception](scala.concurrent.Await.result(run,
        scala.concurrent.duration.Duration(120, "s")))
      assert(!e.isInstanceOf[java.util.concurrent.TimeoutException], e)
      spark.streams.active.map(_.id).toSet -- before
    } finally {
      spark.streams.active.filterNot(q => before(q.id))
        .foreach(q => try q.stop() catch { case _: Throwable => () })
      broker.stop()
    }
  }

  test("stream mode: a failed main query stops its dead-letter query") {
    assert(failedDeadLetterRun().isEmpty)
  }

  test("stream mode: a finished run leaves no JVM shutdown hook behind") {
    // the JVM's registry of Runtime.addShutdownHook threads
    val hooks = {
      val f = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
      f.setAccessible(true)
      f.get(null).asInstanceOf[java.util.Map[_, _]]
    }
    spark.streams.active // the shared session exists before counting
    val before = hooks.size
    failedDeadLetterRun()
    assert(hooks.size == before)
  }

  test("stream mode: kafka-lite source → parquet, end-to-end through the CLI") {
    val tmp = Files.createTempDirectory("graft_cli_kl").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)
    val broker = new graft.sources.KafkaStubBroker(numPartitions = 1)
    val port = broker.start()
    broker.append("clilogs", 0, Seq(
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512",
      "not a log line",
      "10.0.0.2 - - [21/Jul/2022:01:00:00 +0000] \"GET /y HTTP/1.1\" 404 99"))
    val livePort = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    // IngestApp blocks on awaitTermination — drive it on a thread against
    // the shared session, then stop the query once rows land
    val t = new Thread(() => IngestApp.main(Array(
      "--config", s"$tmp/cfg.yaml", "--mode", "stream",
      "--source", "kafka-lite", "--brokers", s"127.0.0.1:$port",
      "--topic", "clilogs", "--sink", "parquet",
      "--output", s"$tmp/out", "--checkpoint", s"$tmp/cp",
      "--live-port", livePort.toString,
      "--trigger-ms", "200")), "cli-kafka-lite")
    t.setDaemon(true)
    t.start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      def landed(): Long =
        try spark.read.parquet(s"$tmp/out").count() catch { case _: Throwable => 0L }
      while (landed() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() == 2) // garbage dropped by the parse stage
      assert(out.columns.contains("insert_date"))
      assert(out.where(out("status") === 404).count() == 1)
      // --live-port serves the reference's /live contract while running
      val conn = new java.net.URL(s"http://127.0.0.1:$livePort/live")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
      assert(conn.getResponseCode == 200)
      conn.disconnect()
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      t.join(10000)
      broker.stop()
    }
  }

  test("stream mode: file source → parquet with archive, end-to-end through the CLI") {
    val tmp = Files.createTempDirectory("graft_cli_file").toString
    Files.writeString(Paths.get(s"$tmp/cfg.yaml"),
      """nginx:
        |  log_format: '$remote_addr - $remote_user [$time_local] "$request" $status $bytes_sent'
        |  log_time_format: 02/Jan/2006:15:04:05 -0700
        |scheme:
        |  logs_table: access_log
        |  columns:
        |    remote_addr: remote_addr
        |    time_local: time_local
        |    status: status
        |    bytes_sent: bytes_sent
        |""".stripMargin)
    Files.createDirectories(Paths.get(s"$tmp/in"))
    (0 until 40).foreach { i =>
      Files.writeString(Paths.get(f"$tmp/in/access-$i%02d.log"),
        s"10.0.0.$i - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 $i\n" +
          "garbage line\n")
    }
    // the file source raises this on the shared session; put it back after
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val saved = spark.conf.get(key)
    val t = new Thread(() => IngestApp.main(Array(
      "--config", s"$tmp/cfg.yaml", "--mode", "stream",
      "--source", "file", "--input", s"$tmp/in",
      "--archive-dir", s"$tmp/archive", "--sink", "parquet",
      "--output", s"$tmp/out", "--checkpoint", s"$tmp/cp",
      "--trigger-ms", "200")), "cli-file")
    t.setDaemon(true)
    t.start()
    def archived(): Seq[String] =
      if (!Files.exists(Paths.get(s"$tmp/archive"))) Nil
      else {
        val s = Files.walk(Paths.get(s"$tmp/archive"))
        try s.filter(Files.isRegularFile(_)).iterator().asScala
          .map(_.getFileName.toString).toSeq.sorted
        finally s.close()
      }
    try {
      val deadline = System.currentTimeMillis() + 60000
      def landed(): Long =
        try spark.read.parquet(s"$tmp/out").count() catch { case _: Throwable => 0L }
      while (landed() < 40 && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(landed() == 40) // one accepted row per file; garbage dropped
      // a batch's files are archived when the next batch is planned, on
      // the cleaner's own thread: one more file moves the first 40
      val next = Files.writeString(Paths.get(s"$tmp/access-40.log"),
        "10.0.0.40 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 40\n")
      Files.move(next, Paths.get(s"$tmp/in/access-40.log"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      while ((landed() < 41 || archived().size < 40) &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(archived() == (0 until 40).map(i => f"access-$i%02d.log"))
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() == 41)
      assert(out.agg(sum("bytes_sent")).head().getLong(0) == (0 to 40).sum)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      t.join(10000)
      spark.conf.set(key, saved)
    }
  }
}
