package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.config.GraftConfig
import graft.pipeline.Ingest

/** The local checkpoint writer: publish semantics, hand-off of non-local
  * paths, where the engine installs it, and that a streaming query using it
  * starts no process.
  */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  import LocalCheckpointFileManager.{ClassName, ConfKey}

  // a file stream sets the shared session's split policy, a parquet sink
  // its timestamp type
  override def withFixture(test: NoArgTest): Outcome =
    TestSpark.restoringConf(StreamingIngest.OpenCostKey,
      StreamingIngest.OutputTimestampTypeKey)(super.withFixture(test))

  private def dir(): JPath = Files.createTempDirectory("graft_ckpt")
  private def manager(d: JPath) =
    new LocalCheckpointFileManager(new Path(d.toUri), new Configuration())
  private def write(m: LocalCheckpointFileManager, p: JPath, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(new Path(p.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def names(d: JPath): Set[String] =
    Files.list(d).iterator.asScala.map(_.getFileName.toString).toSet

  test("no-overwrite publish onto an existing file fails with Hadoop's FileAlreadyExistsException") {
    val d = dir(); val m = manager(d); val f = d.resolve("7")
    write(m, f, "first", overwrite = false)
    assert(new String(Files.readAllBytes(f), UTF_8) == "first")
    val out = m.createAtomic(new Path(f.toUri), overwriteIfPossible = false)
    out.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](out.close())
    out.cancel() // what HDFSMetadataLog does next; a no-op after close
    assert(new String(Files.readAllBytes(f), UTF_8) == "first")
    assert(names(d) == Set("7"), "the temp file is gone")
  }

  test("overwrite publish replaces the file and removes its stale .crc") {
    val d = dir(); val m = manager(d); val f = d.resolve("3.delta")
    write(m, f, "old", overwrite = false)
    Files.write(d.resolve(".3.delta.crc"), Array[Byte](1, 2, 3))
    write(m, f, "new bytes", overwrite = true)
    assert(new String(Files.readAllBytes(f), UTF_8) == "new bytes")
    assert(names(d) == Set("3.delta"))
    // Hadoop's checksumming reader accepts the published file
    val in = m.open(new Path(f.toUri))
    try assert(new String(in.readAllBytes(), UTF_8) == "new bytes") finally in.close()
  }

  test("cancel leaves neither a temp file nor a target") {
    val d = dir(); val m = manager(d)
    val out = m.createAtomic(new Path(d.resolve("0").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(d).exists(_.endsWith(".tmp")))
    out.cancel()
    out.close() // a no-op after cancel
    assert(names(d).isEmpty)
  }

  test("directories, listing, exists and delete on a local path") {
    val d = dir(); val m = manager(d); val logDir = d.resolve("offsets")
    m.mkdirs(new Path(logDir.toUri))
    write(m, logDir.resolve("0"), "v1", overwrite = false)
    write(m, logDir.resolve("1"), "v1", overwrite = false)
    val listed = m.list(new Path(logDir.toUri)).map(_.getPath.getName).toSet
    assert(listed == Set("0", "1"))
    assert(m.exists(new Path(logDir.resolve("1").toUri)))
    m.delete(new Path(logDir.resolve("1").toUri))
    m.delete(new Path(logDir.resolve("1").toUri)) // already gone: no error
    assert(!m.exists(new Path(logDir.resolve("1").toUri)))
    assert(m.isLocal && m.delegate.isEmpty)
    val cp = new LocalCheckpointFileManager(new Path(d.resolve("a/b").toUri), new Configuration())
      .createCheckpointDirectory()
    assert(cp.toUri.getScheme == "file" && Files.isDirectory(d.resolve("a/b")))
  }

  test("a non-file path is handed to the manager Spark picks without the setting") {
    val d = dir()
    val conf = new Configuration()
    // a scheme with no FileContext binding, served by Hadoop's raw local filesystem
    conf.set("fs.graftother.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.set(ConfKey, ClassName) // Spark's factory would recurse if this reached it
    val m = new LocalCheckpointFileManager(new Path(s"graftother://${d.toAbsolutePath}"), conf)
    assert(m.delegate.exists(_.isInstanceOf[FileSystemBasedCheckpointFileManager]),
      m.delegate.map(_.getClass.getName))
  }

  test("the engine installs the manager on sessions without one and keeps an explicit one") {
    val spark = TestSpark.spark
    def lines(session: org.apache.spark.sql.SparkSession) =
      session.readStream.format("rate").load()
        .selectExpr("CAST(value AS STRING) AS value", "timestamp AS time_local")
    val sinks: Seq[(String, org.apache.spark.sql.DataFrame => Unit)] = Seq(
      "parquetSink" -> (df => StreamingIngest.parquetSink(df, "/unused", "/unused")),
      "jdbcSink" -> (df => StreamingIngest.jdbcSink(df, "jdbc:unused", "t", "/unused")),
      "kafkaLiteSink" -> (df => StreamingIngest.kafkaLiteSink(df, "127.0.0.1:1", "t", "/unused")),
      "filebufSink" -> (df => StreamingIngest.filebufSink(df, "127.0.0.1", 1, "/unused")))
    // the other settings installed with the manager follow the same rule
    val explicit = Map(
      ConfKey ->
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager",
      StreamingIngest.ArtifactIsolationKey -> "true")
    assert(StreamingIngest.SessionSettings.map(_._1).toSet == explicit.keySet)
    StreamingIngest.SessionSettings.foreach { case (key, value) => assert(spark.conf.get(key) == value) }
    for ((name, sink) <- sinks; (key, value) <- StreamingIngest.SessionSettings) {
      val bare = spark.newSession()
      bare.conf.unset(key)
      assert(!bare.conf.getAll.contains(key))
      sink(lines(bare))
      assert(bare.conf.getAll.get(key).contains(value), s"$name $key")
      val chosen = spark.newSession()
      chosen.conf.set(key, explicit(key))
      sink(lines(chosen))
      assert(chosen.conf.get(key) == explicit(key), s"$name $key")
    }
  }

  test("two file-source triggers into the parquet sink start no process on the stream thread") {
    val spark = TestSpark.spark
    val cfg = GraftConfig(
      logFormat = "$remote_addr - $remote_user [$time_local] \"$request\" $status $bytes_sent",
      columns = Seq("remote_addr", "remote_user", "time_local", "request", "status",
        "bytes_sent").map(c => c -> c).toMap,
      logsTable = "access_log")
    val tmp = dir(); val in = tmp.resolve("in")
    Files.createDirectories(in)
    (0 until 2).foreach { i =>
      Files.writeString(in.resolve(s"access-$i.log"),
        s"10.0.0.$i - - [21/Jul/2022:00:30:43 +0000] \"GET /f$i HTTP/1.1\" 200 $i\n")
    }
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val q = StreamingIngest.parquetSink(
      Ingest.parse(StreamingIngest.fileSource(spark, in.toString, maxFilesPerTrigger = Some(1)), cfg),
      tmp.resolve("out").toString, tmp.resolve("cp").toString, flushIntervalMs = 100).start()
    try q.processAllAvailable() finally q.stop()
    // a process started here shows the recording sees process starts at all
    new ProcessBuilder("true").start().waitFor()
    rec.stop()
    val dump = tmp.resolve("rec.jfr")
    rec.dump(dump)
    rec.close()
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    val starts = RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (Option(e.getThread).map(_.getJavaName).getOrElse("?"), e.getString("command")))
    assert(starts.exists(_._1 == Thread.currentThread.getName), starts.mkString("; "))
    val onStream = starts.filter(_._1.startsWith("stream execution thread"))
    assert(onStream.isEmpty, onStream.mkString("; "))
    assert(Files.exists(Paths.get(tmp.resolve("cp").toString, "commits", "1")))
  }
}
