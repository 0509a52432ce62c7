package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Ingest
import graft.streaming.StreamingIngest

/** FileBuf gRPC transport (S6 source / K3 sink): wire-format units plus
  * live client↔server e2e over real sockets — the `StreamingIngestSpec`
  * treatment for the gRPC leg.
  */
class FileBufSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  test("protobuf Request encode/decode roundtrip (ascii, unicode, empty)") {
    for (s <- Seq("plain line", "uni é中😀 code", "", "a" * 70000)) {
      val enc = FileBufWire.encodeRequest(s)
      val buf = io.netty.buffer.Unpooled.wrappedBuffer(enc)
      assert(FileBufWire.decodeRequestData(buf) == s)
      buf.release()
    }
  }

  test("message decoder reassembles frames split across arbitrary chunks") {
    val lines = (1 to 50).map(i => s"line-$i-" + ("x" * (i * 7)))
    val whole = io.netty.buffer.Unpooled.buffer()
    lines.foreach { l => whole.writeBytes(FileBufWire.frame(FileBufWire.encodeRequest(l))) }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val dec = new FileBufWire.MessageDecoder
    val rnd = new scala.util.Random(42)
    while (whole.isReadable) {
      val n = math.min(whole.readableBytes(), 1 + rnd.nextInt(23))
      dec.feed(whole.readRetainedSlice(n), m => out += FileBufWire.decodeRequestData(m))
    }
    whole.release(); dec.release()
    assert(out.toSeq == lines)
  }

  test("client ↔ server: parallel streams deliver every line, clean close") {
    val received = new ConcurrentLinkedQueue[String]()
    val server = new FileBufServer("127.0.0.1", 0, received.add(_))
    val port = server.start()
    try {
      val client = new FileBufClient("127.0.0.1", port, parallelism = 3)
      val lines = (1 to 500).map(i => s"grpc line $i ü")
      lines.foreach(client.send)
      client.close() // awaits Response + grpc-status 0 on all 3 streams
      assert(received.asScala.toSeq.sorted == lines.sorted)
    } finally server.stop()
  }

  test("client ↔ server: multi-megabyte transfer (flow-control windows replenish)") {
    // >>64 KB on one connection: stalls here mean stream- or
    // connection-level WINDOW_UPDATEs aren't flowing
    val received = new java.util.concurrent.atomic.AtomicLong(0L)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val server = new FileBufServer("127.0.0.1", 0,
      l => { received.incrementAndGet(); bytes.addAndGet(l.length.toLong) })
    val port = server.start()
    try {
      val client = new FileBufClient("127.0.0.1", port, parallelism = 2)
      val payload = "x" * 300
      val n = 20000 // ~6 MB total
      (1 to n).foreach(i => client.send(s"$i $payload"))
      client.close(awaitSec = 60)
      assert(received.get() == n)
      assert(bytes.get() >= n.toLong * 300)
    } finally server.stop()
  }

  test("native filebuf DSv2 source end-to-end (S6 transport parity)") {
    val port = freePort()
    val goodLine =
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512 0.05"
    val cfg = graft.config.GraftConfig(
      logFormat = "$remote_addr - $remote_user [$time_local] \"$request\" $status $bytes_sent $request_time",
      columns = Seq("remote_addr", "remote_user", "time_local", "request",
        "status", "bytes_sent", "request_time").map(c => c -> c).toMap,
      logsTable = "access_log")
    val lines = StreamingIngest.filebufSource(spark, port, bind = "127.0.0.1")
    val parsed = Ingest.parse(lines, cfg)
    val q = parsed.writeStream.format("memory")
      .queryName("filebuf_test").outputMode("append").start()
    try {
      // server binds lazily on the first micro-batch; connect with retry
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      var client: FileBufClient = null
      while (client == null && System.currentTimeMillis() < deadline) {
        try client = new FileBufClient("127.0.0.1", port)
        catch { case _: Throwable => q.processAllAvailable(); Thread.sleep(200) }
      }
      assert(client != null, "could not connect to the filebuf source server")
      client.send(goodLine)
      client.send("complete garbage")
      client.send(goodLine)
      client.close()
      var n = 0L
      while (n < 2 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        n = spark.table("filebuf_test").count()
        if (n < 2) Thread.sleep(200)
      }
      assert(n == 2) // two good lines; garbage dropped by the parse stage
      val r = spark.table("filebuf_test").collect().head
      assert(r.getAs[Int]("status") == 200)
      assert(r.getAs[Long]("bytes_sent") == 512L)
    } finally q.stop()
  }

  test("filebuf streaming sink end-to-end (K3: executor-side gRPC relay)") {
    implicit val sqlCtx = spark.sqlContext
    val received = new ConcurrentLinkedQueue[String]()
    val server = new FileBufServer("127.0.0.1", 0, received.add(_))
    val port = server.start()
    val cp = java.nio.file.Files.createTempDirectory("graft_filebuf_cp").toString
    val stream = MemoryStream[String]
    val q = StreamingIngest.filebufSink(
      stream.toDF().toDF("value"), "127.0.0.1", port, cp).start()
    try {
      val lines = (1 to 100).map(i => s"relayed line $i")
      stream.addData(lines: _*)
      q.processAllAvailable()
      assert(received.asScala.toSeq.sorted == lines.sorted)
    } finally {
      q.stop()
      server.stop()
    }
  }
}
