package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.connector.read.InputPartition
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingIngest

/** The driver-buffered line source ships each batch as one UTF-8 blob:
  * every line must come out as it went in, whatever its bytes and size.
  */
class LineBufferStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val lines = Seq("plain", "", "uni é中😀 code", "", "x" * (1 << 20) + "ü", "tail")

  /** A partition after the trip to a task. */
  private def shipped(p: InputPartition): InputPartition = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(p)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[InputPartition]
  }

  private def read(stream: LineBufferMicroBatchStream, start: Long, end: Long): Seq[String] = {
    val parts = stream.planInputPartitions(LineOffset(start), LineOffset(end)).map(shipped)
    parts.toSeq.flatMap { p =>
      val r = stream.createReaderFactory().createReader(p)
      val out = mutable.ArrayBuffer.empty[String]
      while (r.next()) out += r.get().getUTF8String(0).toString
      r.close()
      out
    }
  }

  test("batches carry multi-byte UTF-8, empty and 1 MB lines unchanged; commit drops the prefix") {
    var append: String => Unit = null
    val stream = new LineBufferMicroBatchStream(Seq(a => { append = a; () => () }))
    assert(stream.latestOffset() == LineOffset(0))
    lines.foreach(append)
    assert(stream.latestOffset() == LineOffset(lines.size))
    assert(read(stream, 0, lines.size) == lines)
    assert(read(stream, 2, 5) == lines.slice(2, 5))
    stream.commit(LineOffset(3))
    // offsets stay absolute after the committed prefix is dropped
    append("after")
    assert(stream.latestOffset() == LineOffset(lines.size + 1))
    assert(read(stream, 3, lines.size + 1) == lines.drop(3) :+ "after")
    stream.commit(LineOffset(lines.size + 1))
    assert(read(stream, lines.size + 1, lines.size + 1).isEmpty)
    stream.stop()
  }

  test("a filebuf stream yields the lines it was sent") {
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val q = StreamingIngest.filebufSource(spark, port, bind = "127.0.0.1")
      .writeStream.format("memory").queryName("linebuffer_test").outputMode("append").start()
    try {
      // the server binds on the first micro-batch; connect with retry
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 30000
      var client: FileBufClient = null
      while (client == null && System.currentTimeMillis() < deadline) {
        try client = new FileBufClient("127.0.0.1", port)
        catch { case _: Throwable => q.processAllAvailable(); Thread.sleep(200) }
      }
      assert(client != null, "could not connect to the filebuf source server")
      lines.foreach(client.send)
      client.close()
      var got = Seq.empty[String]
      while (got.size < lines.size && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        got = spark.table("linebuffer_test").collect().map(_.getString(0)).toSeq
        if (got.size < lines.size) Thread.sleep(200)
      }
      assert(got.sorted == lines.sorted)
    } finally q.stop()
  }
}
