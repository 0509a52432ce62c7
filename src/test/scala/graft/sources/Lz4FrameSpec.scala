package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Pins the hand-rolled Kafka LZ4 frame walk against the PUBLIC frame
  * implementation lz4-java ships (LZ4FrameInput/OutputStream) — the two
  * must interoperate in both directions, since real brokers hold batches
  * written by arbitrary conformant producers.
  */
class Lz4FrameSpec extends AnyFunSuite {

  private def patterns: Seq[Array[Byte]] = Seq(
    Array.empty[Byte],
    "hello lz4".getBytes("UTF-8"),
    ("log line with structure 10.0.0.1 GET /path 200\n" * 5000).getBytes("UTF-8"),
    Array.tabulate(256 * 1024)(i => (i * 31 % 251).toByte),          // mildly structured
    { val r = new scala.util.Random(42); val a = new Array[Byte](100 * 1024); r.nextBytes(a); a }, // incompressible
    new Array[Byte](300 * 1024))                                      // zeros, multi-block

  test("roundtrip: compress → decompress is identity") {
    patterns.foreach { p =>
      val out = Lz4Frame.decompress(Lz4Frame.compress(p), 16 * 1024 * 1024)
      assert(java.util.Arrays.equals(out, p), s"len ${p.length}")
    }
  }

  test("our frames decode with lz4-java's frame reader (spec conformance)") {
    patterns.foreach { p =>
      val in = new net.jpountz.lz4.LZ4FrameInputStream(
        new java.io.ByteArrayInputStream(Lz4Frame.compress(p)))
      val got = try in.readAllBytes() finally in.close()
      assert(java.util.Arrays.equals(got, p), s"len ${p.length}")
    }
  }

  test("lz4-java's frames (content checksum + content size) decode with our walk") {
    patterns.foreach { p =>
      val bos = new java.io.ByteArrayOutputStream()
      val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
        net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB, p.length.toLong,
        net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE,
        net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.CONTENT_CHECKSUM)
      out.write(p); out.close()
      val got = Lz4Frame.decompress(bos.toByteArray, 16 * 1024 * 1024)
      assert(java.util.Arrays.equals(got, p), s"len ${p.length}")
    }
  }

  test("legacy broken-HC frame (Kafka v0/v1 producers) fails the header checksum") {
    val p = ("legacy payload " * 100).getBytes("UTF-8")
    val framed = Lz4Frame.compress(p)
    val xx = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
    framed(6) = ((xx.hash(framed, 0, 6, 0) >> 8) & 0xff).toByte // magic-included hash
    val e = intercept[java.io.IOException](Lz4Frame.decompress(framed, 1 << 24))
    assert(e.getMessage.contains("header checksum mismatch"), e.getMessage)
  }

  test("corrupt header checksum (neither variant) throws named") {
    val framed = Lz4Frame.compress("x".getBytes)
    framed(6) = (framed(6) ^ 0x55).toByte
    val e = intercept[java.io.IOException](Lz4Frame.decompress(framed, 1 << 20))
    assert(e.getMessage.contains("header checksum"))
  }

  test("expansion past the cap throws named (bomb fence)") {
    val framed = Lz4Frame.compress(new Array[Byte](4 * 1024 * 1024)) // tiny frame, 4 MiB claim
    val e = intercept[java.io.IOException](Lz4Frame.decompress(framed, 1024))
    assert(e.getMessage.contains("bomb"))
  }

  test("bad magic and truncated input throw named") {
    val e1 = intercept[java.io.IOException](Lz4Frame.decompress(Array[Byte](1, 2, 3), 1024))
    assert(e1.getMessage.contains("truncated"))
    val framed = Lz4Frame.compress("abc".getBytes)
    framed(0) = 0x00
    val e2 = intercept[java.io.IOException](Lz4Frame.decompress(framed, 1024))
    assert(e2.getMessage.contains("magic"))
  }
}
