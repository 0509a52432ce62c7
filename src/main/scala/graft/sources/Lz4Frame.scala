package graft.sources

/** LZ4 Frame codec for the kafka-lite transport — the wire format Kafka
  * uses for the records section of lz4-compressed record batches
  * (CompressionType LZ4 in the public Apache Kafka protocol; frame layout
  * per the public LZ4 Frame Format spec, lz4.github.io/lz4).
  *
  * The FRAME walk (magic, descriptor, header checksum, block framing,
  * end mark) is hand-rolled here because it is protocol surface the
  * engine must own. The raw BLOCK codec and xxHash32 delegate to
  * lz4-java, the same public library Spark itself ships for shuffle
  * compression (`/opt/spark/jars`), for the identical reason the JDK
  * supplies gzip: a battle-tested public primitive, not protocol logic.
  *
  * Both directions use the SPEC-CORRECT header checksum (xxHash32 of
  * FLG..dictID), the only one magic-2 batches carry: [[decompress]]
  * throws named on any other. Encode writes version 01, block-independent,
  * 64 KiB blocks, no content checksum — the shape Kafka producers emit.
  */
object Lz4Frame {
  private val MagicLE = 0x184d2204
  private val BlockSize = 64 * 1024
  // FLG: version=01 (bits 7-6), block-independence (bit 5); BD: 64 KiB id 4
  private val Flg: Byte = 0x60.toByte
  private val Bd: Byte = 0x40.toByte

  private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()
  private lazy val xx = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()

  private def hc(bytes: Array[Byte], off: Int, len: Int): Byte =
    ((xx.hash(bytes, off, len, 0) >> 8) & 0xff).toByte

  def compress(data: Array[Byte]): Array[Byte] = {
    val comp = lz4.fastCompressor()
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    def int32le(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    int32le(MagicLE)
    out.write(Flg); out.write(Bd)
    out.write(hc(Array(Flg, Bd), 0, 2))
    val buf = new Array[Byte](comp.maxCompressedLength(BlockSize))
    var off = 0
    while (off < data.length) {
      val len = math.min(BlockSize, data.length - off)
      val clen = comp.compress(data, off, len, buf, 0, buf.length)
      if (clen < len) { int32le(clen); out.write(buf, 0, clen) }
      else { int32le(len | 0x80000000); out.write(data, off, len) } // stored
      off += len
    }
    int32le(0) // end mark (no content checksum: FLG bit 2 unset)
    out.toByteArray
  }

  /** Decompress a frame, refusing to expand past `cap` bytes (bomb fence
    * — a frame that fits a fetch response can claim arbitrary expansion).
    */
  def decompress(data: Array[Byte], cap: Int): Array[Byte] = {
    def fail(msg: String) = throw new java.io.IOException(s"lz4 frame: $msg")
    def int32le(off: Int): Int =
      (data(off) & 0xff) | ((data(off + 1) & 0xff) << 8) |
        ((data(off + 2) & 0xff) << 16) | ((data(off + 3) & 0xff) << 24)
    if (data.length < 7) fail("truncated header")
    if (int32le(0) != MagicLE) fail(f"bad magic 0x${int32le(0)}%08x")
    val flg = data(4) & 0xff
    if ((flg >> 6) != 1) fail(s"unsupported frame version ${flg >> 6}")
    val blockChecksum = (flg & 0x10) != 0
    val contentSizePresent = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val dictIdPresent = (flg & 0x01) != 0
    val bdId = (data(5) & 0x70) >> 4
    if (bdId < 4 || bdId > 7) fail(s"invalid block-maximum id $bdId")
    val blockMax = 1 << (8 + 2 * bdId) // 4→64K 5→256K 6→1M 7→4M
    val descLen = 2 + (if (contentSizePresent) 8 else 0) + (if (dictIdPresent) 4 else 0)
    if (data.length < 4 + descLen + 1) fail("truncated descriptor")
    val stored = data(4 + descLen)
    if (stored != hc(data, 4, descLen))
      fail(f"header checksum mismatch (0x$stored%02x)")
    var pos = 4 + descLen + 1
    val out = new java.io.ByteArrayOutputStream(math.min(cap, data.length * 3))
    val block = new Array[Byte](blockMax)
    val dec = lz4.safeDecompressor()
    var done = false
    while (!done) {
      if (pos + 4 > data.length) fail("truncated block header")
      val word = int32le(pos); pos += 4
      if (word == 0) done = true
      else {
        val storedRaw = (word & 0x80000000) != 0
        val len = word & 0x7fffffff
        if (len > blockMax) fail(s"block of $len bytes exceeds frame maximum $blockMax")
        if (pos + len > data.length) fail("truncated block")
        val n =
          if (storedRaw) { out.write(data, pos, len); len }
          else {
            val d = try dec.decompress(data, pos, len, block, 0)
            catch { case e: net.jpountz.lz4.LZ4Exception => fail(s"corrupt block: ${e.getMessage}") }
            out.write(block, 0, d); d
          }
        if (out.size() > cap)
          fail(s"decompressed past the $cap-byte fence (decompression bomb?)")
        pos += len
        if (blockChecksum) {
          if (pos + 4 > data.length) fail("truncated block checksum")
          if (int32le(pos) != xx.hash(data, pos - len, len, 0)) fail("block checksum mismatch")
          pos += 4
        }
        val _ = n
      }
    }
    val result = out.toByteArray
    if (contentChecksum) {
      if (pos + 4 > data.length) fail("truncated content checksum")
      if (int32le(pos) != xx.hash(result, 0, result.length, 0))
        fail("content checksum mismatch")
    }
    result
  }
}
