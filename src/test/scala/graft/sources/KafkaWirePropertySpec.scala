package graft.sources

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Randomized codec pins for the hand-rolled Kafka wire: arbitrary
  * binary keys/values (nulls, empties, high bytes) must survive a v2
  * record-batch roundtrip byte-for-byte, and every truncation point inside
  * a batch must decode to exactly the whole batches before it — the
  * invariant fetch responses rely on when max_bytes cuts mid-batch.
  */
class KafkaWirePropertySpec extends AnyFunSuite {

  private val bytesGen: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null: Array[Byte]),
    1 -> Gen.const(Array.empty[Byte]),
    4 -> Gen.choose(1, 512).flatMap(n =>
      Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)))

  private val recordsGen: Gen[List[(Array[Byte], Array[Byte])]] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, Gen.zip(bytesGen, bytesGen)))

  private def sample(n: Int): Seq[List[(Array[Byte], Array[Byte])]] =
    LazyList.from(0)
      .map(i => recordsGen.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))
      .flatten.take(n).toList

  private def eq(a: Array[Byte], b: Array[Byte]): Boolean =
    (a == null && b == null) || (a != null && b != null && java.util.Arrays.equals(a, b))

  test("v2 record-batch roundtrip is byte-exact for arbitrary binary keys/values") {
    sample(60).filter(_.nonEmpty).foreach { recs =>
      val base = recs.length.toLong * 31 // arbitrary nonzero base offset
      val decoded = KafkaWire.decodeRecordBatches(
        KafkaWire.encodeRecordBatch(recs, baseOffset = base))
      assert(decoded.size == recs.size)
      decoded.zip(recs).zipWithIndex.foreach { case ((got, (k, v)), i) =>
        assert(got.offset == base + i)
        assert(eq(got.key, k), s"key mismatch at $i")
        assert(eq(got.value, v), s"value mismatch at $i")
      }
    }
  }

  test("v2 multi-batch stream decodes every batch; truncation stops at a batch boundary") {
    sample(10).filter(_.size >= 2).foreach { recs =>
      val (a, b) = recs.splitAt(recs.size / 2)
      val batchA = KafkaWire.encodeRecordBatch(a, baseOffset = 0L)
      val batchB = KafkaWire.encodeRecordBatch(b, baseOffset = a.size.toLong)
      val whole = batchA ++ batchB
      val all = KafkaWire.decodeRecordBatches(whole)
      assert(all.size == recs.size)
      assert(all.map(_.offset) == recs.indices.map(_.toLong))
      // every cut inside batch B must decode exactly batch A (v2 decodes
      // whole batches only — a partial batch is the truncated tail)
      for (cut <- batchA.length until whole.length) {
        val got = KafkaWire.decodeRecordBatches(java.util.Arrays.copyOfRange(whole, 0, cut))
        assert(got.size == a.size, s"cut=$cut decoded ${got.size}, expected ${a.size}")
      }
    }
  }

  test("v2 batch CRC32C catches a flipped payload byte") {
    val batch = KafkaWire.encodeRecordBatch(
      Seq((null, "payload-under-test".getBytes("UTF-8"))))
    val bad = batch.clone()
    bad(batch.length - 1) = (bad(batch.length - 1) ^ 0x1).toByte
    intercept[java.io.IOException](KafkaWire.decodeRecordBatches(bad))
  }

  test("v2 compressed batches roundtrip byte-exact for every codec") {
    val codecs = Seq(KafkaWire.CodecGzip, KafkaWire.CodecSnappy,
      KafkaWire.CodecLz4, KafkaWire.CodecZstd)
    sample(30).filter(_.nonEmpty).foreach { recs =>
      val plain = KafkaWire.decodeRecordBatches(
        KafkaWire.encodeRecordBatch(recs, baseOffset = 5L))
      codecs.foreach { codec =>
        val zipped = KafkaWire.decodeRecordBatches(
          KafkaWire.encodeRecordBatch(recs, baseOffset = 5L, codec = codec))
        assert(zipped.size == plain.size, s"codec $codec")
        zipped.zip(plain).foreach { case (z, p) =>
          assert(z.offset == p.offset)
          assert(eq(z.key, p.key) && eq(z.value, p.value))
        }
      }
    }
  }

  test("reserved codec ids fail with a named error instead of mis-parsing") {
    // v2: flip the attribute bits to reserved id 5 and re-CRC so only the
    // codec is wrong
    val batch = KafkaWire.encodeRecordBatch(Seq((null, "x".getBytes)))
    batch(22) = 5 // attributes low byte (21 = crc end, attributes int16 at 21..22)
    val crc = new java.util.zip.CRC32C
    crc.update(batch, 21, batch.length - 21)
    java.nio.ByteBuffer.wrap(batch, 17, 4).putInt(crc.getValue.toInt)
    val e2 = intercept[java.io.IOException](KafkaWire.decodeRecordBatches(batch))
    assert(e2.getMessage.contains("unsupported compression"))
  }

  test("a pre-0.11 magic-0 message set fails named instead of decoding") {
    // one v0 message: offset, size, crc, magic 0, attributes, key, value
    val body = new KafkaWire.Writer()
    body.int8(0: Byte).int8(0: Byte).bytes(null).bytes(("v0 line " * 8).getBytes)
    val bodyBytes = body.toBytes
    val crc = new java.util.zip.CRC32
    crc.update(bodyBytes)
    val w = new KafkaWire.Writer()
    w.int64(0L).int32(4 + bodyBytes.length).int32(crc.getValue.toInt).raw(bodyBytes)
    val e = intercept[java.io.IOException](KafkaWire.decodeRecordBatches(w.toBytes))
    assert(e.getMessage.contains("magic 0"), e.getMessage)
  }

  test("corrupt positive batch_length below the v2 minimum throws (no busy-loop)") {
    // 12-byte head claiming batch_length 5, followed by plenty of bytes —
    // NOT a truncated tail, must throw named instead of returning empty
    val w = new KafkaWire.Writer()
    w.int64(7L).int32(5).raw(new Array[Byte](64))
    val e = intercept[java.io.IOException](KafkaWire.decodeRecordBatches(w.toBytes))
    assert(e.getMessage.contains("batch_length"))
    // a genuinely truncated tail (plausible length, missing bytes) still
    // returns cleanly
    val t = new KafkaWire.Writer()
    t.int64(7L).int32(200).raw(new Array[Byte](20))
    assert(KafkaWire.decodeRecordBatches(t.toBytes).isEmpty)
  }

  test("decompression bomb: a gzip batch expanding past the fence throws named") {
    // ~70 MiB of zeros gzips to ~70 KiB — fits any fetch response, but
    // expands past the 64 MiB MaxDecompressedBytes fence on decode
    val big = new Array[Byte](70 * 1024 * 1024)
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos, 64 * 1024)
    gz.write(big); gz.close()
    val e = intercept[java.io.IOException](
      KafkaWire.decompress(KafkaWire.CodecGzip, bos.toByteArray, "test"))
    assert(e.getMessage.contains("bomb"))
  }

  test("sasl plain token carries NUL-framed credentials for arbitrary strings") {
    val strGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const('€'), Gen.const(' ')))
        .map(_.mkString))
    val creds = LazyList.from(0)
      .map(i => Gen.zip(strGen, strGen)
        .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))
      .flatten.take(50).toList
    creds.foreach { case (u, p) =>
      val tok = new String(KafkaWire.saslPlainToken(u, p),
        java.nio.charset.StandardCharsets.UTF_8).split("\u0000", -1)
      assert(tok.length == 3 && tok(0) == "" && tok(1) == u && tok(2) == p)
    }
  }

  test("sasl handshake/authenticate decoders: ok, named rejection, named failure") {
    // handshake ok → mechanism list out
    val hs = new KafkaWire.Writer()
    hs.int16(0)
    hs.array(Seq("PLAIN", "SCRAM-SHA-256"))(m => hs.string(m))
    assert(KafkaWire.decodeSaslHandshakeResponse(hs.toBytes) ==
      Seq("PLAIN", "SCRAM-SHA-256"))
    // handshake rejection names the broker's mechanisms
    val bad = new KafkaWire.Writer()
    bad.int16(33)
    bad.array(Seq("GSSAPI"))(m => bad.string(m))
    val e1 = intercept[java.io.IOException](
      KafkaWire.decodeSaslHandshakeResponse(bad.toBytes))
    assert(e1.getMessage.contains("GSSAPI"))
    // authenticate ok → silent; failure carries the broker message
    val ok = new KafkaWire.Writer()
    ok.int16(0).nullableString(null).bytes(Array.emptyByteArray)
    KafkaWire.decodeSaslAuthenticateResponse(ok.toBytes)
    val fail = new KafkaWire.Writer()
    fail.int16(58).nullableString("bad password for 'svc'")
      .bytes(Array.emptyByteArray)
    val e2 = intercept[java.io.IOException](
      KafkaWire.decodeSaslAuthenticateResponse(fail.toBytes))
    assert(e2.getMessage.contains("bad password for 'svc'"))
    // a null error message must not NPE the failure path
    val failNull = new KafkaWire.Writer()
    failNull.int16(58).nullableString(null).bytes(Array.emptyByteArray)
    val e3 = intercept[java.io.IOException](
      KafkaWire.decodeSaslAuthenticateResponse(failNull.toBytes))
    assert(e3.getMessage.contains("sasl authentication failed"))
  }
}
