package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.util.concurrent.atomic.AtomicInteger

/** Minimal blocking Kafka client over [[KafkaWire]]: one socket, one
  * in-flight request (request/response lockstep — correlation ids are
  * still checked, catching any framing drift immediately). Used by the
  * `kafka-lite` source's driver (metadata + offsets) and executors
  * (fetch), and by [[StreamingIngest.kafkaLiteSink]] (produce).
  *
  * Every request rides the one wire [[KafkaWire]] defines: magic-2
  * record batches over Metadata v4, ListOffsets v1, Fetch v4 and
  * Produce v3, which every broker from 0.11 through 4.x serves.
  *
  * The lockstep design is deliberate: the streaming source fetches
  * sequential offset ranges per partition, so pipelining buys nothing,
  * and a single-threaded protocol keeps the failure model trivial (any
  * IOException tears down the socket; Spark task retry reconnects).
  * Connections are cheap to re-establish.
  *
  * `saslUser`/`saslPass` enable SASL (KIP-43 handshake v1 + KIP-152
  * SaslAuthenticate) immediately after connecting, before any
  * other API flows; a rejected mechanism or bad credential surfaces as a
  * named IOException carrying the broker's message. `saslMechanism`
  * picks `PLAIN` (RFC 4616, the TLS-wrapped deployment shape) or
  * `SCRAM-SHA-256` (RFC 5802/7677 salted challenge-response — the
  * cleartext-TCP-honest option: no password on the wire, and the
  * server-final signature check authenticates the BROKER back to us).
  * TLS itself stays out of scope (README "Transport caveats").
  */
private[graft] class KafkaLiteClient(host: String, port: Int,
    clientId: String = "graft-kafka-lite", connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 30000,
    saslUser: Option[String] = None,
    saslPass: Option[String] = None,
    saslMechanism: String = "PLAIN") extends AutoCloseable {

  // declared BEFORE connect() below: the constructor authenticates over
  // the socket, so anything roundTrip touches must already be
  // initialized (a val after the connect() call reads as 0 during SASL)
  /** Max response size accepted — same OOM fence as
    * [[FileBufWire.MaxInboundMessageBytes]], sized for fetch batches.
    */
  private val MaxResponseBytes = 64 * 1024 * 1024

  private var socket: Socket = _
  private var out: DataOutputStream = _
  private var in: DataInputStream = _
  private val corr = new AtomicInteger(0)

  private def connect(): Unit = {
    socket = new Socket()
    socket.setTcpNoDelay(true)
    socket.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    socket.setSoTimeout(readTimeoutMs)
    out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream, 64 * 1024))
    in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream, 64 * 1024))
    saslUser.foreach { u =>
      KafkaWire.decodeSaslHandshakeResponse(roundTrip(
        KafkaWire.ApiSaslHandshake, 1,
        KafkaWire.encodeSaslHandshakeRequest(saslMechanism)))
      saslMechanism match {
        case "PLAIN" =>
          KafkaWire.decodeSaslAuthenticateResponse(roundTrip(
            KafkaWire.ApiSaslAuthenticate, 0,
            KafkaWire.encodeSaslAuthenticateRequest(
              KafkaWire.saslPlainToken(u, saslPass.getOrElse("")))))
        case "SCRAM-SHA-256" =>
          val nonceBytes = new Array[Byte](18)
          new java.security.SecureRandom().nextBytes(nonceBytes)
          val cnonce = java.util.Base64.getUrlEncoder.withoutPadding
            .encodeToString(nonceBytes)
          val (first, bare) = KafkaWire.Scram.clientFirst(u, cnonce)
          val serverFirstMsg = new String(
            KafkaWire.decodeSaslAuthenticateResponseBytes(roundTrip(
              KafkaWire.ApiSaslAuthenticate, 0,
              KafkaWire.encodeSaslAuthenticateRequest(
                first.getBytes(java.nio.charset.StandardCharsets.UTF_8)))),
            java.nio.charset.StandardCharsets.UTF_8)
          val sf = KafkaWire.Scram.parseServerFirst(serverFirstMsg, cnonce)
          val (finalMsg, expectedSig) = KafkaWire.Scram.clientFinal(
            saslPass.getOrElse(""), bare, serverFirstMsg, sf)
          val serverFinal = new String(
            KafkaWire.decodeSaslAuthenticateResponseBytes(roundTrip(
              KafkaWire.ApiSaslAuthenticate, 0,
              KafkaWire.encodeSaslAuthenticateRequest(
                finalMsg.getBytes(java.nio.charset.StandardCharsets.UTF_8)))),
            java.nio.charset.StandardCharsets.UTF_8)
          KafkaWire.Scram.verifyServerFinal(serverFinal, expectedSig)
        case other => throw new IllegalArgumentException(
          s"unsupported sasl mechanism '$other' (PLAIN | SCRAM-SHA-256)")
      }
    }
  }
  connect()

  private def roundTrip(apiKey: Short, apiVersion: Short,
      body: Array[Byte]): Array[Byte] = synchronized {
    val id = corr.incrementAndGet()
    out.write(KafkaWire.request(apiKey, apiVersion, id, clientId, body))
    out.flush()
    val size = in.readInt()
    if (size < 4 || size > MaxResponseBytes)
      throw new java.io.IOException(s"kafka response size $size out of bounds")
    val payload = new Array[Byte](size)
    in.readFully(payload)
    val gotId = java.nio.ByteBuffer.wrap(payload, 0, 4).getInt
    if (gotId != id)
      throw new java.io.IOException(s"correlation id mismatch: sent $id, got $gotId")
    java.util.Arrays.copyOfRange(payload, 4, size)
  }

  def partitionsOf(topic: String): Seq[KafkaWire.PartitionMeta] =
    KafkaWire.decodeMetadataResponse(roundTrip(KafkaWire.ApiMetadata,
      KafkaWire.MetadataV4, KafkaWire.encodeMetadataRequest(Seq(topic))), topic)

  private def listOffsets(topic: String, partition: Int, timestamp: Long): Long =
    KafkaWire.decodeListOffsetsResponse(roundTrip(KafkaWire.ApiListOffsets,
      KafkaWire.ListOffsetsV1,
      KafkaWire.encodeListOffsetsRequest(topic, partition, timestamp)))

  def earliestOffset(topic: String, partition: Int): Long =
    listOffsets(topic, partition, KafkaWire.EarliestTimestamp)

  /** Log-end offset (the next offset to be assigned). */
  def latestOffset(topic: String, partition: Int): Long =
    listOffsets(topic, partition, KafkaWire.LatestTimestamp)

  /** One fetch round trip from `offset`; may return fewer records than
    * available (bounded by `maxBytes`), never more than the broker has.
    * Returns (records, highWatermark).
    */
  def fetch(topic: String, partition: Int, offset: Long,
      maxWaitMs: Int = 500, minBytes: Int = 1,
      maxBytes: Int = 4 * 1024 * 1024): (Seq[KafkaWire.Record], Long) =
    KafkaWire.decodeFetchResponse(roundTrip(KafkaWire.ApiFetch, KafkaWire.FetchV4,
      KafkaWire.encodeFetchRequest(topic, partition, offset, maxWaitMs, minBytes, maxBytes)))

  /** Produce with acks=1 (leader ack — the reference producer's setting);
    * returns the base offset the broker assigned. Fails FAST on a record
    * bigger than the fetch-side contract ([[KafkaWire.MaxRecordBytes]]):
    * accepting it would wedge every future consumer of that offset, and
    * the producer is the only place the error is still cheap.
    *
    * `codec` ([[KafkaWire.codecId]]: none/gzip/snappy/lz4/zstd) compresses
    * the produced batch (zstd additionally needs a broker of 2.1 or newer,
    * KIP-110). The size fence checks the UNCOMPRESSED record: a fetched
    * batch must fit the contract even if the log hands it back
    * uncompressed or recompressed.
    */
  def produce(topic: String, partition: Int,
      records: Seq[(Array[Byte], Array[Byte])], timeoutMs: Int = 10000,
      codec: Int = KafkaWire.CodecNone): Long = {
    records.foreach { case (k, v) =>
      val sz = (if (k == null) 0 else k.length) + (if (v == null) 0 else v.length) +
        KafkaWire.RecordOverheadBytes
      require(sz <= KafkaWire.MaxRecordBytes,
        s"kafka-lite: record of $sz encoded bytes exceeds the " +
          s"${KafkaWire.MaxRecordBytes}-byte contract (unfetchable once written)")
    }
    KafkaWire.decodeProduceResponse(roundTrip(KafkaWire.ApiProduce, KafkaWire.ProduceV3,
      KafkaWire.encodeProduceRequest(topic, partition, records, acks = 1, timeoutMs,
        codec = codec)))
  }

  override def close(): Unit = {
    try out.flush() catch { case _: Throwable => () }
    try socket.close() catch { case _: Throwable => () }
  }
}
