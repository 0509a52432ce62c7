package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{ServerSocket, Socket, SocketException}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import graft.sources.KafkaWire.{Reader, Writer}

/** In-memory single-node Kafka broker speaking the same public wire
  * protocol as [[KafkaWire]] — the server half the container's missing
  * Kafka jars would otherwise provide, so the `kafka-lite` source/sink can
  * be exercised end-to-end over real sockets (the [[FileBufServer]]
  * treatment for the Kafka transport). Test infrastructure only. Serves
  * exactly the (api, version) pairs the client speaks — Metadata v4,
  * ListOffsets v1, Fetch v4, Produce v3 with magic-2 record batches, plus
  * SaslHandshake v1 / SaslAuthenticate v0 — and fails the connection
  * loudly on any other pair. Topics auto-create with `numPartitions`
  * partitions on first use.
  *
  * Fidelity kept (because the client contract depends on it): leader-acked
  * produce with assigned base offsets, OFFSET_OUT_OF_RANGE (error 1) on a
  * fetch past the log end, fetch long-polling up to max_wait_ms, max_bytes
  * cutting the returned data with the first-batch progress guarantee of
  * KIP-74 (at least one record comes back even if it alone exceeds
  * max_bytes, like a v3+ broker, unless `cutOversizedFirstBatch`), acks=0
  * produce getting NO response,
  * per-connection request/response lockstep.
  */
/** @param fetchCodec serve fetch responses with compressed record
  *   batches (KafkaWire codec id: 1 gzip, 2 snappy, 3 lz4, 4 zstd), the
  *   way a real broker returns a compressed-produced topic — exercises
  *   the client's transparent decompression e2e.
  * @param saslUsers when non-empty the broker REQUIRES SASL: only
  *   SaslHandshake/SaslAuthenticate flow pre-auth (any other
  *   request kills the connection, like a real sasl-only listener); a
  *   wrong credential gets error 58 (SASL_AUTHENTICATION_FAILED) with a
  *   named message, then the connection closes.
  * @param saslMechanism the ONE mechanism this listener serves and
  *   advertises — `PLAIN` (RFC 4616 token compare) or `SCRAM-SHA-256`
  *   (full RFC 5802 server side: per-connection nonce, salted challenge,
  *   proof verification, server-signature response).
  * @param tamperServerSignature (SCRAM only) flip a byte in the
  *   server-final `v=` signature — emulates a man-in-the-middle that
  *   accepted the proof but cannot prove credential knowledge back; a
  *   correct client MUST abort, named.
  * @param cutOversizedFirstBatch cut every fetched record batch at the
  *   fetch's max_bytes, even one whose first record alone exceeds it, as a
  *   broker without KIP-74's progress guarantee does; the client then
  *   decodes nothing at that record and must grow its fetch size.
  */
class KafkaStubBroker(numPartitions: Int = 2, host: String = "127.0.0.1",
    fetchCodec: Int = KafkaWire.CodecNone,
    saslUsers: Map[String, String] = Map.empty,
    saslMechanism: String = "PLAIN",
    tamperServerSignature: Boolean = false,
    cutOversizedFirstBatch: Boolean = false) {

  private val logs = TrieMap.empty[(String, Int), ArrayBuffer[(Array[Byte], Array[Byte])]]

  // SCRAM server-side fixtures: one salt per broker (real brokers store a
  // per-user salt; one is enough for a stub), HMAC via the same JDK Mac
  private val scramSalt: Array[Byte] =
    "graft-stub-salt-0123".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private def hmacSha256(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val m = javax.crypto.Mac.getInstance("HmacSHA256")
    m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    m.doFinal(data)
  }
  @volatile private var running = false
  private var server: ServerSocket = _

  /** Requests served, by api key — lets specs assert which APIs a
    * scenario actually drove.
    */
  val apiCounts: TrieMap[Short, Int] = TrieMap.empty

  /** Requests served, by (api key, api version) — lets specs prove which
    * versions a scenario spoke on the wire.
    */
  val versionCounts: TrieMap[(Short, Short), Int] = TrieMap.empty

  /** v2 batches accepted by produce, by codec id from the attribute bits
    * (0 = none, 1 = gzip) — lets specs prove a producer really compressed.
    */
  val producedCodecs: TrieMap[Int, Int] = TrieMap.empty

  /** (offset, max_bytes) of every partition fetch, in arrival order. */
  val fetches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()

  private def log(topic: String, p: Int): ArrayBuffer[(Array[Byte], Array[Byte])] =
    logs.getOrElseUpdate((topic, p), ArrayBuffer.empty)

  def start(): Int = {
    server = new ServerSocket(0, 16, java.net.InetAddress.getByName(host))
    running = true
    val t = new Thread(() => acceptLoop(), "kafka-stub-accept")
    t.setDaemon(true)
    t.start()
    server.getLocalPort
  }

  def port: Int = server.getLocalPort

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: Throwable => () }
  }

  /** Values of one partition's log as strings (spec assertions). */
  def stringValues(topic: String, partition: Int): Seq[String] = {
    val l = log(topic, partition)
    l.synchronized(l.map(kv => new String(kv._2, java.nio.charset.StandardCharsets.UTF_8)).toSeq)
  }

  /** (key, value) pairs of one partition's log as strings (null key →
    * null) — keyed-balancer spec assertions.
    */
  def stringKeyedValues(topic: String, partition: Int): Seq[(String, String)] = {
    val l = log(topic, partition)
    l.synchronized(l.map { case (k, v) =>
      (if (k == null) null else new String(k, java.nio.charset.StandardCharsets.UTF_8),
        new String(v, java.nio.charset.StandardCharsets.UTF_8))
    }.toSeq)
  }

  def size(topic: String, partition: Int): Int = {
    val l = log(topic, partition)
    l.synchronized(l.size)
  }

  /** Broker-side append (seeding data without a producer). */
  def append(topic: String, partition: Int, values: Seq[String]): Unit = {
    val l = log(topic, partition)
    l.synchronized {
      values.foreach(v => l += ((null,
        v.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
    }
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val s = server.accept()
        val t = new Thread(() => serve(s), "kafka-stub-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => () // closed during stop()
        case _: Throwable if !running => ()
      }
    }

  private def serve(socket: Socket): Unit = {
    socket.setTcpNoDelay(true)
    val in = new DataInputStream(new java.io.BufferedInputStream(socket.getInputStream))
    val out = new DataOutputStream(new java.io.BufferedOutputStream(socket.getOutputStream))
    var authenticated = saslUsers.isEmpty
    var closeAfterResponse = false
    var scramState: Option[(String, String, String)] = None // (user, client-first-bare, server-first)
    try {
      while (running) {
        val size = in.readInt()
        require(size > 0 && size <= 64 * 1024 * 1024, s"bad request size $size")
        val payload = new Array[Byte](size)
        in.readFully(payload)
        val r = new Reader(payload)
        val apiKey = r.int16()
        val apiVersion = r.int16()
        val corr = r.int32()
        r.string() // client_id
        apiCounts.updateWith(apiKey) { c => Some(c.getOrElse(0) + 1) }
        versionCounts.updateWith((apiKey, apiVersion)) { c => Some(c.getOrElse(0) + 1) }
        if (!authenticated &&
            apiKey != KafkaWire.ApiSaslHandshake &&
            apiKey != KafkaWire.ApiSaslAuthenticate)
          throw new IllegalArgumentException(
            s"stub broker: api $apiKey before sasl authentication")
        val (body, respond) = (apiKey, apiVersion) match {
          case (KafkaWire.ApiSaslHandshake, 1) =>
            val mech = r.string()
            val w = new Writer()
            w.int16(if (mech == saslMechanism) 0 else 33) // 33 = UNSUPPORTED_SASL_MECHANISM
            w.array(Seq(saslMechanism))(m => w.string(m))
            (w.toBytes, true)
          case (KafkaWire.ApiSaslAuthenticate, 0) if saslMechanism == "PLAIN" =>
            val token = new String(r.bytes(),
              java.nio.charset.StandardCharsets.UTF_8).split("\u0000", -1)
            // RFC 4616: [authzid, authcid, passwd]
            val ok = token.length == 3 && saslUsers.get(token(1)).contains(token(2))
            val w = new Writer()
            if (ok) {
              authenticated = true
              w.int16(0).nullableString(null).bytes(Array.emptyByteArray)
            } else {
              closeAfterResponse = true // real brokers drop the connection
              w.int16(58).nullableString( // 58 = SASL_AUTHENTICATION_FAILED
                s"Authentication failed: invalid credentials for user " +
                  s"'${token.lift(1).getOrElse("")}'")
                .bytes(Array.emptyByteArray)
            }
            (w.toBytes, true)
          case (KafkaWire.ApiSaslAuthenticate, 0) if saslMechanism == "SCRAM-SHA-256" =>
            val msg = new String(r.bytes(), java.nio.charset.StandardCharsets.UTF_8)
            val w = new Writer()
            scramState match {
              case None =>
                // client-first: "n,," gs2 header + "n=<user>,r=<cnonce>"
                val bare = msg.stripPrefix("n,,")
                val attrs = bare.split(",").collect {
                  case a if a.length >= 2 && a(1) == '=' =>
                    a.substring(0, 1) -> a.substring(2)
                }.toMap
                val user = attrs("n").replace("=2C", ",").replace("=3D", "=")
                val cnonce = attrs("r")
                val snonce = java.util.UUID.nameUUIDFromBytes(
                  (user + cnonce).getBytes).toString.replace("-", "")
                val serverFirst =
                  s"r=$cnonce$snonce,s=${java.util.Base64.getEncoder
                    .encodeToString(scramSalt)},i=4096"
                scramState = Some((user, bare, serverFirst))
                w.int16(0).nullableString(null)
                  .bytes(serverFirst.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              case Some((user, bare, serverFirst)) =>
                // client-final: "c=biws,r=<nonce>,p=<proof b64>"
                val attrs = msg.split(",").collect {
                  case a if a.length >= 2 && a(1) == '=' =>
                    a.substring(0, 1) -> a.substring(2)
                }.toMap
                val expectedNonce = serverFirst.split(",")(0).substring(2)
                val withoutProof = s"c=biws,r=${attrs("r")}"
                val authMessage = s"$bare,$serverFirst,$withoutProof"
                val ok = saslUsers.get(user).exists { pass =>
                  val salted = KafkaWire.Scram.saltedPassword(pass, scramSalt, 4096)
                  val cKey = KafkaWire.Scram.clientKey(salted)
                  val sig = hmacSha256(KafkaWire.Scram.storedKey(cKey),
                    authMessage.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                  val expectedProof = cKey.zip(sig).map { case (a, b) => (a ^ b).toByte }
                  attrs("r") == expectedNonce &&
                    attrs.get("p").contains(
                      java.util.Base64.getEncoder.encodeToString(expectedProof))
                }
                if (ok) {
                  authenticated = true
                  val salted = KafkaWire.Scram.saltedPassword(
                    saslUsers(user), scramSalt, 4096)
                  val serverSig = hmacSha256(KafkaWire.Scram.serverKey(salted),
                    authMessage.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                  if (tamperServerSignature) serverSig(0) = (serverSig(0) ^ 0x1).toByte
                  w.int16(0).nullableString(null).bytes(
                    s"v=${java.util.Base64.getEncoder.encodeToString(serverSig)}"
                      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
                } else {
                  closeAfterResponse = true
                  scramState = None
                  w.int16(58).nullableString(
                    s"Authentication failed during SCRAM exchange for user '$user'")
                    .bytes(Array.emptyByteArray)
                }
            }
            (w.toBytes, true)
          case (KafkaWire.ApiMetadata, 4) => (metadataV4(r), true)
          case (KafkaWire.ApiListOffsets, 1) => (listOffsetsV1(r), true)
          case (KafkaWire.ApiFetch, 4) => (fetchV4(r), true)
          case (KafkaWire.ApiProduce, 3) => produceV3(r)
          case (key, v) => throw new IllegalArgumentException(
            s"stub broker: unsupported api $key version $v")
        }
        if (respond) {
          out.writeInt(4 + body.length)
          out.writeInt(corr)
          out.write(body)
          out.flush()
        }
        if (closeAfterResponse) throw new EOFException("auth failed, closing")
      }
    } catch {
      case _: EOFException | _: SocketException => () // client went away
    } finally {
      try socket.close() catch { case _: Throwable => () }
    }
  }

  // ---- Metadata ----------------------------------------------------------

  private def askedTopics(r: Reader): Seq[String] = {
    val asked = r.array(r.string())
    if (asked.nonEmpty) asked else logs.keys.map(_._1).toSeq.distinct.sorted
  }

  private def metadataV4(r: Reader): Array[Byte] = {
    val topics = askedTopics(r)
    r.int8() // allow_auto_topic_creation — this broker always auto-creates
    val w = new Writer()
    w.int32(0) // throttle_time_ms
    w.array(Seq(0)) { _ =>
      w.int32(0).string(host).int32(port).nullableString(null) // node, host, port, rack
    }
    w.nullableString("kafka-stub") // cluster_id
    w.int32(0)                     // controller_id
    w.array(topics) { t =>
      (0 until numPartitions).foreach(p => log(t, p)) // auto-create
      w.int16(0: Short).string(t).int8(0: Byte)       // error, name, is_internal
      w.array(0 until numPartitions) { p =>
        w.int16(0: Short).int32(p).int32(0)
        w.array(Seq(0))(n => w.int32(n))
        w.array(Seq(0))(n => w.int32(n))
      }
    }
    w.toBytes
  }

  // ---- ListOffsets -------------------------------------------------------

  private def resolveOffset(t: String, p: Int, ts: Long): Long = {
    val l = log(t, p)
    val end = l.synchronized(l.size.toLong)
    if (ts == KafkaWire.EarliestTimestamp) 0L else end
  }

  private def listOffsetsV1(r: Reader): Array[Byte] = {
    r.int32() // replica_id
    val asks = r.array {
      val t = r.string()
      val parts = r.array { (r.int32(), r.int64()) } // no max_num_offsets in v1
      (t, parts)
    }
    val w = new Writer()
    w.array(asks) { case (t, parts) =>
      w.string(t)
      w.array(parts) { case (p, ts) =>
        w.int32(p).int16(0: Short).int64(-1L).int64(resolveOffset(t, p, ts))
      }
    }
    w.toBytes
  }

  // ---- Fetch -------------------------------------------------------------

  /** Long-poll up to the deadline, then return (kept slice start, end). */
  private def pollSlice(t: String, p: Int, offset: Long, maxWait: Int): Long = {
    val l = log(t, p)
    val deadline = System.currentTimeMillis() + math.max(0, maxWait)
    var end = l.synchronized(l.size.toLong)
    while (offset >= end && System.currentTimeMillis() < deadline) {
      Thread.sleep(5)
      end = l.synchronized(l.size.toLong)
    }
    end
  }

  private def fetchV4(r: Reader): Array[Byte] = {
    r.int32() // replica_id
    val maxWait = r.int32()
    r.int32() // min_bytes
    r.int32() // response-level max_bytes (per-partition budget governs below)
    r.int8()  // isolation_level
    val asks = r.array {
      val t = r.string()
      val parts = r.array { (r.int32(), r.int64(), r.int32()) }
      (t, parts)
    }
    val w = new Writer()
    w.int32(0) // throttle_time_ms
    w.array(asks) { case (t, parts) =>
      w.string(t)
      w.array(parts) { case (p, offset, maxBytes) =>
        fetches.add((offset, maxBytes))
        val l = log(t, p)
        val end = pollSlice(t, p, offset, maxWait)
        if (offset > end) {
          // partition header + empty set, error 1
          w.int32(p).int16(1: Short).int64(end).int64(end).int32(0).int32(0)
        } else {
          val slice = l.synchronized(l.slice(offset.toInt, l.size).toVector)
          // cut at max_bytes on encoded-record estimate, but ALWAYS ship
          // at least the first record — KIP-74's progress guarantee, the
          // reason the reader can't wedge on an oversized record
          var budget = maxBytes - KafkaWire.V2HeaderBytes
          val keep = Vector.newBuilder[(Array[Byte], Array[Byte])]
          var i = 0
          var full = false
          while (i < slice.size && !full) {
            val (k, v) = slice(i)
            val recBytes = 16 + (if (k == null) 0 else k.length) + (if (v == null) 0 else v.length)
            if (i == 0 || recBytes <= budget) {
              keep += ((k, v)); budget -= recBytes; i += 1
            } else full = true
          }
          val kept = keep.result()
          val whole = if (slice.isEmpty) Array.empty[Byte]
                      else KafkaWire.encodeRecordBatch(kept, baseOffset = offset,
                        codec = fetchCodec)
          val set = if (cutOversizedFirstBatch) whole.take(maxBytes) else whole
          // partition, error, high_watermark, last_stable_offset,
          // aborted_transactions (empty), record set
          w.int32(p).int16(0: Short).int64(end).int64(end).int32(0)
          w.int32(set.length).raw(set)
        }
      }
    }
    w.toBytes
  }

  // ---- Produce -----------------------------------------------------------

  private def appendRecords(t: String, p: Int, records: Seq[KafkaWire.Record]): Long = {
    val l = log(t, p)
    l.synchronized {
      val b = l.size.toLong
      records.foreach(rec => l += ((rec.key, rec.value)))
      b
    }
  }

  private def produceV3(r: Reader): (Array[Byte], Boolean) = {
    r.string() // transactional_id, nullable
    val acks = r.int16()
    r.int32() // timeout
    val asks = r.array {
      val t = r.string()
      val parts = r.array {
        val p = r.int32()
        val setSize = r.int32()
        (p, r.raw(setSize))
      }
      (t, parts)
    }
    val w = new Writer()
    w.array(asks) { case (t, parts) =>
      w.string(t)
      w.array(parts) { case (p, set) =>
        if (set.length > 22) // batch attributes int16 at bytes 21-22
          producedCodecs.updateWith(set(22) & 0x07) { c => Some(c.getOrElse(0) + 1) }
        val base = appendRecords(t, p, KafkaWire.decodeRecordBatches(set))
        w.int32(p).int16(0: Short).int64(base).int64(-1L) // log_append_time
      }
    }
    w.int32(0) // throttle_time_ms trails the array from v1 on
    (w.toBytes, acks != 0)
  }
}
