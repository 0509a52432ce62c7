package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Ingest
import graft.streaming.StreamingIngest

/** Kafka transport (S5 source / K2 sink) over the hand-rolled wire:
  * codec units, client ↔ stub-broker round trips, and the full DSv2
  * streaming path (offsets, admission control, checkpoint replay) — the
  * `FileBufSpec` treatment for the Kafka leg.
  */
class KafkaLiteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private def str(b: Array[Byte]) = new String(b, java.nio.charset.StandardCharsets.UTF_8)

  test("client ↔ stub broker (modern): metadata, produce, list offsets, fetch") {
    val broker = new KafkaStubBroker(numPartitions = 2)
    val port = broker.start()
    try {
      val c = new KafkaLiteClient("127.0.0.1", port)
      try {
        val metas = c.partitionsOf("logs")
        assert(metas.map(_.partition) == Seq(0, 1))
        assert(c.earliestOffset("logs", 0) == 0L && c.latestOffset("logs", 0) == 0L)

        val base0 = c.produce("logs", 0, (1 to 5).map(i => (null, utf8(s"p0-$i"))))
        val base1 = c.produce("logs", 0, (1 to 3).map(i => (null, utf8(s"p0-more-$i"))))
        assert(base0 == 0L && base1 == 5L)
        assert(c.latestOffset("logs", 0) == 8L)

        val (recs, hw) = c.fetch("logs", 0, 5L)
        assert(hw == 8L)
        assert(recs.map(r => str(r.value)) == Seq("p0-more-1", "p0-more-2", "p0-more-3"))
        assert(recs.map(_.offset) == Seq(5L, 6L, 7L))

        // fetch past the log end long-polls then reports OFFSET_OUT_OF_RANGE
        intercept[java.io.IOException](c.fetch("logs", 0, 9L, maxWaitMs = 10))

        // produce-side record cap: a record the fetch contract could never
        // deliver is rejected BEFORE it lands (else the partition wedges
        // at that offset forever); the log is untouched
        val before = c.latestOffset("logs", 0)
        intercept[IllegalArgumentException](
          c.produce("logs", 0, Seq((null, new Array[Byte](KafkaWire.MaxRecordBytes)))))
        assert(c.latestOffset("logs", 0) == before)

        // the conversation really happened on the fixed versions
        assert(broker.versionCounts.getOrElse(
          (KafkaWire.ApiProduce, KafkaWire.ProduceV3), 0) >= 2)
        assert(broker.versionCounts.getOrElse(
          (KafkaWire.ApiFetch, KafkaWire.FetchV4), 0) >= 1)
        assert(broker.versionCounts.getOrElse(
          (KafkaWire.ApiMetadata, KafkaWire.MetadataV4), 0) >= 1)
        assert(broker.versionCounts.getOrElse(
          (KafkaWire.ApiListOffsets, KafkaWire.ListOffsetsV1), 0) >= 2)
      } finally c.close()
    } finally broker.stop()
  }

  test("kafka-lite DSv2 source end-to-end through the parse pipeline (S5)") {
    val broker = new KafkaStubBroker(numPartitions = 2)
    val port = broker.start()
    val goodLine =
      "10.0.0.1 - - [21/Jul/2022:00:30:43 +0000] \"GET /x HTTP/1.1\" 200 512 0.05"
    val cfg = graft.config.GraftConfig(
      logFormat = "$remote_addr - $remote_user [$time_local] \"$request\" $status $bytes_sent $request_time",
      columns = Seq("remote_addr", "remote_user", "time_local", "request",
        "status", "bytes_sent", "request_time").map(c => c -> c).toMap,
      logsTable = "access_log")
    broker.append("logs", 0, Seq(goodLine, "complete garbage"))
    broker.append("logs", 1, Seq(goodLine))
    val lines = StreamingIngest.kafkaLiteSource(spark, s"127.0.0.1:$port", "logs")
    val parsed = Ingest.parse(lines, cfg)
    val q = parsed.writeStream.format("memory")
      .queryName("kafka_lite_test").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kafka_lite_test").count() == 2) // garbage dropped by parse

      // stream keeps following the log: append mid-stream, rows arrive
      broker.append("logs", 1, Seq(goodLine, goodLine))
      q.processAllAvailable()
      assert(spark.table("kafka_lite_test").count() == 4)
      val r = spark.table("kafka_lite_test").collect().head
      assert(r.getAs[Int]("status") == 200)
      assert(r.getAs[Long]("bytes_sent") == 512L)
      // the source drove real broker APIs over the wire
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiMetadata, 0) >= 1)
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiListOffsets, 0) >= 2)
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiFetch, 0) >= 2)
    } finally q.stop()
  }

  test("startingOffsets=latest skips the backlog") {
    val broker = new KafkaStubBroker(numPartitions = 1)
    val port = broker.start()
    broker.append("t", 0, Seq("old-1", "old-2"))
    val df = StreamingIngest.kafkaLiteSource(
      spark, s"127.0.0.1:$port", "t", startingOffsets = "latest")
    val q = df.writeStream.format("memory")
      .queryName("kafka_lite_latest").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kafka_lite_latest").count() == 0)
      broker.append("t", 0, Seq("new-1"))
      q.processAllAvailable()
      val vals = spark.table("kafka_lite_latest").collect().map(_.getString(0))
      assert(vals.toSeq == Seq("new-1"))
    } finally q.stop()
  }

  test("maxOffsetsPerTrigger paces micro-batches (admission control)") {
    val broker = new KafkaStubBroker(numPartitions = 2)
    val port = broker.start()
    broker.append("paced", 0, (1 to 60).map(i => s"a-$i"))
    broker.append("paced", 1, (1 to 40).map(i => s"b-$i"))
    val df = StreamingIngest.kafkaLiteSource(
      spark, s"127.0.0.1:$port", "paced", maxOffsetsPerTrigger = Some(25L))
    val q = df.writeStream.format("memory")
      .queryName("kafka_lite_paced").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("kafka_lite_paced").count() == 100)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 4, s"expected ≥4 paced batches, got ${batches.length}")
      // lag-proportional allocation: no batch exceeds the cap (+1 progress guarantee)
      assert(batches.forall(_.numInputRows <= 26),
        batches.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("checkpointed offsets replay exactly-once across a query restart") {
    val broker = new KafkaStubBroker(numPartitions = 2)
    val port = broker.start()
    val dir = java.nio.file.Files.createTempDirectory("graft_kafka_lite").toString
    val cp = s"$dir/cp"; val out = s"$dir/out"
    def run(): Unit = {
      val q = StreamingIngest.kafkaLiteSource(spark, s"127.0.0.1:$port", "replay")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp).start()
      try q.processAllAvailable() finally q.stop()
    }
    broker.append("replay", 0, (1 to 10).map(i => s"first-$i"))
    run()
    broker.append("replay", 0, (1 to 5).map(i => s"second-$i"))
    broker.append("replay", 1, (1 to 5).map(i => s"third-$i"))
    run() // restart from checkpoint: only the new 10 rows, no re-reads
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 20, s"expected 20 rows exactly-once, got ${rows.length}")
    assert(rows.map(_.getString(0)).distinct.length == 20)
  }

  test("a record larger than the fetch size is read via adaptive maxBytes growth") {
    // the broker cuts an oversized first batch at max_bytes, so the 4 MiB
    // fetch at the 6 MiB record decodes to nothing and the reader must
    // double its way up instead of wedging at the offset
    val broker = new KafkaStubBroker(numPartitions = 1, cutOversizedFirstBatch = true)
    val port = broker.start()
    val big = "x" * (6 * 1024 * 1024)
    broker.append("big", 0, Seq("small-1", big, "small-2"))
    val q = StreamingIngest.kafkaLiteSource(spark, s"127.0.0.1:$port", "big")
      .writeStream.format("memory").queryName("kafka_lite_big").outputMode("append").start()
    try {
      q.processAllAvailable()
      val vals = spark.table("kafka_lite_big").collect().map(_.getString(0))
      assert(vals.length == 3)
      assert(vals.count(_.length == big.length) == 1)
      assert(vals.toSet.contains("small-1") && vals.toSet.contains("small-2"))
      val atBig = broker.fetches.asScala.collect { case (1L, maxBytes) => maxBytes }.toSeq
      assert(atBig == Seq(4 * 1024 * 1024, 8 * 1024 * 1024), atBig)
    } finally { q.stop(); broker.stop() }
  }

  test("startingOffsets rejects anything but earliest/latest") {
    val broker = new KafkaStubBroker(numPartitions = 1)
    val port = broker.start()
    try {
      val df = StreamingIngest.kafkaLiteSource(
        spark, s"127.0.0.1:$port", "t2", startingOffsets = "lastest")
      val ex = intercept[Exception] {
        val q = df.writeStream.format("memory")
          .queryName("kafka_lite_badopt").outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(_.getMessage != null) &&
        causes(ex).flatMap(c => Option(c.getMessage)).exists(_.contains("startingOffsets")),
        s"expected a startingOffsets validation error, got $ex")
      // sasl.mechanism validates on the driver the same way
      val df2 = StreamingIngest.kafkaLiteSource(
        spark, s"127.0.0.1:$port", "t2",
        saslUser = Some("u"), saslMechanism = "SCRAM-SHA-1")
      val ex2 = intercept[Exception] {
        val q = df2.writeStream.format("memory")
          .queryName("kafka_lite_badmech").outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }
      assert(causes(ex2).flatMap(c => Option(c.getMessage))
        .exists(_.contains("sasl.mechanism")),
        s"expected a sasl.mechanism validation error, got $ex2")
    } finally broker.stop()
  }

  for ((codecName, codecId) <- Seq("gzip" -> KafkaWire.CodecGzip,
    "snappy" -> KafkaWire.CodecSnappy, "lz4" -> KafkaWire.CodecLz4,
    "zstd" -> KafkaWire.CodecZstd))
    test(s"$codecName'd fetch responses decode transparently through the DSv2 source") {
      val broker = new KafkaStubBroker(numPartitions = 2, fetchCodec = codecId)
      val port = broker.start()
      try {
        broker.append("gz", 0, (1 to 30).map(i => s"gz-a-$i"))
        broker.append("gz", 1, (1 to 20).map(i => s"gz-b-$i"))
        val q = StreamingIngest.kafkaLiteSource(spark, s"127.0.0.1:$port", "gz")
          .writeStream.format("memory").queryName(s"kafka_lite_$codecName")
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          val vals = spark.table(s"kafka_lite_$codecName").collect().map(_.getString(0))
          assert(vals.length == 50)
          assert(vals.toSet == ((1 to 30).map(i => s"gz-a-$i") ++
            (1 to 20).map(i => s"gz-b-$i")).toSet)
        } finally q.stop()
      } finally broker.stop()
    }

  for ((codecName, codecId) <- Seq("gzip" -> KafkaWire.CodecGzip,
    "snappy" -> KafkaWire.CodecSnappy, "lz4" -> KafkaWire.CodecLz4,
    "zstd" -> KafkaWire.CodecZstd))
    test(s"$codecName produce: sink compresses batches on the wire; values land intact") {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val broker = new KafkaStubBroker(numPartitions = 2)
      val port = broker.start()
      val cp = java.nio.file.Files.createTempDirectory(s"graft_kafka_${codecName}sink_cp").toString
      val stream = MemoryStream[String]
      val q = StreamingIngest.kafkaLiteSink(
        stream.toDF().toDF("value"), s"127.0.0.1:$port", "csunk", cp,
        produceCodec = codecName).start()
      try {
        val lines = (1 to 80).map(i => s"compressible line $i " + ("pad " * 20))
        stream.addData(lines: _*)
        q.processAllAvailable()
        val landed = broker.stringValues("csunk", 0) ++ broker.stringValues("csunk", 1)
        assert(landed.sorted == lines.sorted)
        // the broker saw compressed batches of the right codec, not plain
        assert(broker.producedCodecs.getOrElse(codecId, 0) >= 1, broker.producedCodecs.toString)
        assert(broker.producedCodecs.getOrElse(0, 0) == 0, broker.producedCodecs.toString)
      } finally {
        q.stop()
        broker.stop()
      }
    }

  test("kafka-lite streaming sink produces leader-acked batches (K2)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val broker = new KafkaStubBroker(numPartitions = 2)
    val port = broker.start()
    val cp = java.nio.file.Files.createTempDirectory("graft_kafka_sink_cp").toString
    val stream = MemoryStream[String]
    val q = StreamingIngest.kafkaLiteSink(
      stream.toDF().toDF("value"), s"127.0.0.1:$port", "sunk", cp).start()
    try {
      val lines = (1 to 100).map(i => s"sunk line $i")
      stream.addData(lines: _*)
      q.processAllAvailable()
      val landed = broker.stringValues("sunk", 0) ++ broker.stringValues("sunk", 1)
      assert(landed.sorted == lines.sorted)
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiProduce, 0) >= 1)
    } finally {
      q.stop()
      broker.stop()
    }
  }

  test("SASL/PLAIN: authenticated client round-trips; wrong password fails named") {
    val broker = new KafkaStubBroker(numPartitions = 1,
      saslUsers = Map("svc-graft" -> "hunter2"))
    val port = broker.start()
    try {
      // correct credentials: full produce/fetch conversation works
      val c = new KafkaLiteClient("127.0.0.1", port,
        saslUser = Some("svc-graft"), saslPass = Some("hunter2"))
      try {
        val base = c.produce("logs", 0, Seq((null, utf8("authed"))))
        assert(base == 0L)
        val (recs, _) = c.fetch("logs", 0, 0L)
        assert(recs.map(r => str(r.value)) == Seq("authed"))
      } finally c.close()
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiSaslHandshake, 0) >= 1)
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiSaslAuthenticate, 0) >= 1)

      // wrong password: constructor-time auth fails with the broker's
      // named message, before any data API can flow
      val e = intercept[java.io.IOException](
        new KafkaLiteClient("127.0.0.1", port,
          saslUser = Some("svc-graft"), saslPass = Some("wrong")))
      assert(e.getMessage.contains("sasl authentication failed"))
      assert(e.getMessage.contains("svc-graft"), s"broker message lost: ${e.getMessage}")

      // no credentials against a sasl-required listener: connection dies
      // on the first data API (the real-broker behavior), named as an IO
      // failure rather than a hang
      val c2 = new KafkaLiteClient("127.0.0.1", port)
      try intercept[java.io.IOException](c2.partitionsOf("logs"))
      finally c2.close()
    } finally broker.stop()
  }

  test("SASL/PLAIN: DSv2 source and sink authenticate via options end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val broker = new KafkaStubBroker(numPartitions = 1,
      saslUsers = Map("svc-graft" -> "hunter2"))
    val port = broker.start()
    val cp = java.nio.file.Files.createTempDirectory("graft_kafka_sasl_cp").toString
    // sink leg: produce through foreachBatch with credentials
    val stream = MemoryStream[String]
    val qSink = StreamingIngest.kafkaLiteSink(
      stream.toDF().toDF("value"), s"127.0.0.1:$port", "secured", cp,
      saslUser = Some("svc-graft"), saslPass = Some("hunter2")).start()
    try {
      stream.addData("secret line 1", "secret line 2")
      qSink.processAllAvailable()
      assert(broker.stringValues("secured", 0).sorted ==
        Seq("secret line 1", "secret line 2"))
    } finally qSink.stop()
    // source leg: read it back through the DSv2 source with credentials
    val lines = StreamingIngest.kafkaLiteSource(spark, s"127.0.0.1:$port",
      "secured", saslUser = Some("svc-graft"), saslPass = Some("hunter2"))
    val qSrc = lines.writeStream.format("memory")
      .queryName("kafka_sasl_src").outputMode("append").start()
    try {
      qSrc.processAllAvailable()
      assert(spark.table("kafka_sasl_src").as[String].collect().sorted.toSeq ==
        Seq("secret line 1", "secret line 2"))
      // every connection in the conversation authenticated (driver
      // metadata/offset clients + executor fetch clients + sink producers)
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiSaslAuthenticate, 0) >= 3)
      // and every request, executor fetches included, used one of the
      // four fixed data-API versions or a SASL exchange
      val pinned = Set(
        (KafkaWire.ApiMetadata, KafkaWire.MetadataV4),
        (KafkaWire.ApiListOffsets, KafkaWire.ListOffsetsV1),
        (KafkaWire.ApiFetch, KafkaWire.FetchV4),
        (KafkaWire.ApiProduce, KafkaWire.ProduceV3),
        (KafkaWire.ApiSaslHandshake, 1: Short),
        (KafkaWire.ApiSaslAuthenticate, 0: Short))
      assert(broker.versionCounts.keySet.subsetOf(pinned), broker.versionCounts.toString)
      assert(broker.versionCounts.getOrElse(
        (KafkaWire.ApiFetch, KafkaWire.FetchV4), 0) >= 1)
    } finally {
      qSrc.stop()
      broker.stop()
    }
  }

  test("SCRAM-SHA-256 helpers reproduce the RFC 7677 published test vector") {
    // RFC 7677 §3: user "user", pass "pencil" — the vector pins our
    // PBKDF2/HMAC/proof composition to the published bytes, so the
    // stub-broker e2e below is not self-confirming
    val cnonce = "rOprNGfwEbeRWgbNEkqO"
    val serverFirstMsg = "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
      "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    val (first, bare) = KafkaWire.Scram.clientFirst("user", cnonce)
    assert(first == s"n,,n=user,r=$cnonce" && bare == s"n=user,r=$cnonce")
    val sf = KafkaWire.Scram.parseServerFirst(serverFirstMsg, cnonce)
    assert(sf.iterations == 4096)
    val (finalMsg, serverSig) =
      KafkaWire.Scram.clientFinal("pencil", bare, serverFirstMsg, sf)
    assert(finalMsg ==
      "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    // the expected ServerSignature equals the vector's v= → verify passes
    KafkaWire.Scram.verifyServerFinal(
      "v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=", serverSig)
    // and any other signature is rejected, named
    val e = intercept[java.io.IOException](KafkaWire.Scram.verifyServerFinal(
      "v=AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=", serverSig))
    assert(e.getMessage.contains("server signature mismatch"))
    // iteration-count downgrade (MITM rewrites i=1 to cheapen an offline
    // attack on the captured proof) is refused named, as is malformed i=
    val down = intercept[java.io.IOException](KafkaWire.Scram.parseServerFirst(
      s"r=${cnonce}snonce,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=1", cnonce))
    assert(down.getMessage.contains("below the 4096 floor"), down.getMessage)
    val mal = intercept[java.io.IOException](KafkaWire.Scram.parseServerFirst(
      s"r=${cnonce}snonce,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=many", cnonce))
    assert(mal.getMessage.contains("malformed"), mal.getMessage)
    // a server nonce that does not extend ours (replay/tamper) is refused
    val replay = intercept[java.io.IOException](KafkaWire.Scram.parseServerFirst(
      "r=stranger,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096", cnonce))
    assert(replay.getMessage.contains("does not extend"), replay.getMessage)
    // and so is a nonce EXACTLY equal to ours: RFC 5802 §5.1 says the
    // server MUST append its own nonce — no extension, no replay salt
    val unext = intercept[java.io.IOException](KafkaWire.Scram.parseServerFirst(
      s"r=$cnonce,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096", cnonce))
    assert(unext.getMessage.contains("does not extend"), unext.getMessage)
  }

  test("SCRAM-SHA-256: authenticated round trip; wrong password and " +
    "tampered server signature fail named") {
    val broker = new KafkaStubBroker(numPartitions = 1,
      saslUsers = Map("svc-graft" -> "hunter2"),
      saslMechanism = "SCRAM-SHA-256")
    val port = broker.start()
    try {
      // correct credentials: the 2-round-trip exchange then produce/fetch
      val c = new KafkaLiteClient("127.0.0.1", port,
        saslUser = Some("svc-graft"), saslPass = Some("hunter2"),
        saslMechanism = "SCRAM-SHA-256")
      try {
        assert(c.produce("logs", 0, Seq((null, utf8("scram-authed")))) == 0L)
        val (recs, _) = c.fetch("logs", 0, 0L)
        assert(recs.map(r => str(r.value)) == Seq("scram-authed"))
      } finally c.close()
      // client-first + client-final = 2 authenticate calls minimum
      assert(broker.apiCounts.getOrElse(KafkaWire.ApiSaslAuthenticate, 0) >= 2)

      // wrong password: the broker rejects the PROOF (the password never
      // travelled), named with the user
      val e = intercept[java.io.IOException](new KafkaLiteClient(
        "127.0.0.1", port, saslUser = Some("svc-graft"),
        saslPass = Some("wrong"), saslMechanism = "SCRAM-SHA-256"))
      assert(e.getMessage.contains("sasl authentication failed"))
      assert(e.getMessage.contains("svc-graft"), e.getMessage)

      // a PLAIN client against the SCRAM-only listener: handshake
      // rejection names what the broker DOES support
      val e2 = intercept[java.io.IOException](new KafkaLiteClient(
        "127.0.0.1", port, saslUser = Some("svc-graft"),
        saslPass = Some("hunter2")))
      assert(e2.getMessage.contains("SCRAM-SHA-256"), e2.getMessage)
    } finally broker.stop()

    // tampered server signature: auth "succeeds" broker-side but the
    // client must refuse the connection — the mutual-auth half of SCRAM
    val mitm = new KafkaStubBroker(numPartitions = 1,
      saslUsers = Map("svc-graft" -> "hunter2"),
      saslMechanism = "SCRAM-SHA-256", tamperServerSignature = true)
    val port2 = mitm.start()
    try {
      val e3 = intercept[java.io.IOException](new KafkaLiteClient(
        "127.0.0.1", port2, saslUser = Some("svc-graft"),
        saslPass = Some("hunter2"), saslMechanism = "SCRAM-SHA-256"))
      assert(e3.getMessage.contains("server signature mismatch"), e3.getMessage)
    } finally mitm.stop()
  }

  test("SCRAM-SHA-256: DSv2 source and sink authenticate via options end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val broker = new KafkaStubBroker(numPartitions = 1,
      saslUsers = Map("svc-graft" -> "hunter2"),
      saslMechanism = "SCRAM-SHA-256")
    val port = broker.start()
    val cp = java.nio.file.Files.createTempDirectory("graft_kafka_scram_cp").toString
    val stream = MemoryStream[String]
    val qSink = StreamingIngest.kafkaLiteSink(
      stream.toDF().toDF("value"), s"127.0.0.1:$port", "scramt", cp,
      saslUser = Some("svc-graft"), saslPass = Some("hunter2"),
      saslMechanism = "SCRAM-SHA-256").start()
    try {
      stream.addData("scram line 1", "scram line 2")
      qSink.processAllAvailable()
      assert(broker.stringValues("scramt", 0).sorted ==
        Seq("scram line 1", "scram line 2"))
    } finally qSink.stop()
    val lines = StreamingIngest.kafkaLiteSource(spark, s"127.0.0.1:$port",
      "scramt", saslUser = Some("svc-graft"), saslPass = Some("hunter2"),
      saslMechanism = "SCRAM-SHA-256")
    val qSrc = lines.writeStream.format("memory")
      .queryName("kafka_scram_src").outputMode("append").start()
    try {
      qSrc.processAllAvailable()
      assert(spark.table("kafka_scram_src").as[String].collect().sorted.toSeq ==
        Seq("scram line 1", "scram line 2"))
    } finally {
      qSrc.stop()
      broker.stop()
    }
  }

  test("producer balancers: FNV-1a vectors, hash/reference mappings, " +
    "least-bytes accounting, round robin, reference fallback") {
    // Published FNV-1a/32 test vectors (Fowler/Noll/Vo)
    assert(KafkaBalancer.fnv1a32(utf8("")) == 0x811c9dc5)
    assert(KafkaBalancer.fnv1a32(null) == 0x811c9dc5) // null key ≡ empty
    assert(KafkaBalancer.fnv1a32(utf8("a")) == 0xe40c292c)
    assert(KafkaBalancer.fnv1a32(utf8("foobar")) == 0xbf9cf968)

    // The two hash mappings DIVERGE (the int32-cast-vs-mask difference the
    // kafka-go comment warns about): h("") = 0x811c9dc5 is negative as
    // int32 (−2128831035 → fold → 5 mod 10); masked it is 18652613 → 3.
    assert(new KafkaBalancer.Hash().pick(utf8(""), 0, 10) == 5)
    assert(new KafkaBalancer.ReferenceHash().pick(utf8(""), 0, 10) == 3)
    // stateless + key-stable
    val h = new KafkaBalancer.Hash()
    assert(h.pick(utf8("user-42"), 7, 3) == h.pick(utf8("user-42"), 99, 3))

    // least_bytes: ties break low, counters steer to the lightest
    val lb = new KafkaBalancer.LeastBytes()
    assert(lb.pick(null, 100, 3) == 0) // all-zero tie → 0
    assert(lb.pick(null, 1, 3) == 1)   // 0 now carries 100
    assert(lb.pick(null, 1, 3) == 2)
    assert(lb.pick(null, 1, 3) == 1)   // 1 and 2 carry 1 < 100 → low tie
    assert(lb.pick(null, 200, 3) == 2)
    assert(lb.pick(null, 1, 3) == 1)   // 2 jumped past 1

    val rr = new KafkaBalancer.RoundRobin()
    assert((0 until 6).map(_ => rr.pick(null, 1, 3)) == Seq(0, 1, 2, 0, 1, 2))

    // the reference's Balancer.Match falls back to least_bytes on any
    // unknown name — mirrored
    assert(KafkaBalancer("bogus").isInstanceOf[KafkaBalancer.LeastBytes])
  }

  test("hash-balanced sink routes records by key; same key → same partition (K2)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val broker = new KafkaStubBroker(numPartitions = 3)
    val port = broker.start()
    val cp = java.nio.file.Files.createTempDirectory("graft_kafka_bal_cp").toString
    val stream = MemoryStream[(String, String)]
    val q = StreamingIngest.kafkaLiteSink(
      stream.toDF().toDF("k", "value"), s"127.0.0.1:$port", "keyed", cp,
      balancer = "hash", keyExpr = Some("k")).start()
    try {
      val keys = Seq("alpha", "beta", "gamma", "delta", "epsilon")
      val lines = for (k <- keys; i <- 1 to 20) yield (k, s"$k msg $i")
      stream.addData(lines: _*)
      q.processAllAvailable()
      val landed = (0 until 3).map(p => broker.stringKeyedValues("keyed", p))
      // everything arrived, exactly once, WITH its key on the wire
      assert(landed.flatten.sorted == lines.map { case (k, v) => (k, v) }.sorted)
      // every key sits in exactly one partition, and it is the one the
      // balancer computes (partition list is 0,1,2 ascending)
      keys.foreach { k =>
        val expected = new KafkaBalancer.Hash().pick(utf8(k), 0, 3)
        val at = landed.indices.filter(p => landed(p).exists(_._1 == k))
        assert(at == Seq(expected), s"key $k landed at $at, expected $expected")
      }
      // sanity: the 5 keys actually exercise >1 partition
      assert(landed.count(_.nonEmpty) >= 2)
    } finally {
      q.stop()
      broker.stop()
    }
  }

  test("least_bytes-balanced sink spreads equal-size keyless records evenly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val broker = new KafkaStubBroker(numPartitions = 3)
    val port = broker.start()
    val cp = java.nio.file.Files.createTempDirectory("graft_kafka_lb_cp").toString
    val stream = MemoryStream[String]
    // one task so ONE balancer instance owns all 99 records — the
    // per-task-counters contract is what makes the split exact
    val q = StreamingIngest.kafkaLiteSink(
      stream.toDF().toDF("value").repartition(1), s"127.0.0.1:$port",
      "spread", cp, balancer = "least_bytes").start()
    try {
      val lines = (1 to 99).map(i => f"payload $i%03d") // equal byte size
      stream.addData(lines: _*)
      q.processAllAvailable()
      val counts = (0 until 3).map(p => broker.size("spread", p))
      assert(counts == Seq(33, 33, 33), s"got $counts")
      assert((0 until 3).flatMap(p => broker.stringValues("spread", p)).sorted
        == lines.sorted)
    } finally {
      q.stop()
      broker.stop()
    }
  }
}
