package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Native Kafka streaming source (DataSource V2) over the hand-rolled
  * [[KafkaWire]] protocol — S5 parity with the reference's KafkaLog
  * consumer (`/root/reference/internal/services/kafkalog/server.go:117-152`:
  * one message value = one log line into the parse pipeline).
  *
  * `spark.readStream.format("kafka-lite").option("brokers", "h:p")
  * .option("topic", t).load()` → the stock connector's column shape
  * (key/value binary, topic, partition, offset), so downstream
  * `CAST(value AS STRING)` pipelines are connector-agnostic.
  *
  * ARCHITECTURE — unlike the syslog/filebuf sources (driver line buffer,
  * at-most-once by transport nature), offsets here live in the BROKER:
  *  - the driver speaks only metadata + ListOffsets (kilobytes per
  *    trigger); record bytes NEVER pass through the driver;
  *  - each micro-batch is a replayable per-partition offset range,
  *    checkpointed by Spark — failure recovery re-fetches the same range,
  *    giving end-to-end exactly-once into transactional/idempotent sinks
  *    (the strongest delivery contract in SURVEY §4.2);
  *  - one [[InputPartition]] per Kafka partition, fetched executor-side
  *    from that partition's leader: parallelism scales with the topic's
  *    partition count exactly as on a 1000-executor cluster;
  *  - `maxoffsetspertrigger` implements [[SupportsAdmissionControl]] with
  *    lag-proportional allocation across partitions — the same admission
  *    shape the stock connector uses.
  *
  * Options: `brokers` (host:port bootstrap), `topic`, `startingoffsets`
  * (`earliest`, default, or `latest`), `maxoffsetspertrigger` (long),
  * `sasl.username`/`sasl.password` (SASL on every connection — driver
  * metadata clients and executor fetch clients alike) and
  * `sasl.mechanism` (`PLAIN`, default, or `SCRAM-SHA-256`; see
  * [[KafkaLiteClient]]).
  */
class KafkaLiteSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kafka-lite"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaLiteSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KafkaLiteTable
}

private[graft] object KafkaLiteSource {
  /** The stock Kafka connector's column shape, minus the timestamp
    * columns: the kafka-lite producer writes the -1 "no timestamp"
    * sentinel (the engine's event time lives in the parsed payload, not
    * the transport), so the column would be uniformly null.
    */
  val Schema: StructType = StructType(Seq(
    StructField("key", BinaryType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false)))

  def parseBroker(brokers: String): (String, Int) = {
    val first = brokers.split(',').head.trim
    val i = first.lastIndexOf(':')
    require(i > 0, s"broker must be host:port, got '$first'")
    (first.substring(0, i), first.substring(i + 1).toInt)
  }
}

private[sources] class KafkaLiteTable extends Table with SupportsRead {
  override def name(): String = "kafka-lite"
  override def schema(): StructType = KafkaLiteSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      private val brokers = Option(options.get("brokers")).getOrElse(
        throw new IllegalArgumentException("kafka-lite requires option 'brokers'"))
      private val topic = Option(options.get("topic")).getOrElse(
        throw new IllegalArgumentException("kafka-lite requires option 'topic'"))
      private val startingOffsets = {
        val v = Option(options.get("startingoffsets")).getOrElse("earliest").toLowerCase
        // fail fast like the stock connector: silently mapping a typo (or
        // its JSON per-partition form) to 'earliest' would re-ingest a
        // whole topic
        require(v == "earliest" || v == "latest",
          s"kafka-lite startingOffsets must be 'earliest' or 'latest', got '$v'")
        v
      }
      private val maxOffsets = Option(options.get("maxoffsetspertrigger")).map(_.toLong)
      private val saslUser = Option(options.get("sasl.username"))
      private val saslPass = Option(options.get("sasl.password"))
      private val saslMech = { // validate on the driver, fail fast like startingOffsets
        val m = Option(options.get("sasl.mechanism")).getOrElse("PLAIN")
        require(m == "PLAIN" || m == "SCRAM-SHA-256",
          s"kafka-lite sasl.mechanism must be 'PLAIN' or 'SCRAM-SHA-256', got '$m'")
        m
      }
      override def build(): Scan = this
      override def readSchema(): StructType = KafkaLiteSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new KafkaLiteMicroBatchStream(brokers, topic, startingOffsets, maxOffsets,
          saslUser, saslPass, saslMech)
    }
}

/** Per-partition offset map, serialized canonically (sorted partitions) so
  * offset equality is textual — Spark compares offsets by their JSON.
  */
private[sources] case class KafkaLiteOffset(offsets: Map[Int, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sorted.map { case (p, o) => s"$p:$o" }.mkString(",")
}

private[sources] object KafkaLiteOffset {
  def parse(s: String): KafkaLiteOffset =
    KafkaLiteOffset(s.trim match {
      case "" => Map.empty
      case t => t.split(',').map { kv =>
        val Array(p, o) = kv.split(':'); p.toInt -> o.toLong
      }.toMap
    })
}

private[sources] class KafkaLiteMicroBatchStream(
    brokers: String, topic: String, startingOffsets: String, maxOffsets: Option[Long],
    saslUser: Option[String] = None, saslPass: Option[String] = None,
    saslMechanism: String = "PLAIN")
    extends MicroBatchStream with SupportsAdmissionControl {

  private val (bootHost, bootPort) = KafkaLiteSource.parseBroker(brokers)

  @transient private var clientVar: KafkaLiteClient = _
  private def client: KafkaLiteClient = synchronized {
    if (clientVar == null)
      clientVar = new KafkaLiteClient(bootHost, bootPort,
        saslUser = saslUser, saslPass = saslPass, saslMechanism = saslMechanism)
    clientVar
  }

  /** Partition → leader endpoint; fetched once per query (leadership is
    * stable within a micro-batch plan; a moved leader fails the task and
    * Spark's retry re-resolves through a fresh stream instance).
    */
  private lazy val metas: Seq[KafkaWire.PartitionMeta] = client.partitionsOf(topic)

  override def initialOffset(): Offset = {
    val earliest = startingOffsets.toLowerCase != "latest"
    KafkaLiteOffset(metas.map { m =>
      m.partition -> (if (earliest) client.earliestOffset(topic, m.partition)
                      else client.latestOffset(topic, m.partition))
    }.toMap)
  }

  override def getDefaultReadLimit: ReadLimit =
    maxOffsets.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called with admission control")

  /** Start offset of `p` under the checkpointed map: a partition the map
    * has never seen (topic expanded between runs) starts at EARLIEST —
    * its whole history is new data relative to the checkpoint, the stock
    * connector's convention — used consistently by the lag computation,
    * the allocation base, and the batch planner.
    */
  private def startOf(from: Map[Int, Long], p: Int): Long =
    from.getOrElse(p, client.earliestOffset(topic, p))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[KafkaLiteOffset].offsets
    val logEnd = metas.map(m => m.partition -> client.latestOffset(topic, m.partition)).toMap
    val capped = limit match {
      case mr: ReadMaxRows =>
        val base = logEnd.map { case (p, _) => p -> startOf(from, p) }
        val lags = logEnd.map { case (p, e) => p -> math.max(0L, e - base(p)) }
        val total = lags.values.sum
        if (total <= mr.maxRows) logEnd
        else {
          // lag-proportional allocation; BigInt for the product (maxRows ×
          // lag overflows Long at plausible magnitudes, and a wrapped
          // negative share would regress the checkpointed end offset);
          // guarantee progress on at least one partition when flooring
          // rounds everything to zero
          var allocated = logEnd.map { case (p, _) =>
            val share = (BigInt(mr.maxRows) * lags(p) / BigInt(math.max(1L, total))).toLong
            p -> (base(p) + share)
          }
          if (allocated == base)
            lags.find(_._2 > 0).foreach { case (p, _) =>
              allocated = allocated.updated(p, base(p) + 1L) }
          allocated
        }
      case _ => logEnd
    }
    KafkaLiteOffset(capped)
  }

  override def reportLatestOffset(): Offset =
    KafkaLiteOffset(metas.map(m => m.partition -> client.latestOffset(topic, m.partition)).toMap)

  override def deserializeOffset(json: String): Offset = KafkaLiteOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KafkaLiteOffset].offsets
    val e = end.asInstanceOf[KafkaLiteOffset].offsets
    metas.flatMap { m =>
      val from = startOf(s, m.partition) // new partition → earliest, same as latestOffset
      val until = e.getOrElse(m.partition, from)
      if (until > from)
        Some(KafkaLitePartition(topic, m.partition, m.leaderHost, m.leaderPort,
          from, until, saslUser, saslPass, saslMechanism))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new KafkaLiteReaderFactory

  override def commit(end: Offset): Unit = () // broker retains; checkpoint owns progress

  override def stop(): Unit = synchronized {
    if (clientVar != null) { clientVar.close(); clientVar = null }
  }
}

private[sources] case class KafkaLitePartition(
    topic: String, partition: Int, host: String, port: Int,
    startOffset: Long, endOffset: Long,
    saslUser: Option[String] = None, saslPass: Option[String] = None,
    saslMechanism: String = "PLAIN") extends InputPartition {
  // the generated case-class toString would print the credential into any
  // task-failure message or debug log that stringifies the partition —
  // redact it the way the stock connector redacts jaas configs
  override def toString: String =
    s"KafkaLitePartition($topic,$partition,$host,$port,$startOffset," +
      s"$endOffset,$saslUser,${saslPass.map(_ => "***")},$saslMechanism)"
}

private[sources] class KafkaLiteReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KafkaLitePartitionReader(partition.asInstanceOf[KafkaLitePartition])
}

/** Executor-side reader: fetch loop over [startOffset, endOffset). The
  * range was planned against an observed high watermark, so the data
  * exists; an empty fetch inside the range (broker mid-restart) retries
  * until `fetchDeadlineMs` then fails the task — Spark's task retry
  * replays the same range, preserving exactly-once. A fetch whose first
  * batch is cut at the current `maxBytes` decodes to nothing (the decoder
  * drops a cut final batch; KIP-74 brokers return the first batch whole,
  * but the reader does not rely on it); the reader doubles `maxBytes`
  * up to `MaxFetchBytes` and refetches, so one oversized record costs a
  * few extra round trips instead of wedging the stream at that offset
  * forever (the task-retry loop would otherwise replay the identical
  * too-small fetch).
  */
private[sources] class KafkaLitePartitionReader(p: KafkaLitePartition,
    fetchDeadlineMs: Long = 60000L) extends PartitionReader[InternalRow] {

  /** Hard ceiling for the adaptive fetch size — the shared
    * [[KafkaWire.MaxRecordBytes]] contract, a full MiB BELOW the client's
    * 64 MiB response-size fence, because the fence bounds the whole
    * RESPONSE (record batches + topic/partition headers + correlation id),
    * not just the batches. With the two equal, a grown `maxBytes` against a
    * deep backlog filled the entire response budget with records and
    * the framing overhead tipped the response over the fence —
    * `response size out of bounds` on every task retry, a permanent
    * wedge. A record bigger than this ceiling is rejected at PRODUCE
    * time ([[KafkaLiteClient.produce]]); one already in a foreign log is
    * malformed by contract and fails the task with a sized error.
    */
  private val MaxFetchBytes = KafkaWire.MaxRecordBytes

  private val DefaultFetchBytes = 4 * 1024 * 1024
  private val client = new KafkaLiteClient(p.host, p.port,
    saslUser = p.saslUser, saslPass = p.saslPass, saslMechanism = p.saslMechanism)
  private var cur = p.startOffset
  private var maxBytes = DefaultFetchBytes
  private var queue: Iterator[KafkaWire.Record] = Iterator.empty
  private var record: KafkaWire.Record = _

  override def next(): Boolean = {
    while (!queue.hasNext && cur < p.endOffset) {
      val deadline = System.currentTimeMillis() + fetchDeadlineMs
      var got: Seq[KafkaWire.Record] = Seq.empty
      var drained = false
      while (got.isEmpty && !drained) {
        val (raw, hw) = client.fetch(p.topic, p.partition, cur, maxBytes = maxBytes)
        got = raw.filter(r => r.offset >= cur && r.offset < p.endOffset)
        // a compacted log can skip every offset left in the range: the
        // broker then answers with records past endOffset only — done
        if (got.isEmpty && raw.nonEmpty && raw.forall(_.offset >= p.endOffset)) {
          cur = p.endOffset
          drained = true
        }
        // data exists at cur (hw says so) but nothing decoded: the next
        // record is bigger than maxBytes — grow and refetch
        if (got.isEmpty && !drained && raw.isEmpty && hw > cur) {
          if (maxBytes >= MaxFetchBytes)
            throw new java.io.IOException(
              s"kafka-lite: record at ${p.topic}/${p.partition}:$cur exceeds " +
                s"the $MaxFetchBytes-byte fetch ceiling")
          maxBytes = math.min(maxBytes * 2, MaxFetchBytes)
        }
        if (got.isEmpty && !drained && System.currentTimeMillis() > deadline)
          throw new java.io.IOException(
            s"kafka-lite: no data for ${p.topic}/${p.partition} at $cur within ${fetchDeadlineMs}ms")
        // SIZE-ADAPTIVE budget: after any delivery, request ~2× the bytes
        // the broker just returned (clamped to [default, ceiling]). This
        // replaces two worse policies: STICKY growth (stay at the grown
        // size forever — rides the response fence and over-reads on
        // partitions that needed one big fetch) and HARD reset to the
        // 4 MiB default (a partition of uniformly-large records then pays
        // a truncated-empty probe + regrow round trip for EVERY fetch,
        // doubling RPCs). Tracking delivered size converges to one RPC
        // per fetch in both regimes.
        // budget from the KEPT records only: sizing on the raw set would
        // count records at/past endOffset the filter discards, inflating
        // the next request for data this reader will never consume
        if (got.nonEmpty) {
          val setBytes = got.iterator.map { r =>
            (if (r.key == null) 0 else r.key.length) +
              (if (r.value == null) 0 else r.value.length) +
              KafkaWire.RecordOverheadBytes
          }.sum
          maxBytes = math.max(DefaultFetchBytes,
            math.min(MaxFetchBytes, 2 * setBytes))
        }
      }
      queue = got.iterator
    }
    if (queue.hasNext) {
      record = queue.next()
      cur = record.offset + 1
      true
    } else false
  }

  override def get(): InternalRow = new GenericInternalRow(Array[Any](
    record.key, record.value, UTF8String.fromString(p.topic), p.partition, record.offset))

  override def close(): Unit = client.close()
}
