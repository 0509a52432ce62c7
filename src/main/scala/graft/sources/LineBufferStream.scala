package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Driver-buffered line source (syslog, filebuf): listener threads append
  * lines, micro-batches are offset ranges over the absolute line index,
  * committed prefixes are dropped from the buffer. All listeners of one
  * stream feed one buffer, so one server is one source with one offset
  * space. Delivery is at-most-once (driver buffer is volatile) — exactly
  * the reference's syslog contract
  * (`/root/reference/README.md:545`; its channel buffer is equally
  * volatile). For at-least-once, front the stream with Kafka.
  */
private[sources] case class LineOffset(index: Long) extends Offset {
  override def json(): String = index.toString
}

object LineBufferMicroBatchStream {
  /** One `value: String` column, the shape of the text/kafka sources. */
  val Schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** Starts a transport that calls `append` once per received line;
    * closing the result tears the transport down.
    */
  type Listener = (String => Unit) => AutoCloseable
}

private[sources] class LineBufferMicroBatchStream(
    listeners: Seq[LineBufferMicroBatchStream.Listener]) extends MicroBatchStream {

  private val lock = new Object
  private var baseIndex = 0L
  // committed lines leave from the front without shifting the backlog
  private val buffer = mutable.ArrayDeque.empty[String]
  private val started = new AtomicBoolean(false)
  @volatile private var running = List.empty[AutoCloseable]

  // listeners start one by one, so a failing one leaves the earlier ones
  // in `running` for stop() to close
  private def ensureStarted(): Unit =
    if (started.compareAndSet(false, true)) {
      val append: String => Unit = line => lock.synchronized { buffer += line }
      listeners.foreach(l => running ::= l(append))
    }

  override def initialOffset(): Offset = LineOffset(0L)

  override def latestOffset(): Offset = {
    ensureStarted()
    lock.synchronized(LineOffset(baseIndex + buffer.size))
  }

  override def deserializeOffset(json: String): Offset =
    LineOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LineOffset].index
    val e = end.asInstanceOf[LineOffset].index
    val slice = lock.synchronized {
      val from = math.max(0L, s - baseIndex).toInt
      val until = math.min(buffer.size.toLong, math.max(0L, e - baseIndex)).toInt
      buffer.slice(from, until).toArray
    }
    Array(LineSlicePartition(slice))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LineSliceReaderFactory

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[LineOffset].index
    lock.synchronized {
      val drop = math.min(buffer.size.toLong, math.max(0L, e - baseIndex)).toInt
      buffer.dropInPlace(drop)
      baseIndex += drop
    }
  }

  override def stop(): Unit =
    running.foreach(c => try c.close() catch { case _: Throwable => () })
}

/** A DSv2 format over [[LineBufferMicroBatchStream]]: `listeners` reads the
  * query's options when it starts and throws on a missing or bad one.
  */
private[sources] abstract class LineBufferSourceProvider(
    format: String,
    listeners: CaseInsensitiveStringMap => Seq[LineBufferMicroBatchStream.Listener])
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = format
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LineBufferMicroBatchStream.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new Table with SupportsRead {
      override def name(): String = format
      override def schema(): StructType = LineBufferMicroBatchStream.Schema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        new ScanBuilder with Scan {
          private val ls = listeners(options)
          override def build(): Scan = this
          override def readSchema(): StructType = LineBufferMicroBatchStream.Schema
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            new LineBufferMicroBatchStream(ls)
        }
    }
}

/** A batch's lines as they ship to the task: one UTF-8 blob, line `i`
  * being bytes `offsets(i) until offsets(i + 1)`. One array serializes in
  * one copy, where an array of strings serializes string by string.
  */
private[sources] final class LineSlicePartition(val blob: Array[Byte], val offsets: Array[Int])
    extends InputPartition

private[sources] object LineSlicePartition {
  def apply(lines: Array[String]): LineSlicePartition = {
    val bytes = lines.map(_.getBytes(UTF_8))
    val offsets = bytes.scanLeft(0)((at, b) => Math.addExact(at, b.length))
    val blob = new Array[Byte](offsets.last)
    bytes.indices.foreach(i => System.arraycopy(bytes(i), 0, blob, offsets(i), bytes(i).length))
    new LineSlicePartition(blob, offsets)
  }
}

private[sources] class LineSliceReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val p = partition.asInstanceOf[LineSlicePartition]
      private var i = -1
      override def next(): Boolean = { i += 1; i < p.offsets.length - 1 }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](
        UTF8String.fromBytes(p.blob, p.offsets(i), p.offsets(i + 1) - p.offsets(i))))
      override def close(): Unit = ()
    }
}
