package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, monotonic within the run. Spark's own
  * event times (job start/end, trigger timestamps, planning phases) are
  * epoch milliseconds and line up with it.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Long, trace: String, parent: Long, name: String,
    layer: String, startUs: Long, endUs: Long, attrs: Map[String, Any])

/** In-memory span store, written once at exit. Disabled, it records
  * nothing and costs one branch per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile var trace: String = "run"

  def add(name: String, layer: String, startUs: Long, endUs: Long,
      parent: Long, attrs: Map[String, Any] = Map.empty): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, trace, parent, name, layer, startUs, endUs, attrs))
      id
    }

  /** Runs `body` inside a span; the span id is passed in so children can
    * name it as their parent before it ends.
    */
  def span[T](name: String, layer: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowUs
      try body(id)
      finally spans.add(Span(id, trace, parent, name, layer, t0, Clock.nowUs, attrs))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))

  def write(path: String): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb ++= PerfBench.json.writeValueAsString(Map("id" -> s.id, "trace" -> s.trace,
        "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs))
      sb += '\n'
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Raw Spark events of the traced run: jobs, stages, per-stage task sums,
  * planning phases and streaming progress. Aggregation happens after the
  * timed window, once the listener bus has drained.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
      batchId: Option[Long], queryId: Option[String])
  final class TaskSums {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var result = 0L
    def add(o: TaskSums): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; result += o.result
    }
  }
  final case class Phases(startMs: Long, phases: Seq[(String, Long, Long)])

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageSums = mutable.HashMap.empty[Int, TaskSums]
  val plans = mutable.ArrayBuffer.empty[Phases]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds,
      props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong),
      props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stageSums.getOrElseUpdate(e.stageId, new TaskSums)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.result += m.resultSize
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.toSeq.map { case (k, v) => (k, v.startTimeMs, v.endTimeMs) }
    if (ph.nonEmpty) synchronized {
      plans += Phases(ph.map(_._2).min, ph.sortBy(_._2))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Jobs that started inside [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[Job] = synchronized {
    jobs.values.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }

  def jobsOfQuery(queryId: String): Seq[Job] = synchronized {
    jobs.values.filter(_.queryId.contains(queryId)).toSeq
  }

  def sums(js: Seq[Job]): (TaskSums, Int) = synchronized {
    val t = new TaskSums
    var stages = 0
    js.foreach { j => j.stages.foreach { s =>
      stageSums.get(s).foreach { x => t.add(x); stages += 1 }
    } }
    (t, stages)
  }

  def plansIn(fromMs: Long, toMs: Long): Seq[Phases] = synchronized {
    plans.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
  }

  def progressOf(queryId: java.util.UUID): Seq[StreamingQueryProgress] = synchronized {
    progress.filter(_.id == queryId).toSeq
  }
}

/** Live heap: heap in use right after a full collection, sampled at fixed
  * points of the timed window; the figure is the largest sample.
  */
final class HeapWatch {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
