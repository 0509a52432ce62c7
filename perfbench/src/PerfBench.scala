package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.nio.file.Files
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, SerializationFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.SparkEntry
import graft.pipeline.Ingest
import graft.queries.DataOps
import graft.streaming.StreamingIngest

/** The benchmark's engine side: one JVM per run, one workload per JVM.
  *
  *   PerfBench --workload <ingest|query_catalog>
  *     --seed N --seconds S --trace 0|1 --work DIR [workload inputs]
  *
  * It builds the session, warms the workload up, measures it for S
  * seconds, checks the outputs and writes `result.json` (and, traced,
  * `spans.jsonl`) into DIR. Only public engine entry points are called:
  * `StreamingIngest` sources and sinks, `Ingest.parseWithDeadLetter`,
  * `DataOps.ingestConfig`, `SparkEntry.queries` and `IngestApp.main`.
  */
object PerfBench {

  final class Opts(args: Array[String]) {
    private val m = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  /** What a workload reports. `metrics` are the end-to-end figures,
    * `named` the same figures under their workload-specific names,
    * `layers` the per-layer figures of a traced run.
    */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val diag = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0L
    var failed = 0L
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val work = new File(o("work")).getAbsoluteFile
    work.mkdirs()
    val trace = o("trace") == "1"
    val tracer = new Tracer(trace)
    val res = new Result
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, work)
    val rec = new Recorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      spark.streams.addListener(rec.streamListener)
    }
    val heap = new HeapWatch
    val ctx = Ctx(spark, o, work, tracer, rec, heap, res, o("seconds").toDouble, o("seed").toLong)
    try {
      o("workload") match {
        case "ingest"        => IngestWorkload.run(ctx)
        case "query_catalog" => QueryCatalog.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      // fixed-work calibration probes, recorded beside the metrics so a
      // sample taken under ambient load can be recognised
      res.diag("calib_cpu_ms") = graft.Calib.cpuProbeMs()._1
      res.diag("calib_query_ms") = graft.Calib.queryProbeMs(spark)
      res.diag("cpus") = cpus
      if (trace) tracer.write(new File(work, "spans.jsonl").getPath)
      writeResult(new File(work, "result.json"), res)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.stop()
    }
  }

  final case class Ctx(spark: SparkSession, o: Opts, work: File, tracer: Tracer,
      rec: Recorder, heap: HeapWatch, res: Result, seconds: Double, seed: Long) {
    def trace: Boolean = tracer.enabled
    /** Seconds from process start until now: the set-up time. */
    def sinceStartS: Double = {
      val start = ProcessHandle.current().info().startInstant().toScala
        .map(_.toEpochMilli)
        .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
      (System.currentTimeMillis() - start) / 1000.0
    }
    def drainBus(): Unit = if (trace) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
  }

  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Reads and writes the run's JSON files; Scala maps and sequences
    * serialise as objects and arrays, with map keys sorted.
    */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS).build()

  def writeResult(f: File, r: Result): Unit = {
    def m(x: mutable.LinkedHashMap[String, (Double, String)]) =
      x.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    json.writeValue(f, Map(
      "metrics" -> m(r.metrics), "named" -> m(r.named), "layers" -> m(r.layers),
      "checks" -> r.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "diagnostics" -> r.diag, "attempted" -> r.attempted, "failed" -> r.failed))
  }

  // ------------------------------------------------------------ helpers

  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN
    else {
      val r = (s.size - 1) * p / 100.0
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def rmrf(f: File): Unit = if (f.exists()) {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete()
  }

  /** A fresh copy of every input file, as hard links (the file source
    * deletes what it has read).
    */
  def linkAll(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().filter(_.isFile).sortBy(_.getName).foreach { f =>
      Files.createLink(new File(to, f.getName).toPath, f.toPath)
    }
  }

  def readJson(f: File): JsonNode = json.readTree(f)

  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")
  def offset(s: String): Long = if (s == null || s == "null") 0L else s.trim.toLong

  def progressOf(c: Ctx, q: StreamingQuery): Seq[StreamingQueryProgress] =
    if (c.trace) { c.drainBus(); c.rec.progressOf(q.id) }
    else q.recentProgress.toSeq

  /** Phases of one trigger in MicroBatchExecution order: those before
    * addBatch laid out from the trigger start, those after it from the end.
    */
  private val before = Seq("latestOffset" -> "sources", "getOffset" -> "sources",
    "walCommit" -> "streaming", "getBatch" -> "sources", "queryPlanning" -> "streaming")
  private val after = Seq("commitBatch" -> "streaming", "commitOffsets" -> "streaming")

  /** Trigger, phase and batch-job spans of a streaming query under `parent`,
    * with `idle` spans for the waits between triggers.
    */
  def triggerSpans(c: Ctx, q: StreamingQuery, ps: Seq[StreamingQueryProgress],
      parent: Long, fromMs: Long): Unit = if (c.trace) {
    var prevEnd = fromMs
    ps.filter(p => endMs(p) > fromMs).sortBy(startMs).foreach { p =>
      val s = startMs(p) * 1000L
      val e = endMs(p) * 1000L
      if (s > prevEnd * 1000L)
        c.tracer.add("idle", "streaming", prevEnd * 1000L, s, parent)
      prevEnd = endMs(p)
      val tid = c.tracer.add("trigger", "streaming", s, e, parent,
        Map("batch" -> p.batchId, "rows" -> p.numInputRows))
      var t = s
      before.foreach { case (k, layer) =>
        val d = dur(p, k) * 1000L
        if (d > 0) { c.tracer.add(k, layer, t, t + d, tid); t += d }
      }
      var u = e
      after.reverse.foreach { case (k, layer) =>
        val d = dur(p, k) * 1000L
        if (d > 0) { c.tracer.add(k, layer, u - d, u, tid); u -= d }
      }
      val ab = dur(p, "addBatch") * 1000L
      if (ab > 0) {
        val abStart = math.max(t, u - ab)
        val aid = c.tracer.add("addBatch", "streaming", abStart, u, tid)
        // job times are clipped to the addBatch slot laid out above
        c.rec.jobsOfQuery(q.id.toString).filter(_.batchId.contains(p.batchId)).foreach { j =>
          val js = math.max(j.startMs * 1000L, abStart)
          val je = math.min(math.max(j.startMs, j.endMs) * 1000L, u)
          if (je > js) c.tracer.add("batch_job", "streaming", js, je, aid, Map("job" -> j.id))
        }
      }
    }
  }

  /** Count of parquet data files under `dir` and their total bytes. */
  def parquetFiles(dir: File): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(dir).filter(f => f.getName.endsWith(".parquet"))
    (fs.size, fs.map(_.length).sum)
  }
}

// ===================================================================== ingest

/** The ingest workload: two legs through the IngestApp stream path in one
  * JVM, sharing the parse/cast pipeline and its warm-up.
  *
  *   file leg    closed drains of a rotated-file backlog: `fileSource` ->
  *               `parseWithDeadLetter` -> `parquetSink`, 2 s trigger;
  *   syslog leg  open loop from a separate generator process over one TCP
  *               connection: `syslogTcpSource` -> `stripSyslogEnvelope` ->
  *               `parseWithDeadLetter` -> `parquetSink`, 1 s trigger.
  *
  * End to end, `throughput_per_s` is the file backlog's lines/s and the
  * latency percentiles are the syslog lines' due-to-commit times.
  */
object IngestWorkload {
  import PerfBench._

  def run(c: Ctx): Unit = {
    val file = new FileLeg(c)
    val syslog = new SyslogLeg(c)
    try {
      file.warm()
      syslog.warm()
      System.gc()
      c.res.metrics("setup_s") = (c.sinceStartS, "s")

      c.tracer.span("window", "bench", 0L, Map("workload" -> "ingest")) { root =>
        c.tracer.span("file_leg", "bench", root)(id => file.measure(id))
        syslog.measure(root)
      }
      c.res.metrics("live_heap_peak_mb") = (c.heap.peakMb, "MB")
      c.res.metrics("throughput_per_s") = (file.rate, "1/s")
      c.res.metrics("latency_p50_ms") = (syslog.p50, "ms")
      c.res.metrics("latency_p99_ms") = (syslog.p99, "ms")
      file.finish()
      syslog.finish()
    } finally syslog.close()
  }
}

/** Phase sums and task figures of a query's triggers, for the layer table. */
object StreamLayers {
  import PerfBench._

  def apply(c: Ctx, q: StreamingQuery, ps: Seq[StreamingQueryProgress])
      : Map[String, Double] = {
    val withRows = ps.filter(_.numInputRows > 0)
    val ids = withRows.map(_.batchId).toSet
    val jobs = c.rec.jobsOfQuery(q.id.toString).filter(_.batchId.exists(ids))
    val (t, _) = c.rec.sums(jobs)
    def total(k: String): Double = withRows.map(dur(_, k)).sum.toDouble
    val add = total("addBatch")
    Map(
      "sources.latest_offset_ms" -> total("latestOffset"),
      "sources.get_batch_ms" -> total("getBatch"),
      "streaming.add_batch_ms" -> add,
      "streaming.query_planning_ms" -> total("queryPlanning"),
      "streaming.wal_commit_ms" -> total("walCommit"),
      "streaming.commit_offsets_ms" -> total("commitOffsets"),
      "streaming.trigger_ms" -> total("triggerExecution"),
      "streaming.batches" -> withRows.size.toDouble,
      "streaming.tasks" -> t.tasks.toDouble,
      "streaming.parallelism" -> (if (add > 0) t.runMs / add else 0.0),
      "streaming.gc_s" -> t.gcMs / 1000.0,
      "streaming.task_cpu_s" -> t.cpuNs / 1e9)
  }

  def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.endsWith("_ms_p50") || k.endsWith("_max")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("parallelism") || k.endsWith("ratio") || k.endsWith("per_input_byte")) "ratio"
    else if (k.endsWith("per_s")) "1/s"
    else "count"
}

/** File leg: back-to-back closed drains of the same backlog. */
final class FileLeg(c: PerfBench.Ctx) {
  import PerfBench._

  private val master = new File(c.o("input"))
  private val exp = readJson(new File(c.o("expected")))
  private val lines = exp.get("lines").asLong
  private val share = c.o("file-share").toDouble

  final case class Drain(k: Int, t0Ms: Long, q: StreamingQuery, out: File, span: Long) {
    lazy val ps: Seq[StreamingQueryProgress] = progressOf(c, q).filter(_.numInputRows > 0)
    lazy val endMs: Long = ps.map(PerfBench.endMs).max
  }
  private val drains = mutable.ArrayBuffer.empty[Drain]
  var rate = 0.0

  private def drainOnce(dir: File): (StreamingQuery, Long) = {
    val lines = StreamingIngest.fileSource(c.spark, new File(dir, "in").getPath)
    val (good, _) = Ingest.parseWithDeadLetter(lines, DataOps.ingestConfig)
    val t0 = System.currentTimeMillis()
    val q = StreamingIngest.parquetSink(good, new File(dir, "out").getPath,
      new File(dir, "cp").getPath).start()
    q.processAllAvailable()
    q.stop()
    (q, t0)
  }

  /** Sink content vs the generator's expected values; returns misses. */
  private def check(out: File, tag: String): Seq[String] = {
    val df = c.spark.read.parquet(out.getPath)
    val agg = df.agg(count(lit(1)), sum("bytes_sent"),
      min(unix_timestamp(col("time_local"))), max(unix_timestamp(col("time_local")))).head()
    val byStatus = df.groupBy("status").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val byMonth = df.groupBy("insert_month").count().collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    val accepted = exp.get("accepted").asLong
    val expStatus = exp.get("by_status").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val expMonth = exp.get("by_month").fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val misses = mutable.ArrayBuffer.empty[String]
    def eq(what: String, got: Any, want: Any): Unit =
      if (got != want) misses += s"$tag $what: got $got, want $want"
    eq("rows", agg.getLong(0), accepted)
    eq("rejected", lines - agg.getLong(0), exp.get("rejected").asLong)
    eq("sum(bytes_sent)", agg.getLong(1), exp.get("sum_bytes_sent").asLong)
    eq("min(time_local)", agg.getLong(2), exp.get("min_time_local").asLong)
    eq("max(time_local)", agg.getLong(3), exp.get("max_time_local").asLong)
    eq("count by status", byStatus, expStatus)
    eq("count by insert_month", byMonth, expMonth)
    misses.toSeq
  }

  /** One drain of the backlog, checked like the timed ones. */
  def warm(): Unit = {
    val dir = new File(c.work, "warm")
    linkAll(master, new File(dir, "in"))
    drainOnce(dir)
    val miss = check(new File(dir, "out"), "warm-up")
    c.res.checks += (("file_warmup_sink", miss.isEmpty, miss.mkString("; ")))
    rmrf(dir)
  }

  /** Drains for `share` of the window, at least three. */
  def measure(parent: Long): Unit = {
    val w0 = System.nanoTime()
    while (drains.size < 3 || (System.nanoTime() - w0) / 1e9 < c.seconds * share) {
      val k = drains.size
      val dir = new File(c.work, s"drain$k")
      c.tracer.span("link_inputs", "bench", parent)(_ => linkAll(master, new File(dir, "in")))
      c.tracer.span("drain", "streaming", parent, Map("drain" -> k)) { id =>
        val (q, t0) = drainOnce(dir)
        drains += Drain(k, t0, q, new File(dir, "out"), id)
      }
      c.tracer.span("heap_sample", "bench", parent)(_ => c.heap.sample())
    }
    // the best drain: drains still speed up as the JIT settles, and
    // interference from the rest of the machine only slows one down
    rate = drains.map(d => lines * 1000.0 / (d.endMs - d.t0Ms)).max
  }

  /** Output checks, per-layer figures and the dead-letter check. */
  def finish(): Unit = {
    c.res.named("ingest_lines_per_s") = (rate, "lines/s")
    c.res.diag("file_drain_s") = drains.map(d => (d.endMs - d.t0Ms) / 1000.0)
    drains.foreach { d =>
      val miss = check(d.out, s"drain ${d.k}")
      c.res.attempted += lines
      if (miss.nonEmpty) c.res.failed += lines
      c.res.checks += ((s"file_drain${d.k}_sink", miss.isEmpty, miss.mkString("; ")))
    }
    if (c.trace) {
      drains.foreach(d => triggerSpans(c, d.q, d.ps, d.span, d.t0Ms))
      val per = drains.map(d => StreamLayers(c, d.q, d.ps))
      per.head.keys.foreach { k =>
        c.res.layers(s"file.$k") = (median(per.map(_(k)).toSeq), StreamLayers.unitOf(k))
      }
      val files = drains.map(d => parquetFiles(d.out))
      c.res.layers("file.streaming.sink_files") = (median(files.map(_._1.toDouble).toSeq), "count")
      c.res.layers("file.streaming.sink_bytes_per_input_byte") =
        (median(files.map(_._2.toDouble / exp.get("input_bytes").asLong).toSeq), "ratio")
      // the same backlog through the parse stage alone, into noop
      c.tracer.trace = "pipeline_probe"
      val pipeCpu = c.tracer.span("pipeline_noop", "pipeline", 0L) { _ =>
        val t0 = System.currentTimeMillis()
        val (good, _) = Ingest.parseWithDeadLetter(
          c.spark.read.text(master.getPath), DataOps.ingestConfig)
        good.write.format("noop").mode("overwrite").save()
        c.drainBus()
        c.rec.sums(c.rec.jobsIn(t0, System.currentTimeMillis()))._1.cpuNs / 1e9
      }
      c.tracer.trace = "run"
      c.res.layers("file.pipeline.cpu_s") = (pipeCpu, "s")
      c.res.layers("file.streaming.sink_cpu_s") =
        (c.res.layers("file.streaming.task_cpu_s")._1 - pipeCpu, "s")
      c.res.layers("file.pipeline.accepted_ratio") =
        (exp.get("accepted").asLong.toDouble / lines, "ratio")
    }
    drains.foreach(d => rmrf(new File(c.work, s"drain${d.k}")))
    val (ok, detail) = DeadLetter.check(c, master)
    c.res.checks += (("dead_letter_shared_clean_source", ok, detail))
  }
}

/** IngestApp `--source file --dead-letter`: the dead-letter stream is a
  * second query over the same cleanSource directory. Run untimed on a small
  * input; passes only if both queries read every line without failing.
  */
object DeadLetter {
  import PerfBench._

  def check(c: Ctx, master: File): (Boolean, String) = {
    val dir = new File(c.work, "deadletter")
    val in = new File(dir, "in")
    in.mkdirs()
    // eight larger files, each the concatenation of five backlog files, so
    // a batch takes long enough to read for the two queries to overlap
    val staged = new File(dir, "staged")
    staged.mkdirs()
    val files = master.listFiles().filter(_.isFile).sortBy(_.getName).take(40)
      .grouped(5).zipWithIndex.map { case (group, i) =>
        val f = new File(staged, f"access.log.$i%02d")
        Files.write(f.toPath, group.flatMap(g => Files.readAllBytes(g.toPath)))
        f
      }.toSeq
    val nLines = files.map(f => Files.readAllLines(f.toPath).size.toLong).sum
    val cfg = new File(dir, "ingest.yaml")
    val cols = DataOps.ingestConfig.columns.toSeq.sorted
      .map { case (k, v) => s"    $k: $v" }.mkString("\n")
    Files.write(cfg.toPath, (
      s"""nginx:
         |  log_format: '${DataOps.ingestConfig.logFormat}'
         |scheme:
         |  logs_table: access_log
         |  columns:
         |$cols
         |""".stripMargin).getBytes("UTF-8"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(x => errors.add(x.linesIterator.take(1).mkString))
    }
    c.spark.streams.addListener(listener)
    val before = c.spark.streams.active.map(_.id).toSet
    def mine = c.spark.streams.active.filterNot(q => before(q.id)).toSeq
    val app = new Thread(() =>
      try graft.cli.IngestApp.main(Array(
        "--config", cfg.getPath, "--mode", "stream", "--source", "file",
        "--input", in.getPath, "--dead-letter", new File(dir, "rejects").getPath,
        "--sink", "parquet", "--output", new File(dir, "out").getPath,
        "--checkpoint", new File(dir, "cp").getPath, "--trigger-ms", "300",
        "--master", s"local[${Runtime.getRuntime.availableProcessors()}]"))
      catch { case e: Throwable => errors.add(e.toString.linesIterator.take(1).mkString) },
      "ingest-app")
    app.setDaemon(true)
    app.start()
    // files arrive in rounds, as a rotating log would, so each trigger of
    // either query can race the other's cleanup
    files.foreach { f =>
      Files.createLink(new File(in, f.getName).toPath, f.toPath)
      Thread.sleep(250)
    }
    // done when a query fails, when both have read every line, or when
    // neither has read anything new for 1.5 s
    def reads: Seq[Long] = mine.map(_.recentProgress.map(_.numInputRows).sum).sorted
    val deadline = System.nanoTime() + 15e9.toLong
    var last = Seq.empty[Long]
    var lastChange = System.nanoTime()
    def settled: Boolean = {
      val r = reads
      if (r != last) { last = r; lastChange = System.nanoTime() }
      r.size == 2 && (r.forall(_ >= nLines) || System.nanoTime() - lastChange > 1.5e9.toLong)
    }
    while (errors.isEmpty && !settled && System.nanoTime() < deadline) Thread.sleep(100)
    val read = last
    mine.foreach(q => try q.stop() catch { case _: Throwable => () })
    app.join(10000)
    c.spark.streams.removeListener(listener)
    rmrf(dir)
    val errs = errors.asScala.toSeq.distinct
    if (errs.nonEmpty) (false, errs.mkString(" | "))
    else if (read.size == 2 && read.forall(_ >= nLines)) (true, s"both queries read all $nLines lines")
    else (false, s"lines read by the two queries: ${read.mkString(", ")} of $nLines each")
  }
}

/** Syslog leg: a separate generator process sends RFC3164 lines at a fixed
  * rate, then a burst; each line is timed from its due time until the end
  * of the trigger that committed it, read from the query's progress.
  */
final class SyslogLeg(c: PerfBench.Ctx) {
  import PerfBench._

  private val rate = c.o("rate").toDouble
  private val gen = new ProcessBuilder(c.o("python"), c.o("gen"), "syslog",
    "--seed", c.seed.toString, "--rate", c.o("rate"),
    "--steady-s", c.o("steady-s"), "--burst", c.o("burst"))
    .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  private val genOut = new BufferedReader(new InputStreamReader(gen.getInputStream, "UTF-8"))
  private val genIn = new PrintWriter(gen.getOutputStream, true)
  private val out = new File(c.work, "syslog-out")
  private var q: StreamingQuery = _
  private var g: JsonNode = _
  private var all = false
  private var ps: Seq[StreamingQueryProgress] = Nil
  private var wStartUs, wEndUs, nWarm, nSteady = 0L
  private var t0Ms, lateMax = 0.0
  var p50, p99, burstRate = 0.0

  private def expect(prefix: String): String = {
    val l = genOut.readLine()
    require(l != null && l.startsWith(prefix), s"generator said '$l', wanted '$prefix'")
    l.stripPrefix(prefix).trim
  }

  private def committed: Long =
    Option(q.lastProgress).flatMap(_.sources.headOption).map(s => offset(s.endOffset)).getOrElse(0L)

  private def waitFor(n: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (committed < n && System.nanoTime() < deadline && q.isActive) Thread.sleep(10)
    committed >= n
  }

  /** Starts the stream and drains a warm-up backlog through it. */
  def warm(): Unit = {
    val port = expect("port").toInt
    val lines = StreamingIngest.stripSyslogEnvelope(
      StreamingIngest.syslogTcpSource(c.spark, "127.0.0.1", port))
    val (good, _) = Ingest.parseWithDeadLetter(lines, DataOps.ingestConfig)
    q = StreamingIngest.parquetSink(good, out.getPath,
      new File(c.work, "syslog-cp").getPath, flushIntervalMs = 1000L).start()
    val warm = c.o("warm").toLong
    genIn.println(s"warm $warm")
    expect("warmed")
    require(waitFor(warm, 120), s"warm-up lines not committed (at $committed of $warm)")
  }

  /** The steady phase until its lines are committed, then the burst until
    * every sent line is committed.
    */
  def measure(parent: Long): Unit = {
    wStartUs = Clock.nowUs
    genIn.println("go")
    val st = json.readTree(expect("steady"))
    val steadyDone = waitFor(st.get("sent").asLong, 60)
    genIn.println("burst")
    g = json.readTree(expect("done"))
    // the burst is now buffered on the driver, or in the batch reading it
    c.heap.sample()
    all = steadyDone && waitFor(g.get("sent").asLong, 120)
    wEndUs = Clock.nowUs
    if (c.trace) c.tracer.add("syslog_leg", "bench", wStartUs, wEndUs, parent)
    ps = progressOf(c, q).filter(_.numInputRows > 0).sortBy(startMs)
    nWarm = st.get("n_warm").asLong
    nSteady = st.get("n_steady").asLong
    t0Ms = st.get("t0_ms").asDouble
    lateMax = st.get("late_ms_max").asDouble
    val lat = mutable.ArrayBuffer.empty[Double]
    var burstEnd = 0L
    ps.foreach { p =>
      val s = offset(p.sources.head.startOffset)
      val e = offset(p.sources.head.endOffset)
      val commit = endMs(p).toDouble
      var i = math.max(s, nWarm)
      while (i < math.min(e, nWarm + nSteady)) {
        lat += commit - (t0Ms + (i - nWarm) * 1000.0 / rate)
        i += 1
      }
      if (e > nWarm + nSteady) burstEnd = math.max(burstEnd, endMs(p))
    }
    p50 = pct(lat.toSeq, 50)
    p99 = pct(lat.toSeq, 99)
    burstRate = g.get("n_burst").asLong * 1000.0 / (burstEnd - g.get("burst_t0_ms").asDouble)
  }

  /** Checks: every sent line below the last committed offset, and the sink
    * holding exactly the accepted lines.
    */
  def finish(): Unit = {
    close()
    val total = g.get("sent").asLong
    c.res.named("syslog_p50_ms") = (p50, "ms")
    c.res.named("syslog_p99_ms") = (p99, "ms")
    c.res.named("syslog_burst_lines_per_s") = (burstRate, "lines/s")
    c.res.diag("generator") = Map("late_ms_max" -> lateMax, "sent" -> total,
      "steady_lines" -> nSteady, "burst_lines" -> g.get("n_burst").asLong)
    val last = ps.map(p => offset(p.sources.head.endOffset)).max
    val rows = c.spark.read.parquet(out.getPath).count()
    val accepted = g.get("accepted").asLong
    val missing = math.max(0L, total - last) + math.abs(rows - accepted)
    c.res.attempted += total - nWarm
    c.res.failed += math.min(total - nWarm, missing)
    c.res.checks += (("syslog_committed", all && last >= total,
      s"last committed offset $last of $total sent"))
    c.res.checks += (("syslog_sink", rows == accepted, s"sink rows $rows, accepted lines $accepted"))

    if (c.trace) {
      val root = c.tracer.all.find(_.name == "syslog_leg").get.id
      val winPs = ps.filter(p => offset(p.sources.head.endOffset) > nWarm)
      triggerSpans(c, q, winPs, root, wStartUs / 1000L)
      val lastEnd = winPs.map(endMs).max * 1000L
      if (wEndUs > lastEnd) c.tracer.add("commit_poll", "bench", lastEnd, wEndUs, root)
      c.tracer.trace = "generator"
      val burstT0 = (g.get("burst_t0_ms").asDouble * 1000).toLong
      c.tracer.add("send_steady", "generator", (t0Ms * 1000).toLong,
        (t0Ms * 1000 + nSteady * 1e6 / rate).toLong, 0L)
      c.tracer.add("send_burst", "generator", burstT0,
        (g.get("burst_sent_ms").asDouble * 1000).toLong, 0L)
      c.tracer.trace = "run"
      val l = StreamLayers(c, q, winPs)
      l.foreach { case (k, v) => c.res.layers(s"syslog.$k") = (v, StreamLayers.unitOf(k)) }
      val trig = winPs.map(dur(_, "triggerExecution").toDouble)
      val adds = winPs.map(dur(_, "addBatch").toDouble)
      c.res.layers("syslog.streaming.tasks_per_batch") = (l("streaming.tasks") / winPs.size, "count")
      c.res.layers("syslog.streaming.trigger_ms_p50") = (median(trig), "ms")
      c.res.layers("syslog.streaming.add_batch_ms_p50") = (median(adds), "ms")
      c.res.layers("syslog.streaming.fixed_ms_p50") =
        (median(trig.zip(adds).map { case (t, a) => t - a }), "ms")
      c.res.layers("syslog.sources.backlog_peak_lines") = (winPs.map { p =>
        (offset(p.sources.head.latestOffset) - offset(p.sources.head.startOffset)).toDouble
      }.max, "count")
      c.res.layers("syslog.burst_lines_per_s") = (burstRate, "1/s")
      c.res.layers("syslog.pipeline.accepted_ratio") = (accepted.toDouble / total, "ratio")
      c.res.layers("generator.late_ms_max") = (lateMax, "ms")
      c.res.layers("generator.sent") = (total.toDouble, "count")
    }
  }

  /** Stops the query and the generator (idempotent). */
  def close(): Unit = {
    if (q != null) try q.stop() catch { case _: Throwable => () }
    try { genIn.println("close"); genIn.close() } catch { case _: Throwable => () }
    if (!gen.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) { gen.destroy(); gen.waitFor() }
  }
}

// ============================================================== query_catalog

/** Closed loop, one client: each catalog entry's DataFrame is built and
  * written to the noop sink; the seed permutes the order in every pass.
  */
object QueryCatalog {
  import PerfBench._

  val dashboard: Seq[String] = Seq("q01_pricing_summary", "q05_region_revenue",
    "q39_topk_per_key", "q117_geohash_sql", "q122_ch_alias_battery")
  val curation: Seq[String] = Seq("d03_minhash_neardups", "t15_bigram_surprisal")
  def groupOf(n: String): String = if (dashboard.contains(n)) "dashboard" else "curation"

  /** Canonical digest of a result: columns sorted by name, rows sorted. */
  def digest(df: DataFrame): String = {
    val fields = df.schema.fields.map(_.name).zipWithIndex.sortBy(_._1)
    def render(v: Any): String = v match {
      case null => "\\N"
      case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
      case t: java.sql.Timestamp => t.toInstant.toString
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => render(k) + "=" + render(x) }.toSeq.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case other => other.toString
    }
    val rows = df.collect().map(r => fields.map { case (_, i) => render(r.get(i)) }.mkString("\u0001"))
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(fields.map { case (n, i) => n + ":" + df.schema.fields(i).dataType.simpleString }
      .mkString(",").getBytes("UTF-8"))
    rows.foreach(r => { md.update('\n'.toByte); md.update(r.getBytes("UTF-8")) })
    md.digest().map(x => f"$x%02x").mkString
  }

  def cleanup(c: Ctx): Int = {
    val left = c.spark.sparkContext.getPersistentRDDs.size
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    c.spark.catalog.clearCache()
    left
  }

  final case class Exec(name: String, pass: Int, t0Us: Long, builtUs: Long, t1Us: Long,
      ok: Boolean, cachedLeft: Int, entrySpan: Long, buildSpan: Long, execSpan: Long)

  def run(c: Ctx): Unit = {
    val dir = c.o("tables")
    val entries = dashboard ++ curation
    if (c.o.get("dump").isDefined) return dump(c, entries, dir)
    val expected = readJson(new File(c.o("digests")))

    // warm-up pass, which is also the output check of every entry: the
    // entries run concurrently, one per core, and caches are released only
    // once all of them are done
    def checkOne(n: String): (Boolean, String) = try {
      val got = digest(SparkEntry.queries(n)(c.spark, dir))
      val want = Option(expected.get(n)).map(_.asText).getOrElse("<none>")
      (got == want, s"digest $got, committed $want")
    } catch { case e: Throwable => (false, e.toString.linesIterator.take(1).mkString) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    val checked = try entries.map(n => n -> pool.submit(() => checkOne(n))).map {
      case (n, f) => (n, f.get())
    } finally pool.shutdown()
    cleanup(c)
    checked.foreach { case (n, (ok, detail)) =>
      c.res.attempted += 1
      if (!ok) c.res.failed += 1
      c.res.checks += ((s"query_catalog_output_$n", ok, detail))
    }
    System.gc()
    c.res.metrics("setup_s") = (c.sinceStartS, "s")

    val execs = mutable.ArrayBuffer.empty[Exec]
    val w0 = System.nanoTime()
    var pass = 0
    c.tracer.span("window", "bench", 0L, Map("workload" -> "query_catalog")) { root =>
      while (pass < 3 || (System.nanoTime() - w0) / 1e9 < c.seconds) {
        val order = new scala.util.Random(c.seed * 1000003L + pass).shuffle(entries)
        c.tracer.span("pass", "bench", root, Map("pass" -> pass)) { pid =>
          order.foreach { n =>
            c.tracer.span("entry", "bench", pid, Map("entry" -> n, "group" -> groupOf(n))) { eid =>
              val t0 = Clock.nowUs
              var built, t1 = 0L
              var bs, xs = 0L
              val ok = try {
                val df = c.tracer.span("build", "queries", eid) { id =>
                  bs = id; SparkEntry.queries(n)(c.spark, dir)
                }
                built = Clock.nowUs
                c.tracer.span("execute", "operators", eid) { id =>
                  xs = id; df.write.format("noop").mode("overwrite").save()
                }
                true
              } catch { case e: Throwable =>
                System.err.println(s"[perfbench] $n failed: $e"); false
              }
              t1 = Clock.nowUs
              if (built == 0L) built = t1
              // the live heap is sampled after every entry of the first
              // pass, before its caches are released
              if (pass == 0) c.tracer.span("heap_sample", "bench", eid)(_ => c.heap.sample())
              val left = c.tracer.span("cleanup", "bench", eid)(_ => cleanup(c))
              execs += Exec(n, pass, t0, built, t1, ok, left, eid, bs, xs)
            }
          }
        }
        pass += 1
      }
    }
    c.res.attempted += execs.size
    c.res.failed += execs.count(!_.ok)

    // each entry's best time over the passes (interference from the rest of
    // the machine, the previous entry or a collection only adds time), then
    // the figures over entries
    val perEntry = execs.groupBy(_.name).map { case (n, es) =>
      n -> es.map(e => (e.t1Us - e.t0Us) / 1e6).min
    }
    // the percentiles over every timed execution
    val all = execs.map(e => (e.t1Us - e.t0Us) / 1000.0).toSeq
    c.res.metrics("throughput_per_s") = (perEntry.size / perEntry.values.sum, "1/s")
    c.res.metrics("latency_p50_ms") = (pct(all, 50), "ms")
    c.res.metrics("latency_p99_ms") = (pct(all, 99), "ms")
    c.res.metrics("live_heap_peak_mb") = (c.heap.peakMb, "MB")
    c.res.named("dashboard_s") = (dashboard.map(perEntry).sum, "s")
    c.res.named("curation_s") = (curation.map(perEntry).sum, "s")
    c.res.diag("passes") = pass
    c.res.diag("entry_ms") = execs.groupBy(_.name).map { case (n, es) =>
      n -> es.sortBy(_.pass).map(e => (e.t1Us - e.t0Us) / 1000L)
    }

    if (c.trace) layers(c, execs.toSeq, pass)
  }

  /** Per-group layer figures (per pass) and the job / planning spans. */
  private def layers(c: Ctx, execs: Seq[Exec], passes: Int): Unit = {
    c.drainBus()
    val perGroup = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
    def add(g: String, k: String, v: Double): Unit = {
      val m = perGroup.getOrElseUpdate(g, mutable.HashMap.empty)
      m(k) = m.getOrElse(k, 0.0) + v
    }
    val perEntry = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    execs.foreach { e =>
      val g = groupOf(e.name)
      val (b0, b1, x1) = (e.t0Us / 1000L, e.builtUs / 1000L, e.t1Us / 1000L)
      val buildJobs = c.rec.jobsIn(b0, b1)
      val execJobs = c.rec.jobsIn(b1 + 1, x1)
      val (t, stages) = c.rec.sums(buildJobs ++ execJobs)
      val plans = c.rec.plansIn(b0, x1)
      val planMs = plans.flatMap(_.phases).map { case (_, s, en) => (en - s).toDouble }.sum
      add(g, "pass_s", (e.t1Us - e.t0Us) / 1e6)
      add(g, "queries.build_s", (e.builtUs - e.t0Us) / 1e6)
      add(g, "queries.build_jobs", buildJobs.size)
      add(g, "plans.plan_ms", planMs)
      add(g, "operators.exec_s", (e.t1Us - e.builtUs) / 1e6)
      add(g, "operators.jobs", (buildJobs ++ execJobs).size)
      add(g, "operators.stages", stages)
      add(g, "operators.tasks", t.tasks)
      add(g, "operators.run_s", t.runMs / 1000.0)
      add(g, "operators.cpu_s", t.cpuNs / 1e9)
      add(g, "operators.gc_s", t.gcMs / 1000.0)
      add(g, "operators.shuffle_write_mb", t.shuffleWrite / 1048576.0)
      add(g, "operators.shuffle_read_mb", t.shuffleRead / 1048576.0)
      add(g, "operators.spill_mb", t.spill / 1048576.0)
      add(g, "operators.result_mb", t.result / 1048576.0)
      add(g, "operators.cached_rdds_left", e.cachedLeft)
      perEntry.getOrElseUpdate(e.name, mutable.ArrayBuffer.empty) += (e.t1Us - e.t0Us) / 1e6
      // spans: eager build jobs under build, the rest under execute;
      // planning phases under whichever call they ran in
      def jobSpan(j: c.rec.Job, parent: Long): Unit =
        c.tracer.add("job", "operators", j.startMs * 1000L,
          math.max(j.startMs, j.endMs) * 1000L, parent, Map("job" -> j.id))
      buildJobs.foreach(jobSpan(_, e.buildSpan))
      execJobs.foreach(jobSpan(_, e.execSpan))
      plans.foreach { p =>
        val parent = if (p.startMs <= b1) e.buildSpan else e.execSpan
        p.phases.foreach { case (k, s, en) => c.tracer.add(k, "plans", s * 1000L, en * 1000L, parent) }
      }
    }
    for ((g, m) <- perGroup; (k, v) <- m) {
      val unit = if (k.endsWith("_mb")) "MB" else StreamLayers.unitOf(k)
      c.res.layers(s"$g.$k") = (v / passes, unit)
    }
    for (g <- Seq("dashboard", "curation")) {
      val m = perGroup.getOrElse(g, mutable.HashMap.empty[String, Double])
      val wall = m.getOrElse("pass_s", 0.0)
      c.res.layers(s"$g.operators.parallelism") =
        (if (wall > 0) m.getOrElse("operators.run_s", 0.0) / wall else 0.0, "ratio")
    }
    perEntry.foreach { case (n, xs) => c.res.layers(s"entry.${n}_s") = (median(xs.toSeq), "s") }
  }

  /** Writes each entry's output as parquet plus its digest and oracle SQL,
    * for refreshing the committed digests against the DuckDB oracle.
    */
  private def dump(c: Ctx, entries: Seq[String], dir: String): Unit = {
    val out = new File(c.o("dump"))
    val digests = entries.map { n =>
      val df = SparkEntry.queries(n)(c.spark, dir)
      df.write.mode("overwrite").parquet(new File(out, n).getPath)
      val d = digest(df)
      cleanup(c)
      n -> d
    }.toMap
    json.writeValue(new File(out, "digests.json"), digests)
    json.writeValue(new File(out, "oracle_sql.json"),
      SparkEntry.oracleSql.filter { case (n, _) => entries.contains(n) })
  }
}
