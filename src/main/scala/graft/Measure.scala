package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measuring step shared by Bench and `Dev time`: a
  * catalog entry is timed over a `noop` write, so every projected column
  * is evaluated (a `count()` lets Catalyst prune the projection and times
  * a different query), and every run is followed by [[settle]].
  */
object Measure {

  /** Seconds over the timed reps, and the median seconds of their
    * DataFrame builds.
    */
  case class Stat(median: Double, min: Double, max: Double, build: Double)

  /** Local property carried by every job started while an entry's
    * DataFrame is built ([[build]]).
    */
  private val BuildProperty = "graft.measure.build"

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Releases what a run left behind: cached RDDs (e.g. minhash shingle
    * sets) unpersisted BLOCKING, so a previous query's resident blocks
    * can't poison the next measurement with memory pressure, then a GC.
    * The GC runs after EVERY run: driver garbage (union-find edge
    * arrays, broadcast values) otherwise accumulates and ContextCleaner —
    * which only reclaims broadcasts / shuffle files when their handles
    * get GC'd — never runs (measured on d15: reps degrade
    * 3.9→7.0→13.0 s without it, flat 3.1–3.6 s with it).
    */
  def settle(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Seconds `work` took; [[settle]] runs afterwards, also on failure. */
  def once(spark: SparkSession)(work: => Unit): Double = {
    val t0 = System.nanoTime()
    try { work; (System.nanoTime() - t0) / 1e9 }
    finally settle(spark)
  }

  /** JVM/codegen warm-up: each named entry once over the smallest SF, so
    * later timings are steady-state; failures are logged.
    */
  def warm(spark: SparkSession, names: Seq[String], tag: String): Unit = {
    names.foreach { n =>
      val t0 = System.nanoTime()
      try noop(SparkEntry.queries(n)(spark, "/root/testdata/sf0.001"))
      catch { case e: Throwable => System.err.println(s"[$tag] warmup $n FAILED: $e") }
      System.err.println(f"[$tag] warmup $n ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    settle(spark)
  }

  /** Catalog entry `name`'s DataFrame. Every job the build starts, eager
    * pulls included, carries [[BuildProperty]].
    */
  def build(spark: SparkSession, name: String, dir: String): DataFrame = {
    val sc = spark.sparkContext
    sc.setLocalProperty(BuildProperty, name)
    try SparkEntry.queries(name)(spark, dir) finally sc.setLocalProperty(BuildProperty, null)
  }

  /** `reps` timed runs of catalog entry `name` (DataFrame build
    * included). The MEDIAN is the figure, with min/max carried alongside
    * so a delta is attributable: the first rep at a new data size pays
    * JIT/codegen once, and the median discounts it without hiding a
    * genuinely bimodal query the way min-of-N would. Failed reps are
    * logged and dropped; all failing reads -1.
    */
  def entry(spark: SparkSession, name: String, dir: String, reps: Int,
      tag: String): Stat = {
    val runs = (1 to reps).flatMap { _ =>
      try {
        var built = 0.0
        val t = once(spark) {
          val t0 = System.nanoTime()
          val df = build(spark, name, dir)
          built = (System.nanoTime() - t0) / 1e9
          noop(df)
        }
        Some((t, built))
      } catch { case e: Throwable =>
        System.err.println(s"[$tag] $name FAILED: $e"); None
      }
    }
    if (runs.isEmpty) Stat(-1.0, -1.0, -1.0, -1.0)
    else {
      val s = runs.map(_._1).sorted
      Stat(median(s), s.head, s.last, median(runs.map(_._2).sorted))
    }
  }

  /** True median of sorted `s`: with an even count (a rep failed) the
    * middle two are averaged, since s(n/2) alone would report the MAX of 2
    * survivors and turn one flaky rep into a phantom regression.
    */
  private def median(s: Seq[Double]): Double =
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0

  /** Runs `body` and returns its result with the number of jobs that
    * [[build]] started meanwhile.
    */
  def buildJobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val n = new AtomicInteger
    val out = listening(spark, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(BuildProperty) != null)) n.incrementAndGet()
    })(body)
    (out, n.get)
  }

  /** Runs `body` with `listener` on the session's context, and returns once
    * the listener has seen every event of `body`: events arrive in order,
    * so once a marker job started after `body` is seen, so is all before
    * it. `listener` sees that marker job's start too.
    */
  def listening[T](spark: SparkSession, listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val marker = s"listening-marker-${java.util.UUID.randomUUID}"
    val seen = new CountDownLatch(1)
    val flush = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(flush)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      if (!seen.await(30, TimeUnit.SECONDS)) throw new AssertionError("listener events did not arrive")
      out
    } finally {
      sc.removeSparkListener(flush)
      sc.removeSparkListener(listener)
    }
  }
}
