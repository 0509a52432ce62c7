package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measuring step shared by Bench and `Dev time`: a
  * catalog entry is timed over a `noop` write, so every projected column
  * is evaluated (a `count()` lets Catalyst prune the projection and times
  * a different query), and every run is followed by [[settle]].
  */
object Measure {

  case class Stat(median: Double, min: Double, max: Double)

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

  /** `reps` timed runs of catalog entry `name` (DataFrame build
    * included). The MEDIAN is the figure, with min/max carried alongside
    * so a delta is attributable: the first rep at a new data size pays
    * JIT/codegen once, and the median discounts it without hiding a
    * genuinely bimodal query the way min-of-N would. Failed reps are
    * logged and dropped; all failing reads -1.
    */
  def entry(spark: SparkSession, name: String, dir: String, reps: Int,
      tag: String): Stat = {
    val times = (1 to reps).flatMap { _ =>
      try Some(once(spark)(noop(SparkEntry.queries(name)(spark, dir))))
      catch { case e: Throwable =>
        System.err.println(s"[$tag] $name FAILED: $e"); None
      }
    }
    if (times.isEmpty) Stat(-1.0, -1.0, -1.0)
    else {
      val s = times.sorted
      // true median: with an even count (a rep failed) average the
      // middle two — s(n/2) alone would report the MAX of 2 survivors
      // and turn one flaky rep into a phantom regression
      val med =
        if (s.length % 2 == 1) s(s.length / 2)
        else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
      Stat(med, s.head, s.last)
    }
  }
}
