package graft

import org.apache.spark.sql.SparkSession

/** The fixed-work calibration probes — ONE definition shared by Bench
  * (which stamps them into every `BENCH_r{N}.json`) and `Dev calib` (the
  * out-of-bench box-state check), so the two are comparable by
  * construction: the probes exist precisely so an isolated `Dev time` /
  * `Dev parse-rate` re-measurement can be framed against the bench's
  * load state, and two hand-synced copies would silently desynchronize
  * that comparison on the next tweak.
  *
  *   - `cpuProbeMs`   — single-threaded splitmix64 mixing loop (3e8
  *     rounds), pure ALU, zero allocation: raw per-core CPU
  *     availability under current load.
  *   - `queryProbeMs` — constant `spark.range(2^22)` xxhash64
  *     aggregate: no input data, independent of SF — Spark task
  *     dispatch + codegen + scheduling overhead.
  *
  * Both median-of-3, consistent with every Bench measurement.
  */
object Calib {

  def medianOf3Ms(work: => Unit): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); work; (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(1)
  }

  /** (median ms, blackhole value — print it so the JIT can't elide). */
  def cpuProbeMs(): (Double, Long) = {
    var sink = 0L
    val ms = medianOf3Ms {
      var x = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 300000000) {
        x ^= x >>> 30; x *= 0xbf58476d1ce4e5b9L
        x ^= x >>> 27; x *= 0x94d049bb133111ebL
        x ^= x >>> 31
        i += 1
      }
      sink ^= x
    }
    (ms, sink)
  }

  def queryProbeMs(spark: SparkSession): Double = medianOf3Ms {
    spark.range(1L << 22).selectExpr("xxhash64(id) AS h")
      .agg(org.apache.spark.sql.functions.sum("h"))
      .write.format("noop").mode("overwrite").save()
  }
}
