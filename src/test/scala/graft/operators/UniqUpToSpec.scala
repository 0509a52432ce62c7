package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** uniqUpTo invariants: the answer must equal LEAST(count(DISTINCT x),
  * N+1) for EVERY partitioning (each exercises a different merge tree),
  * nulls must be skipped like SQL count(DISTINCT), and both frontends
  * (Column, SQL aggregate) must agree.
  */
class UniqUpToSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(values: Seq[String], n: Int, parts: Int): Long =
    values.toDF("v").repartition(parts)
      .agg(UniqUpTo.column(col("v"), n).as("u"))
      .as[Long].head()

  test("exact below the cap, sentinel above, for any partitioning") {
    val values = (0 until 400).map(i => s"v${i % 37}") // 37 distinct
    for (parts <- Seq(1, 3, 8, 32)) {
      assert(run(values, n = 37, parts) === 37L, s"at-cap parts=$parts")
      assert(run(values, n = 40, parts) === 37L, s"below-cap parts=$parts")
      assert(run(values, n = 36, parts) === 37L, s"one-over parts=$parts")
      assert(run(values, n = 10, parts) === 11L, s"saturated parts=$parts")
      assert(run(values, n = 1, parts) === 2L, s"n=1 parts=$parts")
    }
  }

  test("nulls are skipped; all-null and empty groups count 0") {
    val withNulls = Seq("a", null, "b", null, "a").toDF("v")
    assert(withNulls.agg(UniqUpTo.column(col("v"), 5)).as[Long].head() === 2L)
    assert(Seq.empty[String].toDF("v")
      .agg(UniqUpTo.column(col("v"), 5)).as[Long].head() === 0L)
    assert(Seq[String](null, null).toDF("v")
      .agg(UniqUpTo.column(col("v"), 5)).as[Long].head() === 0L)
  }

  test("randomized: Column and SQL forms both equal least(distinct, n+1) per key") {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 3000).map { _ =>
      (s"k${rnd.nextInt(7)}", rnd.nextInt(1 + rnd.nextInt(60)))
    }
    val df = rows.toDF("k", "x").repartition(11)
    for (n <- Seq(3, 20, 64)) {
      val exact = rows.groupBy(_._1).map { case (k, xs) =>
        k -> math.min(xs.map(_._2).distinct.size, n + 1).toLong }
      val viaColumn = df.groupBy($"k")
        .agg(UniqUpTo.column($"x", n).as("u"))
        .as[(String, Long)].collect().toMap
      df.createOrReplaceTempView("uniq_upto_rand")
      val viaSql = spark.sql(
          s"SELECT k, graft_uniq_upto(x, $n) AS u FROM uniq_upto_rand GROUP BY k")
        .as[(String, Long)].collect().toMap
      assert(viaColumn === exact, s"Column form n=$n")
      assert(viaSql === exact, s"SQL form n=$n")
    }
  }

  test("streaming: the capped set aggregates incrementally across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(5)
    val batches = (0 until 3).map { _ =>
      (0 until 300).map(_ => (s"k${rnd.nextInt(3)}", s"i${rnd.nextInt(25)}"))
    }
    val stream = MemoryStream[(String, String)]
    val cap = 18
    val agg = stream.toDS()
      .groupByKey(_._1)
      .agg(new UniqUpTo.UniqUpToValue(cap).toColumn.name("u"))
    val q = agg.writeStream.format("memory")
      .queryName("uniq_upto_stream_test").outputMode("update").start()
    try {
      batches.foreach { b => stream.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val exact = batches.flatten.groupBy(_._1).map { case (k, xs) =>
      k -> math.min(xs.map(_._2).distinct.size, cap + 1).toLong }
    // max_by on an insertion ordinal, not last(): the memory sink appends
    // each batch as later partitions, so the max ordinal per key is the
    // final (whole-history) update deterministically
    val got = spark.table("uniq_upto_stream_test")
      .toDF("key", "u")
      .withColumn("ord", monotonically_increasing_id())
      .groupBy("key").agg(max_by(col("u"), col("ord")).as("u"))
      .as[(String, Long)].collect().toMap
    assert(got === exact)
  }

  test("streaming: a key reports exact counts below the cap, then the " +
    "sentinel once a later micro-batch saturates it") {
    // the six-leg symmetry check (r10 verdict item 5): every other
    // mergeable-summary leg pins its micro-batch PROGRESSION, not just
    // the final state — here the per-batch update must read the exact
    // distinct count while under the cap and the N+1 sentinel after
    // the crossing, proving the capped witness set survives state-store
    // round-trips mid-regime as well as at the end
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val cap = 8
    val b1 = (0 until 5).map(i => ("k", s"a$i"))   // 5 distinct: exact
    val b2 = (0 until 10).map(i => ("k", s"b$i"))  // 15 total: saturated
    val stream = MemoryStream[(String, String)]
    val agg = stream.toDS()
      .groupByKey(_._1)
      .agg(new UniqUpTo.UniqUpToValue(cap).toColumn.name("u"))
    val q = agg.writeStream.format("memory")
      .queryName("uniq_upto_transition_test").outputMode("update").start()
    def latest(): Long = spark.table("uniq_upto_transition_test")
      .toDF("key", "u")
      .withColumn("ord", monotonically_increasing_id())
      .orderBy(col("ord").desc).limit(1)
      .as[(String, Long, Long)].collect().head._2
    try {
      stream.addData(b1: _*); q.processAllAvailable()
      assert(latest() == 5L, "below the cap the count is exact")
      stream.addData(b2: _*); q.processAllAvailable()
      assert(latest() == (cap + 1).toLong,
        "crossing the cap in a later batch yields the N+1 sentinel")
    } finally q.stop()
  }

  test("parameter validation: cap must be positive, SQL cap must be a literal") {
    intercept[IllegalArgumentException] { new UniqUpTo.UniqUpToAgg(0) }
    Seq("a").toDF("v").createOrReplaceTempView("uniq_upto_badlit")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_uniq_upto(v, length(v)) FROM uniq_upto_badlit")
        .collect()
    }
    assert(e.getMessage.contains("graft_uniq_upto"))
  }
}
