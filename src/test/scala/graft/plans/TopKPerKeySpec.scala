package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The top-k-per-key rewrite: fires on exactly the
  * `filter(row_number <= k)` idiom, produces the same rows as the stock
  * window plan, and declines on every shape where it would be wrong.
  */
class TopKPerKeySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def data = {
    val rnd = new scala.util.Random(7)
    (1 to 2000).map(i => (i % 13, rnd.nextInt(100000), i)).toDF("key", "score", "uid")
  }

  private def topkDf(k: Int) = {
    val w = Window.partitionBy($"key").orderBy($"score".desc, $"uid")
    data.withColumn("rn", row_number().over(w)).where($"rn" <= k)
  }

  test("rewrite fires and the heap operator matches the window semantics exactly") {
    val df = topkDf(5)
    assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]),
      df.queryExecution.optimizedPlan.toString)
    // physical: partial heap below the exchange, final heap above; the
    // stock WindowGroupLimit+Sort pipeline is fully displaced
    val planStr = df.queryExecution.executedPlan.toString
    assert("TopKPerKey \\[".r.findAllIn(planStr).length == 2, planStr)
    assert(!planStr.contains("WindowGroupLimit") && !planStr.contains("Sort "), planStr)
    val got = df.select("key", "score", "uid", "rn")
      .as[(Int, Int, Int, Int)].collect().sortBy(r => (r._1, r._4))
    // expected from first principles (Scala groupBy + sort)
    val expected = data.as[(Int, Int, Int)].collect()
      .groupBy(_._1).toSeq.flatMap { case (k0, rows) =>
        rows.sortBy(r => (-r._2, r._3)).take(5).zipWithIndex
          .map { case ((key, sc, uid), i) => (key, sc, uid, i + 1) }
      }.sortBy(r => (r._1, r._4))
    assert(got.toSeq == expected)
  }

  test("strict less-than bound rewrites with k-1") {
    val w = Window.partitionBy($"key").orderBy($"score".desc, $"uid")
    val df = data.withColumn("rn", row_number().over(w)).where($"rn" < 4)
    val node = df.queryExecution.optimizedPlan.collectFirst { case t: TopKPerKey => t }
    assert(node.exists(_.k == 3))
    assert(df.groupBy("key").count().select(max("count")).as[Long].head() == 3L)
  }

  test("rewrite declines: rank(), global window, non-literal bound, huge k") {
    val w = Window.partitionBy($"key").orderBy($"score".desc, $"uid")
    val byRank = data.withColumn("rn", rank().over(w)).where($"rn" <= 5)
    assert(!byRank.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]))
    val global = data.withColumn("rn",
      row_number().over(Window.orderBy($"score".desc, $"uid"))).where($"rn" <= 5)
    assert(!global.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]))
    val nonLit = data.withColumn("rn", row_number().over(w)).where($"rn" <= $"key")
    assert(!nonLit.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]))
    val huge = data.withColumn("rn", row_number().over(w))
      .where($"rn" <= TopKPerKey.MaxK + 1)
    assert(!huge.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]))
    // and the declined plans still answer correctly via the stock window
    assert(byRank.count() >= 5 * 13)
  }

  test("rn === 1 rewrites as top-1 (the argmax idiom)") {
    val w = Window.partitionBy($"key").orderBy($"score".desc, $"uid")
    val df = data.withColumn("rn", row_number().over(w)).where($"rn" === 1)
    val node = df.queryExecution.optimizedPlan.collectFirst { case t: TopKPerKey => t }
    assert(node.exists(_.k == 1), df.queryExecution.optimizedPlan.toString)
    val got = df.select("key", "score", "uid").as[(Int, Int, Int)]
      .collect().sortBy(_._1)
    val expected = data.as[(Int, Int, Int)].collect()
      .groupBy(_._1).toSeq.map { case (_, rows) => rows.minBy(r => (-r._2, r._3)) }
      .sortBy(_._1)
    assert(got.toSeq == expected)
    // rn === c for c != 1 is NOT a top-k — must decline
    val eq3 = data.withColumn("rn", row_number().over(w)).where($"rn" === 3)
    assert(!eq3.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]))
  }

  test("partial-phase key cap degrades to pass-through, result unchanged") {
    // key cardinality >> cap: with k=2 and MaxPartialRows=16, each map
    // partition tracks only 8 keys and passes the rest through unthinned;
    // the final phase must still produce the exact top-k per key
    val wide = (1 to 5000).map(i => (i % 997, (i * 2654435761L % 100000).toInt, i))
      .toDF("key", "score", "uid").repartition(8)
    val w = Window.partitionBy($"key").orderBy($"score".desc, $"uid")
    val prev = TopKPerKey.MaxPartialRows
    try {
      TopKPerKey.MaxPartialRows = 16L
      val df = wide.withColumn("rn", row_number().over(w)).where($"rn" <= 2)
      assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]))
      val got = df.select("key", "score", "uid", "rn")
        .as[(Int, Int, Int, Int)].collect().sortBy(r => (r._1, r._4))
      val expected = wide.as[(Int, Int, Int)].collect()
        .groupBy(_._1).toSeq.flatMap { case (k0, rows) =>
          rows.sortBy(r => (-r._2, r._3)).take(2).zipWithIndex
            .map { case ((key, sc, uid), i) => (key, sc, uid, i + 1) }
        }.sortBy(r => (r._1, r._4))
      assert(got.toSeq == expected)
    } finally TopKPerKey.MaxPartialRows = prev
  }

  test("downstream operators resolve against the emitted row_number") {
    val agg = topkDf(3).groupBy($"key")
      .agg(sum($"rn").as("rn_sum"), count(lit(1)).as("n"))
      .as[(Int, Long, Long)].collect()
    assert(agg.forall { case (_, rnSum, n) => n == 3 && rnSum == 6 })
  }
}
