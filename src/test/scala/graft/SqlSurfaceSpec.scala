package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{DedupProjectParse, TopKPerKey, TopKPerKeyRewrite, TopKPerKeyStrategy}

/** A session's SQL surface is fixed before its first query: a session
  * from [[GraftSession]] has the engine's functions and rules, and a
  * catalog entry builds with them in any session, whichever entry ran
  * first.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  test("a bare session's first entry plans onto the top-k-per-key operator") {
    val bare = TestSpark.spark.newSession()
    val df = SparkEntry.queries("q09_window_rank")(bare, sfDir)
    assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[TopKPerKey]),
      df.queryExecution.optimizedPlan.toString)
  }

  test("a session from GraftSession resolves graft SQL functions before any entry ran") {
    val bare = TestSpark.spark.newSession()
    val query = "SELECT graft_topk(CAST(id % 3 AS STRING), 2) FROM range(10)"
    intercept[AnalysisException](bare.sql(query))
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(bare)
    try {
      val spark = GraftSession.getOrCreate("graft-surface", s"local[${TestSpark.cpus}]")
      assert(spark eq bare)
      assert(spark.sql(query).collect().length == 1)
    } finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  test("entries built at once on a bare session add each rule once, in order") {
    val bare = TestSpark.spark.newSession()
    val names = Seq("q39_topk_per_key", "q117_geohash_sql")
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val start = new CountDownLatch(1)
      val builds = (0 until 8).map { i =>
        Future {
          start.await()
          SparkEntry.queries(names(i % names.size))(bare, sfDir).queryExecution.optimizedPlan
        }
      }
      start.countDown()
      Await.result(Future.sequence(builds), 5.minutes)
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    val rules = bare.experimental.extraOptimizations
      .filter(r => (r eq TopKPerKeyRewrite) || (r eq DedupProjectParse))
    assert(rules == Seq(TopKPerKeyRewrite, DedupProjectParse))
    assert(bare.experimental.extraStrategies.count(_ eq TopKPerKeyStrategy) == 1)
  }
}
