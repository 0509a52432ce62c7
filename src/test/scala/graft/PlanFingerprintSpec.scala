package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fingerprint contract: stable across rebuilds and across data
  * LOCATION (paths are volatile), changed by plan STRUCTURE (a new
  * filter, a different aggregate) — otherwise the round-over-round
  * "hash unchanged ⇒ no plan mechanism" rule would be vacuous.
  */
class PlanFingerprintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeTiny(dir: String): Unit =
    spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")

  private lazy val (dirA, dirB) = {
    val a = java.nio.file.Files.createTempDirectory("graft_fp_a").toString
    val b = java.nio.file.Files.createTempDirectory("graft_fp_b").toString
    writeTiny(a); writeTiny(b)
    (a, b)
  }

  private def agg(dir: String) =
    spark.read.parquet(s"$dir/t.parquet")
      .groupBy("k").agg(sum("id").as("s"))

  test("same query built twice hashes identically (expr ids stripped)") {
    assert(PlanFingerprint.fingerprint(agg(dirA))._1 ==
      PlanFingerprint.fingerprint(agg(dirA))._1)
  }

  test("same query over a different directory hashes identically") {
    assert(PlanFingerprint.fingerprint(agg(dirA))._1 ==
      PlanFingerprint.fingerprint(agg(dirB))._1)
  }

  test("a structural change (added filter) changes the hash") {
    assert(PlanFingerprint.fingerprint(agg(dirA))._1 !=
      PlanFingerprint.fingerprint(agg(dirA).where(col("s") > 10))._1)
  }

  test("node histogram sees scan, aggregate, and exchange") {
    val (_, nodes) = PlanFingerprint.fingerprint(agg(dirA))
    val keys = nodes.keySet.mkString(",")
    assert(nodes.keys.exists(_.startsWith("FileScan")), keys)
    assert(nodes.keys.exists(_.contains("HashAggregate")), keys)
  }

  test("multi-line string literals do not mint phantom operators") {
    // a literal with embedded newlines prints RAW in the plan text; its
    // continuation lines used to be counted as operator names (d24's
    // test paragraphs yielded `"Rare": 11` keys — r13 verdict hygiene)
    val df = agg(dirA).withColumn("tag",
      lit("Rare paragraph only here.\nSubscribe to our newsletter.\nAnother Line."))
    val (_, nodes) = PlanFingerprint.fingerprint(df)
    assert(!nodes.contains("Subscribe") && !nodes.contains("Another"), nodes.toString)
    assert(nodes.keys.exists(_.contains("HashAggregate")), nodes.toString)
  }

  test("whole-stage-codegen node lines are counted (canonical *(N) marker stripped)") {
    // canonical() rewrites `*(3)` to `*(N)`; the old digits-only strip
    // pattern then dropped every codegen'd node line from the histogram
    val canon =
      """AdaptiveSparkPlan isFinalPlan=x
        |+- *(N) HashAggregate(keys=[k#x], functions=[sum(id#x)])
        |   +- Exchange hashpartitioning(k#x, 32)
        |      +- *(N) ColumnarToRow
        |         +- FileScan parquet [id#x,k#x]""".stripMargin
    val nodes = PlanFingerprint.nodeHistogram(canon)
    assert(nodes.get("HashAggregate").contains(1), nodes.toString)
    assert(nodes.get("ColumnarToRow").contains(1), nodes.toString)
    assert(nodes.get("Exchange").contains(1), nodes.toString)
  }

  test("a data-dependent entry yields its constant marker, unbuilt") {
    val Seq((name, h, nodes, exprs)) =
      PlanFingerprint.catalog(spark, "/nonexistent", Seq("t20_kll_quantiles"))
    assert(name == "t20_kll_quantiles")
    assert(h == PlanFingerprint.dataDependentPlans(name) && nodes.isEmpty)
    assert(exprs.isEmpty)
  }

  test("the written plans file reads back as {name: {plan_md5, nodes}}") {
    val (h, nodes) = PlanFingerprint.fingerprint(agg(dirA))
    val marker = PlanFingerprint.dataDependentPlans("t20_kll_quantiles")
    val f = java.nio.file.Files.createTempFile("graft_plans", ".json")
    PlanFingerprint.write(f.toString,
      Seq(("agg", h, nodes, Some(12)),
        ("t20_kll_quantiles", marker, Map.empty[String, Int], None)))
    val json = new ObjectMapper().readTree(f.toFile)
    assert(json.fieldNames.asScala.toSeq == Seq("agg", "t20_kll_quantiles"))
    assert(json.get("agg").get("plan_md5").asText == h)
    assert(json.get("agg").get("nodes").fields.asScala
      .map(e => e.getKey -> e.getValue.asInt).toMap == nodes)
    assert(json.get("t20_kll_quantiles").get("plan_md5").asText == marker)
    assert(json.get("t20_kll_quantiles").get("nodes").isEmpty)
    assert(json.get("agg").get("expr_nodes").asInt == 12)
    assert(!json.get("t20_kll_quantiles").has("expr_nodes"))
  }

  test("expression nodes count every node under every operator") {
    val cols = spark.read.parquet(s"$dirA/t.parquet").select(col("id"), col("k"))
    val n0 = PlanFingerprint.exprNodes(cols.queryExecution.analyzed)
    val n1 = PlanFingerprint.exprNodes(
      cols.select(col("id"), col("k"), (col("id") + lit(1L)).as("j")).queryExecution.analyzed)
    // the new Project: id, k, and Alias(Add(id, 1)) — six nodes
    assert(n0 > 0 && n1 - n0 == 6, s"$n0 -> $n1")
  }

  test("a bench run labels its plan dump past every BENCH and PLANS dump") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rounds")
    try {
      assert(Bench.nextRound(dir.toFile) == 1)
      Seq("BENCH_r19.json", "BENCH_r19_c8.json", "PLANS_r20.json", "PERF_r30.json")
        .foreach(n => java.nio.file.Files.createFile(dir.resolve(n)))
      assert(Bench.nextRound(dir.toFile) == 21)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("canonical form contains no absolute paths or expression ids") {
    val c = PlanFingerprint.canonical(agg(dirA))
    assert(!c.contains(dirA) && !c.contains("/tmp/"))
    assert(!"#\\d".r.findFirstIn(c).isDefined)
  }
}
