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
    val Seq((name, h, nodes)) =
      PlanFingerprint.catalog(spark, "/nonexistent", Seq("t20_kll_quantiles"))
    assert(name == "t20_kll_quantiles")
    assert(h == PlanFingerprint.dataDependentPlans(name) && nodes.isEmpty)
  }

  test("the written plans file reads back as {name: {plan_md5, nodes}}") {
    val (h, nodes) = PlanFingerprint.fingerprint(agg(dirA))
    val marker = PlanFingerprint.dataDependentPlans("t20_kll_quantiles")
    val f = java.nio.file.Files.createTempFile("graft_plans", ".json")
    PlanFingerprint.write(f.toString,
      Seq(("agg", h, nodes), ("t20_kll_quantiles", marker, Map.empty[String, Int])))
    val json = new ObjectMapper().readTree(f.toFile)
    assert(json.fieldNames.asScala.toSeq == Seq("agg", "t20_kll_quantiles"))
    assert(json.get("agg").get("plan_md5").asText == h)
    assert(json.get("agg").get("nodes").fields.asScala
      .map(e => e.getKey -> e.getValue.asInt).toMap == nodes)
    assert(json.get("t20_kll_quantiles").get("plan_md5").asText == marker)
    assert(json.get("t20_kll_quantiles").get("nodes").isEmpty)
  }

  test("canonical form contains no absolute paths or expression ids") {
    val c = PlanFingerprint.canonical(agg(dirA))
    assert(!c.contains(dirA) && !c.contains("/tmp/"))
    assert(!"#\\d".r.findFirstIn(c).isDefined)
  }
}
