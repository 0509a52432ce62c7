package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.StreamingIngest

class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("naturalSplits is the scan's partition count under the session's split policy") {
    val dir = Files.createTempDirectory("graft_splits").resolve("t.parquet")
    // 40 parquet files of about equal size, each far below a split
    spark.range(0, 40000, 1, 40).write.parquet(dir.toString)
    val parts = {
      val s = Files.list(dir)
      try s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
      finally s.close()
    }
    assert(parts.size == 40)
    val bytes = parts.map(Files.size).sum
    def counts(): (Long, Int) =
      (Tables.naturalSplits(spark, bytes, parts.size),
        spark.read.parquet(dir.toString).rdd.getNumPartitions)

    val minNum = "spark.sql.files.minPartitionNum"
    val maxNum = "spark.sql.files.maxPartitionNum"
    val leafPar = "spark.sql.leafNodeDefaultParallelism"
    TestSpark.restoringConf(StreamingIngest.OpenCostKey, minNum, maxNum, leafPar) {
      Seq(StreamingIngest.OpenCostKey, minNum, maxNum, leafPar).foreach(spark.conf.unset)
      assert(counts() == (4L, 4)) // Spark's 4 MB open cost, one split per core
      spark.conf.set(StreamingIngest.OpenCostKey, (1L << 20).toString)
      assert(counts() == (4L, 4))
      spark.conf.set(leafPar, "5")
      assert(counts() == (5L, 5))
      spark.conf.set(minNum, "8") // wins over the leaf-node default
      assert(counts() == (8L, 8))
      spark.conf.set(maxNum, "2") // packed again into two splits
      assert(counts() == (2L, 2))
    }
  }
}
