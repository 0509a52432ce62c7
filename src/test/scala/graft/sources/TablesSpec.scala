package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.streaming.StreamingIngest

class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The load as it was before schemas came from the footer: Spark infers
    * the schema, and every events load turns nanosAsLong on first.
    */
  private def inferredLoad(dir: String, name: String): DataFrame = {
    if (name == "events") spark.conf.set(NanosAsLong, "true")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") raw
    else raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** Jobs started while `body` runs (the listener's own marker job aside). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger
    val out = TestSpark.listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("listening-marker"))) n.incrementAndGet()
    })(body)
    (out, n.get)
  }

  test("the footer schema is Spark's inferred schema, with nanosAsLong on and off") {
    TestSpark.restoringConf(NanosAsLong) {
      for (nanos <- Seq("true", "false"); name <- Tables.names) {
        spark.conf.set(NanosAsLong, nanos)
        val loaded = Tables.load(spark, sf, name).schema
        spark.conf.set(NanosAsLong, nanos)
        assert(loaded == inferredLoad(sf, name).schema, s"$name, nanosAsLong=$nanos")
      }
    }
  }

  test("rowCount is the table's count") {
    Tables.names.foreach { name =>
      assert(Tables.rowCount(spark, sf, name) == spark.read.parquet(s"$sf/$name.parquet").count(), name)
    }
  }

  test("a directory of part files loads through Spark's inference") {
    val dir = Files.createTempDirectory("graft_tables")
    spark.range(0, 1000, 1, 3).selectExpr("id", "cast(id AS string) AS s")
      .write.parquet(dir.resolve("t.parquet").toString)
    val (df, jobs) = jobsDuring(Tables.load(spark, dir.toString, "t"))
    assert(jobs >= 1) // the schema merge job a single file no longer runs
    assert(df.schema == spark.read.parquet(dir.resolve("t.parquet").toString).schema)
    assert(df.count() == 1000)
    assert(Tables.rowCount(spark, dir.toString, "t") == 1000)
    assert(Tables.loadParallel(spark, dir.toString, "t").count() == 1000)
  }

  test("a missing table fails as spark.read.parquet does") {
    val dir = Files.createTempDirectory("graft_tables").toString
    val expected = intercept[AnalysisException](spark.read.parquet(s"$dir/missing.parquet"))
    assert(expected.getCondition == "PATH_NOT_FOUND")
    Seq[() => Any](() => Tables.load(spark, dir, "missing"),
      () => Tables.loadParallel(spark, dir, "missing"),
      () => Tables.rowCount(spark, dir, "missing")).foreach { f =>
      assert(intercept[AnalysisException](f()).getCondition == expected.getCondition)
    }
  }

  // events.ts fixtures, one file each: µs since the epoch after loading
  private val tsMicros = Seq(Some(1704164645123456L), Some(0L), None)

  /** `events.parquet` written by parquet-mr with `ts` as `tsType`. */
  private def writeEvents(tsType: String, values: Seq[Option[Long]]): JPath = {
    val dir = Files.createTempDirectory("graft_events")
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 id; optional int64 ts ($tsType); }")
    val w = ExampleParquetWriter.builder(new Path(dir.resolve("events.parquet").toUri))
      .withType(schema).withConf(new Configuration()).build()
    val rows = new SimpleGroupFactory(schema)
    try values.zipWithIndex.foreach { case (v, i) =>
      val g = rows.newGroup().append("id", i.toLong)
      v.foreach(g.append("ts", _))
      w.write(g)
    } finally w.close()
    dir
  }

  /** `events.parquet` written by Spark from TIMESTAMP_NTZ values. */
  private def writeEventsNtz(): JPath = {
    val dir = Files.createTempDirectory("graft_events")
    val out = dir.resolve("spark_out")
    spark.sql("""SELECT * FROM VALUES
                 |  (0L, TIMESTAMP_NTZ'2024-01-02 03:04:05.123456'),
                 |  (1L, TIMESTAMP_NTZ'1970-01-01 00:00:00'),
                 |  (2L, CAST(NULL AS TIMESTAMP_NTZ)) AS t(id, ts)""".stripMargin)
      .coalesce(1).write.parquet(out.toString)
    val part = Files.list(out).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve("events.parquet"))
    dir
  }

  test("events.ts loads as a session-zone timestamp from nanos, NTZ micros and UTC micros") {
    val nanos = writeEvents("TIMESTAMP(NANOS,true)",
      Seq(Some(1704164645123456789L), Some(999L), None))
    val ntz = writeEventsNtz()
    val utc = writeEvents("TIMESTAMP(MICROS,true)", tsMicros)
    assert(TestSpark.parquetTypes(nanos, "ts") == Seq("INT64 TIMESTAMP(NANOS,true)"))
    assert(TestSpark.parquetTypes(ntz, "ts") == Seq("INT64 TIMESTAMP(MICROS,false)"))
    assert(TestSpark.parquetTypes(utc, "ts") == Seq("INT64 TIMESTAMP(MICROS,true)"))
    def micros(dir: JPath): Seq[Option[Long]] = {
      val df = Tables.load(spark, dir.toString, "events")
      assert(df.schema("ts").dataType == TimestampType)
      df.orderBy("id").select(unix_micros(col("ts"))).collect().toSeq
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    }
    TestSpark.restoringConf(NanosAsLong) {
      spark.conf.unset(NanosAsLong)
      // the micros files leave the session's nanosAsLong unset
      assert(micros(ntz) == tsMicros)
      assert(micros(utc) == tsMicros)
      assert(spark.conf.getAll.get(NanosAsLong).isEmpty)
      // nanos truncate to µs, as DuckDB's TIMESTAMP_NS → TIMESTAMP cast does
      assert(micros(nanos) == tsMicros)
      assert(spark.conf.getAll.get(NanosAsLong).contains("true"))
    }
  }

  test("catalog entries build without a Spark job") {
    Seq("q01_pricing_summary", "q05_region_revenue", "q39_topk_per_key",
      "q117_geohash_sql", "q122_ch_alias_battery", "d03_minhash_neardups").foreach { n =>
      assert(jobsDuring(SparkEntry.queries(n)(spark, sf))._2 == 0, n)
    }
    // t15 trains its bigram model at build time: the one-row n_tok pull
    // (TextAnalysis.bigramModel's `tot.collect()`) is its only eager work
    assert(jobsDuring(SparkEntry.queries("t15_bigram_surprisal")(spark, sf))._2 == 3)
  }

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
