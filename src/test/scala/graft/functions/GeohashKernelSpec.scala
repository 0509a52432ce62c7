package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{PlanFingerprint, SparkEntry, TestSpark}

/** The geohash kernel ([[GeohashEncode]], [[GeohashDecode]]) against the
  * Catalyst composition it replaced ([[GeohashChain]]): bit-identical
  * with the generated code on and off, on random points and strings at
  * every precision, on INT and DECIMAL inputs, and on the composition's
  * edge behaviour (NULL, NaN, infinities, short, over-long, off-alphabet,
  * multi-byte and invalid UTF-8 strings). Also: the geohash entries plan
  * small.
  */
class GeohashKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)

  private val codegenKeys = Seq("spark.sql.codegen.wholeStage",
    "spark.sql.codegen.factoryMode", "spark.sql.codegen.fallback")

  /** Runs `body` with the generated code on (a compile error fails
    * instead of falling back), then with it off.
    */
  private def bothPaths(body: String => Unit): Unit =
    Seq("codegen" -> Seq("true", "CODEGEN_ONLY", "false"),
      "interpreted" -> Seq("false", "NO_CODEGEN", "false")).foreach {
      case (mode, values) =>
        TestSpark.restoringConf(codegenKeys: _*) {
          codegenKeys.zip(values).foreach { case (k, v) => spark.conf.set(k, v) }
          body(mode)
        }
    }

  /** Equal values; doubles compared by bits, structs field by field. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case _ => a == b
  }

  /** Each (name, kernel, composition) pair agrees on every row of `df`. */
  private def assertSame(df: DataFrame, mode: String,
      pairs: (String, Column, Column)*): Unit = {
    val out = df.select(col("*") +: pairs.flatMap { case (n, k, r) =>
      Seq(k.as(s"k_$n"), r.as(s"r_$n")) }: _*)
    if (mode == "codegen")
      assert(out.queryExecution.executedPlan.collectFirst {
        case w: WholeStageCodegenExec => w }.isDefined)
    val base = df.columns.length
    out.collect().foreach { row =>
      pairs.indices.foreach { i =>
        val (k, r) = (row.get(base + 2 * i), row.get(base + 2 * i + 1))
        assert(same(k, r), s"$mode ${pairs(i)._1}: kernel $k, composition $r, row $row")
      }
    }
  }

  private val pointSchema = StructType(Seq(
    StructField("lat", DoubleType), StructField("lon", DoubleType),
    StructField("h", StringType)))

  /** Random geohash-like strings: mostly alphabet characters, some off
    * it (letters the alphabet skips, upper case, multi-byte characters).
    */
  private def randomHash(rnd: scala.util.Random): String = {
    val others = Seq("a", "i", "l", "o", "A", "Z", "-", " ", "é", "€", "日", "😀")
    Seq.fill(rnd.nextInt(15)) {
      if (rnd.nextInt(8) == 0) others(rnd.nextInt(others.size))
      else GeoFunctions.Alphabet(rnd.nextInt(32)).toString
    }.mkString
  }

  test("kernel ≡ composition: 10k random points and strings at every precision, both paths") {
    val rnd = new scala.util.Random(14)
    val df = frame(pointSchema, Seq.fill(10000) {
      // one point in 20 lies outside the lat/lon ranges
      val wide = if (rnd.nextInt(20) == 0) 1.2 else 1.0
      Row((rnd.nextDouble() * 180 - 90) * wide, (rnd.nextDouble() * 360 - 180) * wide,
        randomHash(rnd))
    }).cache()
    try bothPaths { mode =>
      (1 to 12).foreach { p =>
        // decode also reads back each point's own hash, as a column: the
        // composition nested inside itself would unroll past any heap
        val withHash = df.withColumn("g", GeoFunctions.geohashEncode(col("lat"), col("lon"), p))
        assertSame(withHash, mode,
          ("encode", GeoFunctions.geohashEncode(col("lat"), col("lon"), p),
            GeohashChain.geohashEncode(col("lat"), col("lon"), p)),
          ("decode", GeoFunctions.geohashDecode(col("h"), p),
            GeohashChain.geohashDecode(col("h"), p)),
          ("decode_own", GeoFunctions.geohashDecode(col("g"), p),
            GeohashChain.geohashDecode(col("g"), p)))
      }
      // the SQL two-argument form defaults to precision 12
      assertSame(df, mode, ("default", expr("geohashEncode(lon, lat)"),
        GeohashChain.geohashEncode(col("lat"), col("lon"), 12)))
    } finally df.unpersist()
  }

  test("kernel ≡ composition on INT and DECIMAL coordinates, Column and SQL, both paths") {
    val rnd = new scala.util.Random(15)
    val df = frame(StructType(Seq(
      StructField("ilat", IntegerType), StructField("ilon", IntegerType),
      StructField("dlat", DecimalType(12, 6)), StructField("dlon", DecimalType(12, 6)))),
      Seq.fill(2000)(Row(rnd.nextInt(241) - 120, rnd.nextInt(481) - 240,
        BigDecimal(rnd.nextInt(200000001) - 100000000, 6).bigDecimal,
        BigDecimal(rnd.nextInt(400000001) - 200000000, 6).bigDecimal)))
    bothPaths { mode =>
      Seq(3, 6, 11).foreach { p =>
        assertSame(df, mode,
          ("int", GeoFunctions.geohashEncode(col("ilat"), col("ilon"), p),
            GeohashChain.geohashEncode(col("ilat"), col("ilon"), p)),
          ("decimal", GeoFunctions.geohashEncode(col("dlat"), col("dlon"), p),
            GeohashChain.geohashEncode(col("dlat"), col("dlon"), p)),
          ("int_sql", expr(s"geohashEncode(ilon, ilat, $p)"),
            GeohashChain.geohashEncode(col("ilat"), col("ilon"), p)),
          ("decimal_sql", expr(s"geohashEncode(dlon, dlat, $p)"),
            GeohashChain.geohashEncode(col("dlat"), col("dlon"), p)))
      }
    }
  }

  test("the composition's edge behaviour holds unchanged, both paths") {
    val inf = Double.PositiveInfinity
    val nan = Double.NaN
    // (lat, lon) → pinned precision-6 hash where the value is known
    val points: Seq[(java.lang.Double, java.lang.Double, Option[String])] = Seq(
      (0.0, null, Some("xbpbpb")), // NULL clamps to the top cell
      (0.0, nan, Some("800000")), // NaN quantizes to cell 0
      (null, null, Some("zzzzzz")),
      (nan, nan, Some("000000")),
      (inf, inf, Some("zzzzzz")), (-inf, -inf, Some("000000")),
      (100.0, 200.0, Some("zzzzzz")), (-100.0, -200.0, Some("000000")),
      (90.0, 180.0, Some("zzzzzz")), (-90.0, -180.0, Some("000000")),
      (inf, -inf, None), (-0.0, -0.0, None), (57.64911, 10.40744, Some("u4pruy")))
    val pts = frame(StructType(Seq(StructField("id", IntegerType),
      StructField("lat", DoubleType), StructField("lon", DoubleType))),
      points.zipWithIndex.map { case ((la, lo, _), i) => Row(i, la, lo) })
    // strings as raw bytes, so invalid UTF-8 can be among them
    val strings: Seq[(Array[Byte], Option[Row])] = Seq(
      (null, Some(Row(null, null))), // a non-NULL struct of two NULLs
      ("ezs".getBytes(UTF_8), Some(Row(-5.6195068359375, 42.19024658203125))), // pads with 0
      ("ezs42a".getBytes(UTF_8), Some(Row(179.9945068359375, 89.99725341796875))), // poisoned
      ("ezs42".getBytes(UTF_8), None), ("".getBytes(UTF_8), None),
      ("ezs42ezs42ezs42ezs42".getBytes(UTF_8), None), ("EZS42".getBytes(UTF_8), None),
      ("ézs42".getBytes(UTF_8), None), ("e€s42x".getBytes(UTF_8), None),
      ("日本zs".getBytes(UTF_8), None), ("😀zs42".getBytes(UTF_8), None),
      ("ezs42😀".getBytes(UTF_8), None),
      (Array(0x80, 'z', 's', '4').map(_.toByte), None), // lone continuation byte
      (Array('e', 0xE2, 'z', 's', '4', '2').map(_.toByte), None), // truncated lead byte
      (Array(0xFF, 'z', 's').map(_.toByte), None))
    val hs = spark.createDataFrame(spark.sparkContext.parallelize(
      strings.zipWithIndex.map { case ((b, _), i) => Row(i, b) }, 3),
      StructType(Seq(StructField("id", IntegerType), StructField("b", BinaryType))))
      .select(col("id"), col("b").cast(StringType).as("h"))
    bothPaths { mode =>
      Seq(1, 4, 6, 12).foreach { p =>
        assertSame(pts, mode, ("encode", GeoFunctions.geohashEncode(col("lat"), col("lon"), p),
          GeohashChain.geohashEncode(col("lat"), col("lon"), p)))
        assertSame(hs, mode, ("decode", GeoFunctions.geohashDecode(col("h"), p),
          GeohashChain.geohashDecode(col("h"), p)))
      }
      pts.select(col("id"), expr("geohashEncode(lon, lat, 6)")).collect().foreach { r =>
        points(r.getInt(0))._3.foreach(want => assert(r.getString(1) == want, s"$mode $r"))
      }
      hs.select(col("id"), expr("geohashDecode(h, 6)")).collect().foreach { r =>
        strings(r.getInt(0))._2.foreach(want => assert(same(r.getStruct(1), want), s"$mode $r"))
      }
    }
    assert(spark.sql("SELECT geohashEncode(NULL, 0.0, 6)").head().getString(0) == "xbpbpb")
    assert(spark.sql("SELECT geohashEncode(CAST('NaN' AS DOUBLE), 0.0, 6)")
      .head().getString(0) == "800000")
    val d = spark.sql("SELECT geohashDecode(NULL, 6) AS d").head()
    assert(!d.isNullAt(0) && d.getStruct(0) == Row(null, null))
    // precision stays 1..12, through either builder
    Seq(0, 13).foreach { p =>
      intercept[IllegalArgumentException](GeoFunctions.geohashEncode(col("lat"), col("lon"), p))
      intercept[IllegalArgumentException](GeoFunctions.geohashDecode(col("h"), p))
      intercept[Exception](spark.sql(s"SELECT geohashEncode(1.0, 2.0, $p)").collect())
    }
  }

  test("plan size: the geohash entries under 1,000 expression nodes, one node per SQL call") {
    val sfDir = "/root/testdata/sf0.001"
    Seq("q78_geohash", "q117_geohash_sql").foreach { name =>
      val n = PlanFingerprint.exprNodes(
        SparkEntry.queries(name)(spark, sfDir).queryExecution.analyzed)
      assert(n < 1000, s"$name analyses to $n expression nodes")
    }
    frame(pointSchema, Seq(Row(1.0, 2.0, "s0"))).createOrReplaceTempView("gk_pts")
    val plan = spark.sql("SELECT geohashEncode(lon, lat, 6) AS gh FROM gk_pts")
      .queryExecution.analyzed
    plan match {
      case Project(Seq(Alias(e @ GeohashEncode(lon: AttributeReference,
        lat: AttributeReference, 6), "gh")), _) =>
        assert(lon.name == "lon" && lat.name == "lat")
        assert(e.collect { case x => x }.size == 3)
      case other => fail(s"not one geohashEncode node over (lon, lat):\n$other")
    }
  }
}
