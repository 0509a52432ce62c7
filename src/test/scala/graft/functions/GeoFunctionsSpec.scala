package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.GeoFunctions._
import graft.functions.GeohashChain.{decodeCenterLat, decodeCenterLon, geohashBits, geohashParse, renderBits}

/** GeoFunctions (q78) against the classic bisection encoder: the kernel
  * quantizes-then-interleaves in one pass; the reference halves
  * intervals bit by bit (Niemeyer's original formulation). Equal on
  * everything off dyadic boundaries — plus the public test vectors, the
  * prefix property, and, on the composed reference ([[GeohashChain]]),
  * parse/render round-trip and decode-center bounds.
  */
class GeoFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Classic interval-bisection geohash (the published algorithm). */
  private def refGeohash(lat: Double, lon: Double, p: Int): String = {
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    val sb = new StringBuilder
    var isLon = true; var nb = 0; var ch = 0
    while (sb.length < p) {
      val mid = if (isLon) (lonLo + lonHi) / 2 else (latLo + latHi) / 2
      ch <<= 1
      if (isLon) {
        if (lon >= mid) { ch |= 1; lonLo = mid } else lonHi = mid
      } else {
        if (lat >= mid) { ch |= 1; latLo = mid } else latHi = mid
      }
      isLon = !isLon
      nb += 1
      if (nb == 5) { sb.append(Alphabet(ch)); nb = 0; ch = 0 }
    }
    sb.toString
  }

  private def enc(pts: Seq[(Double, Double)], p: Int): Seq[String] =
    pts.toDF("lat", "lon")
      .select(geohashEncode(col("lat"), col("lon"), p).as("g"))
      .as[String].collect().toSeq

  test("public test vectors") {
    // Wikipedia's canonical example point and the origin
    assert(enc(Seq((57.64911, 10.40744)), 6) == Seq("u4pruy"))
    assert(enc(Seq((57.64911, 10.40744)), 11) == Seq("u4pruydqqvj"))
    assert(enc(Seq((0.0, 0.0)), 6) == Seq("s00000"))
    assert(enc(Seq((-90.0, -180.0)), 4) == Seq("0000"))
    assert(enc(Seq((90.0, 180.0)), 4) == Seq("zzzz")) // boundary → last cell
  }

  test("randomized equivalence with the bisection reference") {
    val rng = new scala.util.Random(78)
    val pts = Seq.fill(300)((rng.nextDouble() * 180 - 90,
      rng.nextDouble() * 360 - 180))
    val got = enc(pts, 8)
    pts.zip(got).foreach { case ((lat, lon), g) =>
      assert(g == refGeohash(lat, lon, 8), s"($lat, $lon)")
    }
  }

  test("precision prefix property: p=6 extends p=4") {
    val rng = new scala.util.Random(79)
    val pts = Seq.fill(100)((rng.nextDouble() * 180 - 90,
      rng.nextDouble() * 360 - 180))
    enc(pts, 4).zip(enc(pts, 6)).foreach { case (g4, g6) =>
      assert(g6.startsWith(g4))
    }
  }

  test("parse is the exact inverse of render; centers land inside the cell") {
    val rng = new scala.util.Random(80)
    val pts = Seq.fill(200)((rng.nextDouble() * 180 - 90,
      rng.nextDouble() * 360 - 180))
    val p = 6
    val rows = pts.toDF("lat", "lon")
      .withColumn("gbits", geohashBits(col("lat"), col("lon"), p))
      .select(col("lat"), col("lon"), col("gbits"),
        geohashParse(renderBits(col("gbits"), p), p).as("back"),
        decodeCenterLat(col("gbits"), p).as("clat"),
        decodeCenterLon(col("gbits"), p).as("clon"))
      .as[(Double, Double, Long, Long, Double, Double)].collect()
    val halfLat = 180.0 / (1 << 15) / 2 // nLat = 15 at p = 6
    val halfLon = 360.0 / (1 << 15) / 2
    rows.foreach { case (lat, lon, gbits, back, clat, clon) =>
      assert(back == gbits)
      assert(math.abs(clat - lat) <= halfLat + 1e-9, s"lat $lat vs $clat")
      assert(math.abs(clon - lon) <= halfLon + 1e-9, s"lon $lon vs $clon")
    }
  }
}
