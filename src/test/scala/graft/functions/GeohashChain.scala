package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The Catalyst composition the geohash kernel ([[GeohashEncode]] /
  * [[GeohashDecode]]) replaced, kept as the specs' equivalence
  * reference: the bit interleave, render, parse and centre decode unroll
  * at plan time into shift-and-mask Column arithmetic (5·p terms per
  * interleave, p per render and parse).
  */
object GeohashChain {

  import GeoFunctions.Alphabet

  private def bitCounts(precision: Int): (Int, Int, Int) = {
    require(precision >= 1 && precision <= 12, s"precision: $precision")
    val total = 5 * precision
    ((total + 1) / 2, total / 2, total) // lon gets the extra bit
  }

  /** Quantized cell index of `v` in [-half, half] at `bits` resolution,
    * clamped into range (the +half=boundary point belongs to the last
    * cell, matching reference encoders).
    */
  private def quantize(v: Column, half: Double, bits: Int): Column =
    greatest(lit(0L), least(lit((1L << bits) - 1),
      floor((v + lit(half)) / lit(2.0 * half) * lit((1L << bits).toDouble))))

  /** The 5·p-bit interleaved Z-value (lon bit first — the geohash
    * convention) as a LongType column.
    */
  def geohashBits(lat: Column, lon: Column, precision: Int): Column = {
    val (nLon, nLat, total) = bitCounts(precision)
    val lonQ = quantize(lon, 180.0, nLon)
    val latQ = quantize(lat, 90.0, nLat)
    (0 until total).map { k =>
      val (src, bit) =
        if (k % 2 == 0) (lonQ, nLon - 1 - k / 2)
        else (latQ, nLat - 1 - (k - 1) / 2)
      shiftleft(shiftright(src, bit).bitwiseAND(lit(1L)), total - 1 - k)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Base-32 render of [[geohashBits]]. */
  def geohashEncode(lat: Column, lon: Column, precision: Int): Column =
    renderBits(geohashBits(lat, lon, precision), precision)

  /** Render an already-computed bits column. */
  def renderBits(bits: Column, precision: Int): Column = {
    val chars = array(Alphabet.map(c => lit(c.toString)): _*)
    concat((0 until precision).map { i =>
      element_at(chars,
        (shiftright(bits, 5 * (precision - 1 - i)).bitwiseAND(lit(31L)) +
          lit(1L)).cast("int"))
    }: _*)
  }

  /** Parse a geohash string back to its Z-value (inverse of
    * [[renderBits]]; unknown characters poison the result via instr = 0
    * → -1 bits).
    */
  def geohashParse(h: Column, precision: Int): Column =
    (0 until precision).map { i =>
      shiftleft(
        (instr(lit(Alphabet), substring(h, i + 1, 1)) - lit(1)).cast("long"),
        5 * (precision - 1 - i))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Cell-centre latitude decoded from a bits column. */
  def decodeCenterLat(bits: Column, precision: Int): Column = {
    val (_, nLat, total) = bitCounts(precision)
    val latQ = (0 until nLat).map { j =>
      // lat bits sit at interleaved positions 1, 3, 5, … (0-based from MSB)
      val pos = total - 1 - (2 * j + 1)
      shiftleft(shiftright(bits, pos).bitwiseAND(lit(1L)), nLat - 1 - j)
    }.reduce((a, b) => a.bitwiseOR(b))
    (latQ.cast("double") + lit(0.5)) / lit((1L << nLat).toDouble) *
      lit(180.0) - lit(90.0)
  }

  /** Cell-centre longitude decoded from a bits column. */
  def decodeCenterLon(bits: Column, precision: Int): Column = {
    val (nLon, _, total) = bitCounts(precision)
    val lonQ = (0 until nLon).map { j =>
      val pos = total - 1 - 2 * j
      shiftleft(shiftright(bits, pos).bitwiseAND(lit(1L)), nLon - 1 - j)
    }.reduce((a, b) => a.bitwiseOR(b))
    (lonQ.cast("double") + lit(0.5)) / lit((1L << nLon).toDouble) *
      lit(360.0) - lit(180.0)
  }

  /** The composed `geohashDecode(h, precision)`: the cell centre as
    * struct(longitude, latitude), both NULL for a NULL `h`.
    */
  def geohashDecode(h: Column, precision: Int): Column = {
    val bits = geohashParse(h, precision)
    struct(decodeCenterLon(bits, precision).as("longitude"),
      decodeCenterLat(bits, precision).as("latitude"))
  }
}
