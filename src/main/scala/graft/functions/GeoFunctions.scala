package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** ClickHouse geo function family: `geohashEncode` / `geohashDecode`
  * (Niemeyer 2008 — the public base-32 Z-order curve over lat/lon). Each
  * is one Catalyst expression ([[GeohashEncode]], [[GeohashDecode]])
  * whose generated code makes one call per row into the static kernel
  * below: clamped quantize, bit interleave, base-32 render, and the
  * inverse parse and cell-centre decode. Everything after the one
  * quantizing multiply is integer arithmetic, so each step is exactly
  * reproducible in ANSI SQL for the oracle — unlike the great-circle
  * trig functions, whose libm sin/cos are not bit-pinned across engines
  * (left out deliberately).
  *
  * The kernel keeps the semantics of the Catalyst composition it
  * replaced (`GeohashChain` in the specs, bit-identical on every input):
  *   - a NULL coordinate lands in the top cell (the composition's
  *     `least`/`greatest` clamp skipped NULL) and NaN in cell 0;
  *   - decode reads a character past the end of the string as `0` and a
  *     character off the alphabet as -1, which sets every higher bit;
  *   - decoding NULL gives a struct of two NULLs.
  *
  * The encoded prefix is the spatial bucketing key a geo aggregation
  * wants (shared prefix = shared cell).
  */
object GeoFunctions {

  /** The geohash base-32 alphabet (public standard; no a/i/l/o). */
  val Alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** `geohashDecode`'s result: the cell centre, longitude first. */
  val DecodedType: StructType = StructType(Seq(
    StructField("longitude", DoubleType), StructField("latitude", DoubleType)))

  private val alphabetBytes: Array[Byte] =
    Alphabet.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Base-32 value of each ASCII byte, -1 off the alphabet. */
  private val codes: Array[Int] = {
    val t = Array.fill(128)(-1)
    alphabetBytes.indices.foreach(i => t(alphabetBytes(i).toInt) = i)
    t
  }

  /** The ClickHouse `geohashEncode(lon, lat, precision)` string (note the
    * Column builder's latitude-first argument order).
    */
  def geohashEncode(lat: Column, lon: Column, precision: Int): Column =
    ColumnBridge.column(GeohashEncode(
      ColumnBridge.expression(lon), ColumnBridge.expression(lat), precision))

  /** The ClickHouse `geohashDecode(h)` cell centre as
    * `struct<longitude, latitude>`, reading the first `precision`
    * characters of `h`.
    */
  def geohashDecode(h: Column, precision: Int): Column =
    ColumnBridge.column(GeohashDecode(ColumnBridge.expression(h), precision))

  private[functions] def checkPrecision(precision: Int): Unit =
    require(precision >= 1 && precision <= 12, s"precision: $precision")

  /** Cell index of `v` in [-half, half] at `bits` resolution, clamped into
    * range (the +half boundary point belongs to the last cell, matching
    * reference encoders; +Infinity to the last cell, NaN to cell 0).
    */
  private def quantize(v: Double, half: Double, bits: Int): Long =
    math.max(0L, math.min((1L << bits) - 1,
      math.floor((v + half) / (2.0 * half) * (1L << bits).toDouble).toLong))

  /** The geohash of (lon, lat) at `precision` characters: the 5·p-bit
    * Z-value (longitude bit first, longitude gets the odd extra bit)
    * rendered five bits per character.
    */
  def encode(lon: Double, lat: Double, precision: Int): UTF8String = {
    val total = 5 * precision
    val nLon = (total + 1) / 2
    val nLat = total / 2
    val lonQ = quantize(lon, 180.0, nLon)
    val latQ = quantize(lat, 90.0, nLat)
    var bits = 0L
    var k = 0
    while (k < total) {
      val bit =
        if ((k & 1) == 0) lonQ >> (nLon - 1 - k / 2)
        else latQ >> (nLat - 1 - k / 2)
      bits = (bits << 1) | (bit & 1L)
      k += 1
    }
    val out = new Array[Byte](precision)
    var i = 0
    while (i < precision) {
      out(i) = alphabetBytes(((bits >> (5 * (precision - 1 - i))) & 31L).toInt)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** The cell centre of the first `precision` characters of `h`, as a
    * (longitude, latitude) row; both fields NULL when `h` is.
    */
  def decode(h: UTF8String, precision: Int): InternalRow = {
    if (h == null) return new GenericInternalRow(2)
    val total = 5 * precision
    val nLon = (total + 1) / 2
    val nLat = total / 2
    val bits = parse(h, precision)
    new GenericInternalRow(Array[Any](
      center(deinterleave(bits, total - 1, nLon), nLon, 180.0),
      center(deinterleave(bits, total - 2, nLat), nLat, 90.0)))
  }

  /** The Z-value of `h`'s first `precision` characters, walked by UTF-8
    * character. A character past the end reads as 0; one off the alphabet
    * (any non-ASCII character included) as -1, whose sign bits poison
    * every higher position.
    */
  private def parse(h: UTF8String, precision: Int): Long = {
    val base = h.getBaseObject
    val off = h.getBaseOffset
    val n = h.numBytes
    var bits = 0L
    var pos = 0
    var i = 0
    while (i < precision) {
      val code =
        if (pos >= n) 0
        else {
          val b = Platform.getByte(base, off + pos)
          pos += UTF8String.numBytesForFirstByte(b)
          if (b >= 0) codes(b.toInt) else -1
        }
      bits |= code.toLong << (5 * (precision - 1 - i))
      i += 1
    }
    bits
  }

  /** `n` bits of `bits` taken at every second position from `top` down. */
  private def deinterleave(bits: Long, top: Int, n: Int): Long = {
    var q = 0L
    var j = 0
    while (j < n) {
      q = (q << 1) | ((bits >> (top - 2 * j)) & 1L)
      j += 1
    }
    q
  }

  private def center(q: Long, bits: Int, half: Double): Double =
    (q.toDouble + 0.5) / (1L << bits).toDouble * (2.0 * half) - half
}

/** `geohashEncode(lon, lat, precision)`: one [[GeoFunctions.encode]] call
  * per row. Never NULL: a NULL coordinate is passed as +Infinity, which
  * clamps to the same top cell.
  */
case class GeohashEncode(lon: Expression, lat: Expression, precision: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  GeoFunctions.checkPrecision(precision)

  override def left: Expression = lon
  override def right: Expression = lat
  override def inputTypes: Seq[DoubleType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "geohashEncode"
  override def sql: String = s"$prettyName(${lon.sql}, ${lat.sql}, $precision)"

  override def eval(input: InternalRow): Any = {
    def coord(v: Any): Double =
      if (v == null) Double.PositiveInfinity else v.asInstanceOf[Double]
    GeoFunctions.encode(coord(lon.eval(input)), coord(lat.eval(input)), precision)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val x = lon.genCode(ctx)
    val y = lat.genCode(ctx)
    ev.copy(code = code"""
      ${x.code}
      ${y.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.GeoFunctions.encode(
        ${x.isNull} ? Double.POSITIVE_INFINITY : ${x.value},
        ${y.isNull} ? Double.POSITIVE_INFINITY : ${y.value}, $precision);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GeohashEncode =
    copy(lon = newLeft, lat = newRight)
}

/** `geohashDecode(h, precision)`: one [[GeoFunctions.decode]] call per
  * row, returning the cell centre as `struct<longitude, latitude>`.
  */
case class GeohashDecode(child: Expression, precision: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  GeoFunctions.checkPrecision(precision)

  override def inputTypes: Seq[StringType] = Seq(StringType)
  override def dataType: DataType = GeoFunctions.DecodedType
  override def nullable: Boolean = false
  override def prettyName: String = "geohashDecode"
  override def sql: String = s"$prettyName(${child.sql}, $precision)"

  override def eval(input: InternalRow): Any =
    GeoFunctions.decode(child.eval(input).asInstanceOf[UTF8String], precision)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val h = child.genCode(ctx)
    ev.copy(code = code"""
      ${h.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.GeoFunctions.decode(
        ${h.isNull} ? null : ${h.value}, $precision);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): GeohashDecode =
    copy(child = newChild)
}
