package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.config.{EmptyTimePolicy, GraftConfig}
import graft.format.GoTimeLayout

/** The reference's type-cast registry: which cast each log field gets.
  *
  * Semantics replicated from `/root/reference/pkg/nginx/caster.go`:
  *   - custom casts take precedence over native field types
  *     (`caster.go:76-113`), natives at `caster.go:118-140`;
  *   - `-` normalizes to `""` before any cast (`caster.go:72-75,142-149`);
  *   - `""` under a numeric cast → zero of the type (`caster.go:184-186`
  *     et al.), NOT null;
  *   - `""` under Date/DateTime → `now()` in the reference
  *     (`caster.go:293-296`) — policy-gated here (`EmptyTimePolicy`);
  *   - cast failure → row dropped (caller filters on `valid`;
  *     `internal/services/filelog/impl.go:179-184`);
  *   - `FixedString(N)` truncates, never pads (`caster.go:156-179`);
  *   - unsigned widths widen one level (Spark has no unsigned ints):
  *     UInt8→Short, UInt16→Int, UInt32→Long, UInt64→Decimal(20,0).
  *
  * Each field's cast runs in two steps: a byte-level [[FieldCast]] inside
  * the ingest kernel ([[TypedParse]]), then a Catalyst step on its value.
  * The Catalyst step is the identity except where no byte-level form
  * exists: Java-pattern `DateTime`/`Date` layouts and `time_iso8601` (the
  * kernel hands over the string), and `EmptyTimePolicy.Now`'s
  * `current_timestamp()`.
  */
object Casts {

  /** A typed column plus its row-validity predicate. */
  final case class TypedCol(col: Column, valid: Column, dataType: DataType)

  /** One field's cast: the kernel's byte-level step, then `finish` on the
    * column the kernel produced.
    */
  final case class FieldPlan(cast: FieldCast, finish: Column => TypedCol)

  private def kernelOnly(cast: FieldCast): FieldPlan =
    FieldPlan(cast, c => TypedCol(c, lit(true), cast.dataType))

  private def timestamp(javaPattern: String, cfg: GraftConfig): FieldPlan =
    if (javaPattern == FastLocalTime.Pattern) {
      cfg.emptyTimePolicy match {
        case EmptyTimePolicy.Null => kernelOnly(FieldCast.LocalTime)
        // the kernel leaves only an empty value NULL in a valid row
        case EmptyTimePolicy.Now => FieldPlan(FieldCast.LocalTime,
          c => TypedCol(coalesce(c, current_timestamp()), lit(true), TimestampType))
      }
    } else {
      FieldPlan(FieldCast.Str, { v =>
        val parsed = try_to_timestamp(v, lit(javaPattern))
        val emptyVal: Column = cfg.emptyTimePolicy match {
          case EmptyTimePolicy.Now  => current_timestamp()
          case EmptyTimePolicy.Null => lit(null).cast(TimestampType)
        }
        TypedCol(when(v === "", emptyVal).otherwise(parsed),
          v === "" || parsed.isNotNull, TimestampType)
      })
    }

  private def date(cfg: GraftConfig): FieldPlan = FieldPlan(FieldCast.Str, { v =>
    val parsed = try_to_timestamp(v, lit("yyyy-MM-dd")).cast(DateType)
    val emptyVal: Column = cfg.emptyTimePolicy match {
      case EmptyTimePolicy.Now  => current_date()
      case EmptyTimePolicy.Null => lit(null).cast(DateType)
    }
    TypedCol(when(v === "", emptyVal).otherwise(parsed),
      v === "" || parsed.isNotNull, DateType)
  })

  /** `FixedString(N)`: first N characters, no padding; `""` bypasses
    * (`caster.go:156-179`). Parenthesis/size errors are plan-time errors
    * here (the reference emits them per-row at runtime — SURVEY §1.3 calls
    * out the static check as the port's deliberate improvement).
    */
  private def fixedString(spec: String): FieldPlan = {
    val inner = spec.stripPrefix("FixedString")
    if (inner.length <= 2 || !(inner.startsWith("(") && inner.endsWith(")")))
      kernelOnly(FieldCast.Blank)
    else {
      val n = inner.substring(1, inner.length - 1).trim.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"can't parse fixed string size: $spec"))
      kernelOnly(FieldCast.Fixed(n))
    }
  }

  /** Full cast dispatch for one log field: custom-cast table first
    * (`caster.go:80-113`), else native attribute table (`caster.go:118-140`),
    * else identity string.
    */
  def planFor(field: String, cfg: GraftConfig): FieldPlan = {
    val custom: Option[String] =
      if (cfg.customCastsEnable && cfg.customCasts.nonEmpty) cfg.customCasts.get(field)
      else None
    custom.flatMap(byName(_, cfg)).getOrElse(native(field, cfg))
  }

  /** One field's cast over a string column `raw`, through the same kernel
    * as the ingest pipeline.
    */
  def castFor(field: String, raw: Column, cfg: GraftConfig): TypedCol = {
    val plan = planFor(field, cfg)
    val k = TypedParse(raw, LineSplit.Whole, Seq(TypedField("v", 0, plan.cast)), cfg.removeHyphen)
    val tc = plan.finish(k.getField("v"))
    TypedCol(tc.col, k.getField(TypedParse.ValidField) && tc.valid, tc.dataType)
  }

  /** Custom-cast name → cast (`caster.go:84-112`). `Integer` and
    * `Datetime` are custom aliases (`caster.go:26-29`). Unknown names fall
    * through to native dispatch, like the reference's switch default.
    */
  private def byName(t: String, cfg: GraftConfig): Option[FieldPlan] = t match {
    case "UInt8"                 => Some(kernelOnly(FieldCast.UInt(255L, ShortType)))
    case "UInt16"                => Some(kernelOnly(FieldCast.UInt(65535L, IntegerType)))
    case "UInt32"                => Some(kernelOnly(FieldCast.UInt(4294967295L, LongType)))
    case "UInt64"                => Some(kernelOnly(FieldCast.UInt64))
    case "Int8"                  => Some(kernelOnly(FieldCast.SInt(ByteType)))
    case "Int16"                 => Some(kernelOnly(FieldCast.SInt(ShortType)))
    case "Int32" | "Integer"     => Some(kernelOnly(FieldCast.SInt(IntegerType)))
    case "Int64"                 => Some(kernelOnly(FieldCast.SInt(LongType)))
    case "Float32"               => Some(kernelOnly(FieldCast.Fp(FloatType)))
    case "Float64"               => Some(kernelOnly(FieldCast.Fp(DoubleType)))
    case "String"                => Some(kernelOnly(FieldCast.Str))
    case "Date"                  => Some(date(cfg))
    case "DateTime" | "Datetime" => Some(timestamp("yyyy-MM-dd'T'HH:mm:ss", cfg))
    case s if s.startsWith("FixedString") => Some(fixedString(s))
    case _                       => None
  }

  /** Native nginx attribute types (`caster.go:118-140`,
    * `pkg/nginx/constants.go:3-44`).
    */
  private def native(field: String, cfg: GraftConfig): FieldPlan = field match {
    case "time_local" => timestamp(GoTimeLayout.toJava(cfg.logTimeFormat), cfg)
    case "time_iso8601" => timestamp("yyyy-MM-dd'T'HH:mm:ssXXX", cfg)
    case "status" => kernelOnly(FieldCast.UInt(65535L, IntegerType))
    case "bytes_sent" | "body_bytes_sent" => kernelOnly(FieldCast.UInt(4294967295L, LongType))
    case "connections_waiting" | "connections_active" | "connection" |
        "request_length" => kernelOnly(FieldCast.SInt(IntegerType))
    case "request_time" | "upstream_connect_time" | "upstream_header_time" |
        "upstream_response_time" | "msec" => kernelOnly(FieldCast.Fp(FloatType))
    case _ => kernelOnly(FieldCast.Str)
  }
}

/** A byte-level cast of one field into one slot of the kernel's row, with
  * the verdicts and values of the Catalyst cast the reference semantics
  * map to (`try_cast` plus Go `strconv` strictness, `caster.go:183-291`).
  * `CastsSpec` pins every cast against that Catalyst chain.
  */
sealed abstract class FieldCast extends Serializable {
  def dataType: DataType

  /** Casts the `len` bytes at `base` + `off` (a `-` already read as empty)
    * into `row(i)`; false when the value does not cast.
    */
  def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean
}

object FieldCast {

  /** The value itself, a view of the line's bytes. */
  case object Str extends FieldCast {
    def dataType: DataType = StringType
    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      row.update(i, UTF8String.fromAddress(base, off, len))
      true
    }
  }

  /** `FixedString(n)`: the first `n` characters (Spark's `substring`). */
  final case class Fixed(n: Int) extends FieldCast {
    def dataType: DataType = StringType
    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      row.update(i, UTF8String.fromAddress(base, off, len).substringSQL(1, n))
      true
    }
  }

  /** A malformed `FixedString` spec: always `""` (`caster.go:164-170`). */
  case object Blank extends FieldCast {
    def dataType: DataType = StringType
    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      row.update(i, UTF8String.EMPTY_UTF8)
      true
    }
  }

  /** The length of the value without one final `\n`, `\r\n` or `\r`: the
    * terminator Java-regex `$` skips in the reference's digit check, and
    * which Spark's integral casts trim.
    */
  private def digitsLen(base: AnyRef, off: Long, len: Int): Int = {
    var n = len
    if (n > 0 && Platform.getByte(base, off + n - 1) == '\n') {
      n -= 1
      if (n > 0 && Platform.getByte(base, off + n - 1) == '\r') n -= 1
    } else if (n > 0 && Platform.getByte(base, off + n - 1) == '\r') n -= 1
    n
  }

  private def putIntegral(row: InternalRow, i: Int, t: DataType, v: Long): Unit = t match {
    case ByteType    => row.setByte(i, v.toByte)
    case ShortType   => row.setShort(i, v.toShort)
    case IntegerType => row.setInt(i, v.toInt)
    case _           => row.setLong(i, v)
  }

  /** Unsigned digits up to `max` (`strconv.ParseUint`), into `dataType`. */
  final case class UInt(max: Long, dataType: DataType) extends FieldCast {
    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      if (len == 0) { putIntegral(row, i, dataType, 0L); return true }
      val n = digitsLen(base, off, len)
      if (n == 0) return false
      var v = 0L
      var j = 0
      while (j < n) {
        val d = Platform.getByte(base, off + j) - '0'
        if (d < 0 || d > 9) return false
        v = v * 10 + d
        if (v > max) return false
        j += 1
      }
      putIntegral(row, i, dataType, v)
      true
    }
  }

  /** `UInt64`: unsigned digits up to 2^64-1, as `Decimal(20,0)`. */
  case object UInt64 extends FieldCast {
    private val Max = new java.math.BigDecimal("18446744073709551615")
    def dataType: DataType = DecimalType(20, 0)
    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      if (len == 0) { row.setDecimal(i, Decimal(0L, 20, 0), 20); return true }
      val n = digitsLen(base, off, len)
      if (n == 0) return false
      var j = 0
      while (j < n) {
        val d = Platform.getByte(base, off + j)
        if (d < '0' || d > '9') return false
        j += 1
      }
      val v = new java.math.BigDecimal(UTF8String.fromAddress(base, off, n).toString)
      if (v.compareTo(Max) > 0) return false
      row.setDecimal(i, Decimal(v, 20, 0), 20)
      true
    }
  }

  /** Signed digits in the range of `dataType` (`strconv.ParseInt`). */
  final case class SInt(dataType: DataType) extends FieldCast {
    private val (lo, hi) = dataType match {
      case ByteType    => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
      case ShortType   => (Short.MinValue.toLong, Short.MaxValue.toLong)
      case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
      case _           => (Long.MinValue, Long.MaxValue)
    }
    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      if (len == 0) { putIntegral(row, i, dataType, 0L); return true }
      val n = digitsLen(base, off, len)
      var j = 0
      val first = if (n > 0) Platform.getByte(base, off) else 0
      val neg = first == '-'
      if (neg || first == '+') j = 1
      if (j >= n) return false
      // accumulate negatively, as Long.parseLong does, so the lowest value fits
      val limit = if (neg) lo else -hi
      val multmin = limit / 10
      var acc = 0L
      while (j < n) {
        val d = Platform.getByte(base, off + j) - '0'
        if (d < 0 || d > 9 || acc < multmin) return false
        acc *= 10
        if (acc < limit + d) return false
        acc -= d
        j += 1
      }
      putIntegral(row, i, dataType, if (neg) acc else -acc)
      true
    }
  }

  /** `Float32`/`Float64`: Spark's string cast (Java's `parseFloat` /
    * `parseDouble`, then Spark's `inf`/`nan` literals). Plain decimals
    * `[0-9]+(\.[0-9]+)?` whose digits and power of ten are both exact in
    * the type take one IEEE division instead, which is the correctly
    * rounded value the parse returns too.
    */
  final case class Fp(dataType: DataType) extends FieldCast {
    private val isFloat = dataType == FloatType
    private val maxDigits = if (isFloat) 1L << 24 else 1L << 53
    private val maxScale = if (isFloat) 10 else 22

    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      if (len == 0) {
        if (isFloat) row.setFloat(i, 0f) else row.setDouble(i, 0d)
        return true
      }
      // fast path: m / 10^scale with m and 10^scale exact
      var m = 0L
      var scale = -1 // digits after the point; -1 before one
      var j = 0
      var plain = true
      while (plain && j < len) {
        val b = Platform.getByte(base, off + j)
        if (b >= '0' && b <= '9') {
          m = m * 10 + (b - '0')
          if (scale >= 0) scale += 1
          plain = m <= maxDigits && scale <= maxScale
        } else if (b == '.' && scale < 0 && j > 0 && j < len - 1) scale = 0
        else plain = false
        j += 1
      }
      if (plain) {
        val k = math.max(scale, 0)
        if (isFloat) row.setFloat(i, m.toFloat / Fp.Pow10F(k))
        else row.setDouble(i, m.toDouble / Fp.Pow10D(k))
        return true
      }
      val str = UTF8String.fromAddress(base, off, len).toString
      val v: Any =
        try { if (isFloat) java.lang.Float.valueOf(str) else java.lang.Double.valueOf(str) }
        catch { case _: NumberFormatException => Cast.processFloatingPointSpecialLiterals(str, isFloat) }
      v match {
        case f: java.lang.Float  => row.setFloat(i, f); true
        case d: java.lang.Double => row.setDouble(i, d); true
        case _                   => false
      }
    }
  }

  object Fp {
    private val Pow10F: Array[Float] = Array.tabulate(11)(k => s"1e$k".toFloat)
    private val Pow10D: Array[Double] = Array.tabulate(23)(k => s"1e$k".toDouble)
  }

  /** The nginx `time_local` layout ([[FastLocalTime]]); empty → NULL. */
  case object LocalTime extends FieldCast {
    def dataType: DataType = TimestampType
    def write(base: AnyRef, off: Long, len: Int, row: InternalRow, i: Int): Boolean = {
      if (len == 0) { row.setNullAt(i); return true }
      val micros = FastLocalTime.parseMicros(base, off, len)
      if (micros == Long.MinValue) return false
      row.setLong(i, micros)
      true
    }
  }
}
