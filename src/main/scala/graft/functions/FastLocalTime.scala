package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Specialized parser for the nginx `time_local` layout
  * `dd/MMM/yyyy:HH:mm:ss Z` (e.g. `21/Jul/2022:00:30:43 +0000`) — the hot
  * cast on every ingested access-log line. Byte-positional field extraction
  * plus a strict calendar check (the proleptic Gregorian rules of
  * `LocalDate.of` and the STRICT resolver) replaces the generic
  * `DateTimeFormatter` walk; `try_to_timestamp` semantics are preserved:
  * NULL on any mismatch, never an exception. Pinned against
  * `try_to_timestamp` by the randomized property spec (`ParseScannerSpec`).
  * The ingest kernel ([[TypedParse]]) calls the same [[FastLocalTime.parseMicros]]
  * on the line's bytes in place.
  *
  * Deliberate strictness deltas from the generic formatter, both outside
  * any real log line: a >4-digit year (java.time would demand a '+' prefix
  * anyway) and a signed year are rejected; year 0000 is rejected exactly
  * like the era-based 'yyyy' pattern.
  *
  * Output: epoch MICROS (TimestampType), offset applied — the session
  * timezone never matters because the layout carries an explicit offset.
  */
case class FastLocalTime(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fast_local_time requires a string column, got ${child.dataType}")
    }
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def prettyName: String = "fast_local_time"

  override def nullSafeEval(input: Any): Any = {
    val r = FastLocalTime.parseMicros(input.asInstanceOf[UTF8String])
    if (r == Long.MinValue) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = FastLocalTime.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, subject => {
      val r = ctx.freshName("micros")
      s"""
         |long $r = $cls.parseMicros($subject);
         |if ($r != Long.MIN_VALUE) { ${ev.value} = $r; } else { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): FastLocalTime =
    copy(child = newChild)
}

object FastLocalTime {

  /** The exact JDK pattern this expression replaces. */
  val Pattern = "dd/MMM/yyyy:HH:mm:ss Z"

  def apply(v: Column): Column =
    ColumnBridge.column(FastLocalTime(ColumnBridge.expression(v)))

  // jan..dec as 3-byte packed ints ((b0<<16)|(b1<<8)|b2) of the LOWERCASED
  // bytes — Spark builds its DateTimeFormatter with parseCaseInsensitive(),
  // so "JUL"/"jul"/"Jul" all resolve; OR-ing 0x20 folds ASCII letters and
  // can never turn a non-letter byte into a letter code
  private val MonthCodes: Array[Int] = Array(
    "jan", "feb", "mar", "apr", "may", "jun",
    "jul", "aug", "sep", "oct", "nov", "dec"
  ).map(m => (m.charAt(0) << 16) | (m.charAt(1) << 8) | m.charAt(2))

  /** Epoch micros, or Long.MinValue as the "null" sentinel (a real
    * timestamp can never be Long.MinValue micros — Spark's own range stops
    * at year 294xxx).
    */
  def parseMicros(s: UTF8String): Long =
    parseMicros(s.getBaseObject, s.getBaseOffset, s.numBytes)

  /** [[parseMicros]] over the `len` bytes at `base` + `off`, read in place. */
  def parseMicros(base: AnyRef, off: Long, len: Int): Long = {
    def b(i: Int): Byte = Platform.getByte(base, off + i)
    // dd/MMM/yyyy:HH:mm:ss +HHMM → fixed length 26
    if (len != 26) return Long.MinValue
    if (b(2) != '/' || b(6) != '/' || b(11) != ':' || b(14) != ':' ||
      b(17) != ':' || b(20) != ' ') return Long.MinValue

    def d(i: Int): Int = {
      val c = b(i) - '0'
      if (c < 0 || c > 9) -1 else c
    }
    def two(i: Int): Int = {
      val a = d(i); val c = d(i + 1)
      if (a < 0 || c < 0) -1 else a * 10 + c
    }
    val day = two(0)
    val year = {
      val a = two(7); val c = two(9)
      if (a < 0 || c < 0) -1 else a * 100 + c
    }
    val hh = two(12); val mm = two(15); val ss = two(18)
    if (day < 0 || year <= 0 || hh < 0 || hh > 23 ||
      mm < 0 || mm > 59 || ss < 0 || ss > 59) return Long.MinValue

    val mcode = ((b(3) | 0x20) << 16) | ((b(4) | 0x20) << 8) | (b(5) | 0x20)
    var month = 0
    var i = 0
    while (month == 0 && i < 12) {
      if (MonthCodes(i) == mcode) month = i + 1
      i += 1
    }
    if (month == 0) return Long.MinValue

    val sign = b(21) match {
      case '+' => 1
      case '-' => -1
      case _   => return Long.MinValue
    }
    val oh = two(22); val om = two(24)
    // ZoneOffset range: ±18:00 inclusive, minutes 0-59
    if (oh < 0 || om < 0 || om > 59 || oh > 18 || (oh == 18 && om != 0))
      return Long.MinValue
    val offsetSec = sign * (oh * 3600 + om * 60)

    val leap = (year & 3) == 0 && (year % 100 != 0 || year % 400 == 0)
    val monthDays = month match {
      case 2              => if (leap) 29 else 28
      case 4 | 6 | 9 | 11 => 30
      case _              => 31
    }
    if (day < 1 || day > monthDays) return Long.MinValue
    ((epochDay(year, month, day, leap) * 86400L + hh * 3600L + mm * 60L + ss) -
      offsetSec) * 1000000L
  }

  /** `LocalDate.of(year, month, day).toEpochDay` for a valid date of a
    * positive year, without the allocation.
    */
  private def epochDay(year: Int, month: Int, day: Int, leap: Boolean): Long = {
    val y = year.toLong
    var total = 365 * y + (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400 +
      (367 * month - 362) / 12 + day - 1
    if (month > 2) total -= (if (leap) 1 else 2)
    total - 719528 // days from 0000-01-01 to 1970-01-01
  }
}
