package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.format.LogTemplate

/** Scanner fast path of the log-line parser: byte-level `indexOf` over the
  * template's literal delimiters instead of a regex engine — the classic
  * fast-log-parser shape, exactly equivalent to [[ParseLogLine]]'s
  * compiled regex for every template this compiler emits (equivalence
  * argument in [[LogTemplate.Step]]'s scaladoc; pinned bit-identical by
  * the randomized property spec). Returns every field as `array<string>`
  * or NULL when the line does not match the format.
  *
  * This is the `parse_log_template` SQL function. The ingest pipeline runs
  * the same [[LineScanner]] inside its typed kernel ([[TypedParse]]),
  * which casts the groups where they lie instead of returning strings.
  * Guarded by [[LogTemplate.scannable]] (ASCII delimiters); the regex
  * splits otherwise.
  *
  * One deliberate delta on INVALID UTF-8 input: the regex path decodes to
  * a Java String first, replacing bad byte sequences with U+FFFD, while
  * the scanner slices the raw bytes through unchanged. The scanner's
  * behavior is the reference-faithful one (Go parses raw bytes,
  * `pkg/nginx/template.go:22-37`); the equivalence property therefore
  * quantifies over valid UTF-8 lines.
  *
  * Per line: one linear scan over the line's bytes in place, one copy per
  * group, no Matcher allocation, no backtracking machinery. Measured ~4-6×
  * faster than the regex pass on the 7-field access-log format.
  */
case class ParseLogTemplate(child: Expression, format: String)
    extends UnaryExpression {

  @transient private lazy val scanner = new LineScanner(format)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"parse_log_template requires a string column, got ${child.dataType}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "parse_log_template"

  override def nullSafeEval(input: Any): Any =
    scanner.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scannerRef =
      ctx.addReferenceObj("lineScanner", scanner, classOf[LineScanner].getName)
    nullSafeCodeGen(ctx, ev, subject => {
      val r = ctx.freshName("parsed")
      s"""
         |org.apache.spark.sql.catalyst.util.GenericArrayData $r =
         |  $scannerRef.parse($subject);
         |if ($r != null) { ${ev.value} = $r; } else { ${ev.isNull} = true; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): ParseLogTemplate =
    copy(child = newChild)
}

object ParseLogTemplate {
  def apply(value: Column, format: String): Column =
    ColumnBridge.column(ParseLogTemplate(ColumnBridge.expression(value), format))
}

/** The compiled scan program: flat arrays, one call per line from the
  * generated code, reading the line through `Platform.getByte` where it
  * lies. Serializable so the expression ships to executors.
  */
final class LineScanner(format: String) extends Serializable {

  // step kinds
  private final val LIT = 0      // literal bytes must match here
  private final val VAR_MID = 1  // group to first delim byte (literal follows)
  private final val VAR_TAIL = 2 // group to end of line; delim must not occur

  private val (kinds, lits, delims, numGroups) = {
    val tpl = LogTemplate.compile(format)
    require(tpl.scannable,
      s"format has a non-ASCII delimiter; use the regex path: $format")
    val ks = Array.newBuilder[Int]
    val ls = Array.newBuilder[Array[Byte]]
    val ds = Array.newBuilder[Byte]
    var groups = 0
    tpl.steps.foreach {
      case LogTemplate.LitStep(s) =>
        ks += LIT; ls += s.getBytes(java.nio.charset.StandardCharsets.UTF_8); ds += 0
      case LogTemplate.VarStep(d, hasLitAfter) =>
        ks += (if (hasLitAfter) VAR_MID else VAR_TAIL)
        ls += Array.emptyByteArray; ds += d.toByte
        groups += 1
    }
    (ks.result(), ls.result(), ds.result(), groups)
  }

  /** Number of capture groups a matching line yields. */
  def groups: Int = numGroups

  /** One line → capture groups, or null on format mismatch. Each group is
    * a copy, so the array outlives the line's buffer.
    */
  def parse(line: UTF8String): GenericArrayData = {
    val offs = new Array[Long](numGroups)
    val lens = new Array[Int](numGroups)
    val base = line.getBaseObject
    if (!split(base, line.getBaseOffset, line.numBytes, offs, lens)) return null
    val out = new Array[Any](numGroups)
    var g = 0
    while (g < numGroups) {
      val b = new Array[Byte](lens(g))
      Platform.copyMemory(base, offs(g), b, Platform.BYTE_ARRAY_OFFSET, lens(g))
      out(g) = UTF8String.fromBytes(b)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Scans the `n` bytes at `base` + `off` in place. On a match, group `g`
    * is the `lens(g)` bytes at `offs(g)` (an address in `base`, like `off`)
    * and the result is true; false when the line does not match the format.
    */
  def split(base: AnyRef, off: Long, n: Int, offs: Array[Long], lens: Array[Int]): Boolean = {
    var pos = 0
    var g = 0
    var k = 0
    while (k < kinds.length) {
      kinds(k) match {
        case LIT =>
          val lit = lits(k)
          val len = lit.length
          if (pos + len > n) return false
          var i = 0
          while (i < len) {
            if (Platform.getByte(base, off + pos + i) != lit(i)) return false
            i += 1
          }
          pos += len
        case VAR_MID =>
          val d = delims(k)
          var j = pos
          while (j < n && Platform.getByte(base, off + j) != d) j += 1
          if (j == n) return false // required literal (starting with d) can't match
          offs(g) = off + pos; lens(g) = j - pos
          g += 1
          pos = j
        case VAR_TAIL =>
          val d = delims(k)
          var j = pos
          while (j < n && Platform.getByte(base, off + j) != d) j += 1
          if (j != n) return false // delim in the tail → anchored match fails
          offs(g) = off + pos; lens(g) = n - pos
          g += 1
          pos = n
      }
      k += 1
    }
    pos == n
  }
}
