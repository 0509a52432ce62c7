package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `value RLIKE '^[0-9]+$'` (unsigned) / `'^[+-]?[0-9]+$'` (signed) as a
  * byte loop — the strconv strictness check of the per-field Catalyst
  * chains ([[CastChain]]) the ingest kernel replaced, kept with them as the
  * specs' reference. Pinned equivalent to the RLIKE forms by
  * `ParseScannerSpec`.
  *
  * ASCII-safe on UTF-8 bytes: digit/sign bytes never occur inside
  * multi-byte sequences, and any multi-byte character fails the check
  * exactly as the regex does.
  */
case class DigitCheck(child: Expression, allowSign: Boolean)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"digit_check requires a string column, got ${child.dataType}")
    }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "digit_check"

  override def nullSafeEval(input: Any): Any =
    DigitCheck.check(input.asInstanceOf[UTF8String], allowSign)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = DigitCheck.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, subject =>
      s"${ev.value} = $cls.check($subject, $allowSign);")
  }

  override protected def withNewChildInternal(newChild: Expression): DigitCheck =
    copy(child = newChild)
}

object DigitCheck {
  /** digits-only (with optional leading sign when `allowSign`), at least
    * one digit required — exactly RLIKE `^[+-]?[0-9]+$` / `^[0-9]+$`,
    * INCLUDING Java regex's rule that `$` also matches before ONE final
    * line terminator: a single trailing `\n`, `\r\n`, or `\r` is ignored
    * (so "123\n" passes, as it did under RLIKE — and the numeric cast
    * trims it too). The non-ASCII terminators (NEL/LS/PS) that `$` also
    * honors are NOT special-cased: they fail the digit loop here, and the
    * paired numeric cast fails on them anyway, so the combined validity
    * verdict is identical.
    */
  def check(s: UTF8String, allowSign: Boolean): Boolean = {
    val b = s.getBytes
    var n = b.length
    // Java-regex '$': ignore one final \n, \r\n, or \r
    if (n > 0 && b(n - 1) == '\n') {
      n -= 1
      if (n > 0 && b(n - 1) == '\r') n -= 1
    } else if (n > 0 && b(n - 1) == '\r') n -= 1
    var i = 0
    if (allowSign && n > 0 && (b(0) == '+' || b(0) == '-')) i = 1
    if (i >= n) return false // empty or bare sign
    while (i < n) {
      val c = b(i)
      if (c < '0' || c > '9') return false
      i += 1
    }
    true
  }

  def unsigned(v: Column): Column =
    ColumnBridge.column(DigitCheck(ColumnBridge.expression(v), allowSign = false))
  def signed(v: Column): Column =
    ColumnBridge.column(DigitCheck(ColumnBridge.expression(v), allowSign = true))
}
