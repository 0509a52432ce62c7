package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** How [[TypedParse]] cuts a line into its fields. */
sealed trait LineSplit extends Serializable

object LineSplit {
  /** The byte scanner over the format's ASCII delimiters ([[LineScanner]]). */
  final case class Scan(format: String) extends LineSplit
  /** The compiled regex of a format with a non-ASCII delimiter
    * ([[ParseLogLine]]'s match, groups re-encoded as UTF-8).
    */
  final case class Regex(regex: String) extends LineSplit
  /** The whole value is field 0 ([[Casts.castFor]] on one column). */
  case object Whole extends LineSplit
}

/** One output column of [[TypedParse]]: the line's capture group `group`
  * (0-based) cast by `cast`.
  */
final case class TypedField(name: String, group: Int, cast: FieldCast)

/** The ingest kernel: one pass over a line's bytes, in place, to every
  * target column already cast, plus the row's validity.
  *
  * Output: `struct<fields..., __valid: boolean>`, never NULL. `__valid` is
  * false when the line is NULL, does not match the format, or a field does
  * not cast; the other fields of such a row are unspecified. A `-` field
  * reads as empty first when `removeHyphen` (`caster.go:72-75`).
  *
  * String fields are views of the line's bytes ([[FieldCast.Str]]), so
  * they live as long as the line value itself, like any column read from
  * the same row. The generated code fills one reused row per task with one
  * call per field and boxes nothing; the interpreted path builds a new row
  * per line. [[graft.pipeline.Ingest]] wraps the kernel in
  * [[OptimizerFence]] so Catalyst evaluates it once per row.
  */
case class TypedParse(child: Expression, split: LineSplit, fields: Seq[TypedField],
    removeHyphen: Boolean) extends UnaryExpression {

  @transient private lazy val kernel = new TypedParseKernel(split, fields, removeHyphen)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"typed_parse requires a string column, got ${child.dataType}")
    }
  override def dataType: DataType = StructType(
    fields.map(f => StructField(f.name, f.cast.dataType)) :+
      StructField(TypedParse.ValidField, BooleanType, nullable = false))
  override def nullable: Boolean = false
  override def prettyName: String = "typed_parse"

  override def eval(input: InternalRow): Any = {
    val st = kernel.newState()
    kernel.parse(child.eval(input).asInstanceOf[UTF8String], st)
    st.row
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("typedParse", kernel, classOf[TypedParseKernel].getName)
    val st = ctx.addMutableState(classOf[TypedParseState].getName, "typedParseState",
      v => s"$v = $k.newState();")
    val line = child.genCode(ctx)
    val ok = ctx.freshName("ok")
    // one call per field, each its own (monomorphic) call site
    val casts = fields.zipWithIndex.map { case (f, i) =>
      val c = ctx.addReferenceObj("fieldCast", f.cast, classOf[FieldCast].getName)
      s"if ($ok) $ok = $c.write($st.base(), $st.offs()[${f.group}], " +
        s"$st.lens()[${f.group}], $st.row(), $i);"
    }.mkString("\n")
    ev.copy(isNull = FalseLiteral, code = code"""
      ${line.code}
      boolean $ok = !${line.isNull} && $k.split(${line.value}, $st);
      $casts
      $st.row().setBoolean(${fields.size}, $ok);
      ${CodeGenerator.javaType(dataType)} ${ev.value} = $st.row();
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): TypedParse =
    copy(child = newChild)
}

object TypedParse {
  /** The name of the validity field, last in the struct. */
  val ValidField = "__valid"

  def apply(value: Column, split: LineSplit, fields: Seq[TypedField],
      removeHyphen: Boolean): Column =
    ColumnBridge.column(TypedParse(ColumnBridge.expression(value), split, fields, removeHyphen))
}

/** Per-task scratch of [[TypedParseKernel]]: the output row and where each
  * capture group of the current line lies (`offs` are addresses in `base`).
  */
final class TypedParseState(val row: SpecificInternalRow, val offs: Array[Long],
    val lens: Array[Int]) {
  var base: AnyRef = _
}

/** The runtime half of [[TypedParse]]: the split program and the casts. */
final class TypedParseKernel(split: LineSplit, fields: Seq[TypedField], removeHyphen: Boolean)
    extends Serializable {

  private val casts = fields.map(_.cast).toArray
  private val groupOf = fields.map(_.group).toArray
  private val scanner = split match {
    case LineSplit.Scan(format) => new LineScanner(format)
    case _                      => null
  }
  private val pattern = split match {
    case LineSplit.Regex(regex) => Pattern.compile(regex)
    case _                      => null
  }
  private val groups =
    if (scanner != null) scanner.groups
    else if (pattern != null) pattern.matcher("").groupCount()
    else 1

  def newState(): TypedParseState = new TypedParseState(
    new SpecificInternalRow(casts.map(_.dataType).toSeq :+ BooleanType),
    new Array[Long](groups), new Array[Int](groups))

  /** Finds the line's capture groups in `st`; false when the line does not
    * match the format.
    */
  def split(line: UTF8String, st: TypedParseState): Boolean = {
    val matched = split match {
      case LineSplit.Scan(_) =>
        st.base = line.getBaseObject
        scanner.split(st.base, line.getBaseOffset, line.numBytes, st.offs, st.lens)
      case LineSplit.Regex(_) => regexSplit(line, st)
      case LineSplit.Whole =>
        st.base = line.getBaseObject
        st.offs(0) = line.getBaseOffset
        st.lens(0) = line.numBytes
        true
    }
    if (matched && removeHyphen) {
      var g = 0
      while (g < groups) {
        if (st.lens(g) == 1 && Platform.getByte(st.base, st.offs(g)) == '-') st.lens(g) = 0
        g += 1
      }
    }
    matched
  }

  /** The regex path decodes the line to a Java string, as [[ParseLogLine]]
    * does, and lays the groups' UTF-8 bytes out in a new array.
    */
  private def regexSplit(line: UTF8String, st: TypedParseState): Boolean = {
    val m = pattern.matcher(line.toString)
    if (!m.matches()) return false
    val bytes = Array.tabulate(groups) { g =>
      val s = m.group(g + 1)
      if (s == null) Array.emptyByteArray else s.getBytes(UTF_8)
    }
    val all = new Array[Byte](bytes.map(_.length).sum)
    var at = 0
    var g = 0
    while (g < groups) {
      System.arraycopy(bytes(g), 0, all, at, bytes(g).length)
      st.offs(g) = Platform.BYTE_ARRAY_OFFSET + at
      st.lens(g) = bytes(g).length
      at += bytes(g).length
      g += 1
    }
    st.base = all
    true
  }

  /** The interpreted kernel: fills `st.row`, validity last. */
  def parse(line: UTF8String, st: TypedParseState): Unit = {
    var ok = line != null && split(line, st)
    var i = 0
    while (ok && i < casts.length) {
      val g = groupOf(i)
      ok = casts(i).write(st.base, st.offs(g), st.lens(g), st.row, i)
      i += 1
    }
    st.row.setBoolean(casts.length, ok)
  }
}
