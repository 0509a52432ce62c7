package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text-quality statistics kernel.
  *
  * The composed form of the C4-style quality signals costs four regex
  * passes (three of which allocate a full rewritten string per row) plus a
  * split and an INTERPRETED higher-order stopword filter. This expression
  * computes the same six counters in a single pass over the UTF-8 bytes
  * with zero intermediate allocation, and is pinned bit-identical to the
  * composed form by `TextExprsSpec`.
  *
  * Semantics mirrored exactly:
  *   - n_chars   = `length(text)` — UTF-8 code points (bytes not of the
  *                 form 10xxxxxx);
  *   - n_alpha   = matches of `[A-Za-z]` (single-byte, so byte test);
  *   - n_digit   = matches of `[0-9]`;
  *   - n_space   = matches of java-regex `\s` = `[ \t\n\x0B\f\r]` (ASCII);
  *   - n_toks    = `size(split(trim(text), "\\s+"))` — runs of non-ws in
  *                 the trimmed text, EXCEPT that an empty/all-ws input
  *                 yields 1 (Java split returns one empty token there);
  *   - stop_hits = tokens of `lower(text)` equal to one of the stopwords.
  *                 Tokenization is unaffected by lowercasing and the
  *                 stopword list is plain ASCII, so ASCII-lowercased token
  *                 comparison is equivalent (no Unicode mapping produces a
  *                 new pure-ASCII-letter token: the only char that
  *                 case-folds INTO ASCII is U+212A KELVIN SIGN → 'k',
  *                 which no stopword contains).
  */
object TextExprs {

  /** [[Kernels.tryToLongExact]] as an expression: bit-identical to
    * `Cast(child, LongType, EvalMode.TRY)` for string input, minus the
    * per-row SparkNumberFormatException TRY constructs on every reject
    * (the JSONExtractInt first-leg cost — see the kernel's scaladoc).
    */
  case class TryLongExact(child: Expression) extends UnaryExpression {

    // loud-error policy (r20, ADVICE item): the kernel scans UTF8String
    // bytes — fail analysis on a non-string child instead of reading
    // garbage (AbstractDataType is private[sql], so the check is spelled
    // directly rather than via ExpectsInputTypes)
    override def checkInputDataTypes(): TypeCheckResult =
      child.dataType match {
        case _: StringType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a STRING child, got ${t.sql}")
      }
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override def nullable: Boolean = true
    override def prettyName: String = "try_long_exact"

    override def nullSafeEval(input: Any): Any =
      Kernels.tryToLongExact(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s => {
        val res = ctx.freshName("res")
        s"""
           |java.lang.Long $res = graft.functions.Kernels.tryToLongExact($s);
           |if ($res == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $res.longValue(); }
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): TryLongExact =
      copy(child = newChild)
  }

  val StatsSchema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false),
    StructField("n_digit", IntegerType, nullable = false),
    StructField("n_space", IntegerType, nullable = false),
    StructField("n_toks", IntegerType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false)))

  case class TextQualityStats(child: Expression, stopwords: Seq[String])
      extends UnaryExpression {
    require(stopwords.forall(w => w.nonEmpty && w.forall(c => c < 128 && !c.isUpper)),
      "stopwords must be non-empty lowercase ASCII")

    override def dataType: DataType = StatsSchema
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "text_quality_stats"

    @transient private lazy val stopBytes: Array[Array[Byte]] =
      stopwords.map(_.getBytes("UTF-8")).toArray

    override def nullSafeEval(input: Any): Any =
      Kernels.textQualityStats(input.asInstanceOf[UTF8String], stopBytes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val words = ctx.addReferenceObj("stopwords", stopBytes, "byte[][]")
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.textQualityStats($s, $words);")
    }

    override protected def withNewChildInternal(newChild: Expression): TextQualityStats =
      copy(child = newChild)
  }

  def textQualityStats(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(TextQualityStats(ColumnBridge.expression(text), stopwords))

  val RepetitionSchema: StructType = StructType(Seq(
    StructField("n_toks", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top1", IntegerType, nullable = false),
    StructField("top2", IntegerType, nullable = false),
    StructField("top3", IntegerType, nullable = false)))

  /** Per-row repetition counters over NORMALIZED text — replaces three
    * explode + double-aggregate + join rounds (six shuffles of raw gram
    * rows) with one map-side kernel call: the Gopher repetition signals
    * become a pure scan-speed projection at any corpus size. Equivalence
    * to the exploded composition is pinned by `TextExprsSpec`.
    */
  case class RepetitionStats(child: Expression) extends UnaryExpression {

    override def dataType: DataType = RepetitionSchema
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "repetition_stats"

    override def nullSafeEval(input: Any): Any =
      Kernels.repetitionStats(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.repetitionStats($s);")

    override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
      copy(child = newChild)
  }

  def repetitionStats(normalizedText: Column): Column =
    ColumnBridge.column(RepetitionStats(ColumnBridge.expression(normalizedText)))

  /** [[Kernels.scrubTokens]] as an expression — the d17/d20 span-scrub
    * rebuild (`array_join(filter(split(norm, " "), keep-if-position-not-
    * cut), " ")`) as ONE byte pass instead of an interpreted per-token
    * HOF lambda (an `array_contains` probe per token) plus split /
    * filtered-array / join materializations. NULL `cut` (the "doc has no
    * duplicated spans" left-join case) keeps every token — so only the
    * TEXT child is null-gated; a null text yields null, exactly like the
    * composition.
    */
  case class ScrubTokens(left: Expression, right: Expression)
      extends BinaryExpression {

    // loud-error policy: byte-scanning kernels must fail analysis on a
    // wrong-typed child, never read mis-shaped data
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (_: StringType, ArrayType(IntegerType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (STRING, ARRAY<INT>), got (${l.sql}, ${r.sql})")
      }
    override def dataType: DataType = StringType
    override def nullable: Boolean = left.nullable
    override def prettyName: String = "scrub_tokens"

    override def eval(input: InternalRow): Any = {
      val s = left.eval(input)
      if (s == null) null
      else Kernels.scrubTokens(s.asInstanceOf[UTF8String],
        right.eval(input).asInstanceOf[ArrayData])
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val textGen = left.genCode(ctx)
      val cutGen = right.genCode(ctx)
      val javaType = CodeGenerator.javaType(dataType)
      ev.copy(code =
        code"""
          ${textGen.code}
          boolean ${ev.isNull} = ${textGen.isNull};
          $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
          if (!${ev.isNull}) {
            ${cutGen.code}
            ${ev.value} = graft.functions.Kernels.scrubTokens(
              ${textGen.value}, ${cutGen.isNull} ? null : ${cutGen.value});
          }
        """)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): ScrubTokens =
      copy(left = newLeft, right = newRight)
  }

  /** The interpreted composition [[ScrubTokens]] replaces — kept as the
    * spec's equivalence reference, never on a hot path.
    */
  def scrubTokensRef(norm: Column, cut: Column): Column = {
    import org.apache.spark.sql.functions._
    array_join(filter(split(norm, " "),
      (_, i) => !coalesce(array_contains(cut, i + 1),
        org.apache.spark.sql.functions.lit(false))), " ")
  }

  def scrubTokens(norm: Column, cut: Column): Column =
    ColumnBridge.column(ScrubTokens(ColumnBridge.expression(norm),
      ColumnBridge.expression(cut)))

  /** [[Kernels.joinExcept]] as an expression — the d22/d24 paragraph
    * rebuild (`array_join(filter(paras, keep-if-index-not-cut), sep)`) as
    * one pass. Same null contract as [[ScrubTokens]]: only the ARRAY
    * child is null-gated, a null `cut` keeps everything. `base` is the
    * position convention of `cut` (0 for the filter-lambda index form,
    * 1 for 1-based positions).
    */
  case class JoinExcept(left: Expression, right: Expression, sep: String,
      base: Int) extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(_: StringType, _), ArrayType(IntegerType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (ARRAY<STRING>, ARRAY<INT>), got (${l.sql}, ${r.sql})")
      }
    override def dataType: DataType = StringType
    override def nullable: Boolean = left.nullable
    override def prettyName: String = "join_except"

    @transient private lazy val sepU: UTF8String = UTF8String.fromString(sep)

    override def eval(input: InternalRow): Any = {
      val a = left.eval(input)
      if (a == null) null
      else Kernels.joinExcept(a.asInstanceOf[ArrayData],
        right.eval(input).asInstanceOf[ArrayData], sepU, base)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val arrGen = left.genCode(ctx)
      val cutGen = right.genCode(ctx)
      val sepRef = ctx.addReferenceObj("joinExceptSep", sepU,
        "org.apache.spark.unsafe.types.UTF8String")
      val javaType = CodeGenerator.javaType(dataType)
      ev.copy(code =
        code"""
          ${arrGen.code}
          boolean ${ev.isNull} = ${arrGen.isNull};
          $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
          if (!${ev.isNull}) {
            ${cutGen.code}
            ${ev.value} = graft.functions.Kernels.joinExcept(
              ${arrGen.value}, ${cutGen.isNull} ? null : ${cutGen.value},
              $sepRef, $base);
          }
        """)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JoinExcept =
      copy(left = newLeft, right = newRight)
  }

  /** The interpreted composition [[JoinExcept]] replaces (base = 0) —
    * the spec's equivalence reference.
    */
  def joinExceptRef(arr: Column, cut: Column, sep: String): Column = {
    import org.apache.spark.sql.functions._
    array_join(filter(arr, (_, i) => !coalesce(array_contains(cut, i),
      org.apache.spark.sql.functions.lit(false))), sep)
  }

  def joinExcept(arr: Column, cut: Column, sep: String, base: Int): Column =
    ColumnBridge.column(JoinExcept(ColumnBridge.expression(arr),
      ColumnBridge.expression(cut), sep, base))
}
