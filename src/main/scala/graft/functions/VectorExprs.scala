package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Codegen'd vector/sketch kernels.
  *
  * Spark's higher-order array functions (`transform`/`aggregate`/`zip_with`)
  * interpret their lambda per element — fine for composition, wrong for the
  * per-row inner loops of MinHash signatures and embedding dot products.
  * These expressions generate tight Java loops instead and stay inside
  * whole-stage codegen.
  */
object VectorExprs {

  /** MinHash signature of a 64-bit feature set, computed per row — the
    * zero-shuffle signature path: sig[j] = min over features h of
    * xxhash64(h, j) (bit-identical to the
    * `array_min(transform(hashes, h => xxhash64(h, lit(j))))` composition,
    * via the same XXH64 chain: hashInt(j, hashLong(h, 42)) — `lit(j)` is
    * an Int, so the composition hashes it with hashInt).
    *
    * Replaces both the interpreted HOF form (≈40× slower) and the
    * explode + k-min-aggregates form (a 500k×k-row aggregate with k buffer
    * fields — measured unstable under JIT/GC at k=96). Per-row cost is
    * |features|·k inlined hash calls; nothing shuffles.
    */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression {
    require(numHashes > 0)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "minhash_signature"

    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val sig = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val base = XXH64.hashLong(arr.getLong(i), 42L)
        var j = 0
        while (j < numHashes) {
          val v = XXH64.hashInt(j, base)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sig)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val xxh = classOf[XXH64].getName
      val unsafeArray =
        classOf[org.apache.spark.sql.catalyst.expressions.UnsafeArrayData].getName
      nullSafeCodeGen(ctx, ev, arr => {
        val sig = ctx.freshName("sig")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val n = ctx.freshName("n")
        val base = ctx.freshName("base")
        val v = ctx.freshName("v")
        s"""
           |long[] $sig = new long[$numHashes];
           |java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  long $base = $xxh.hashLong($arr.getLong($i), 42L);
           |  for (int $j = 0; $j < $numHashes; $j++) {
           |    long $v = $xxh.hashInt($j, $base);
           |    if ($v < $sig[$j]) $sig[$j] = $v;
           |  }
           |}
           |${ev.value} = $unsafeArray.fromPrimitiveArray($sig);
         """.stripMargin
      })
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
      copy(child = newChild)
  }

  /** Sequential-order dot product of two `array<double>` columns: the same
    * left-to-right summation as `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
    * (and DuckDB's `list_inner_product`), so results are bit-identical to
    * the HOF composition — just inside codegen instead of an interpreted
    * per-element lambda.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = left.nullable || right.nullable
    override def prettyName: String = "dot_product"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |double $acc = 0.0;
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** Distinct shingle hashes of an already-normalized string — see
    * [[Kernels.shingleHashes]]; both eval paths delegate to that static.
    */
  case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "shingle_hashes"

    override def nullSafeEval(input: Any): Any =
      Kernels.shingleHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.shingleHashes($s, $n);")

    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)
  }

  /** Positional span hashes over normalized text — see
    * [[Kernels.spanHashes]]; `posexplode` of the result gives
    * (0-based start, span hash) with occurrences kept.
    */
  case class SpanHashes(child: Expression, k: Int) extends UnaryExpression {
    require(k > 0)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "span_hashes"

    override def nullSafeEval(input: Any): Any =
      Kernels.spanHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.spanHashes($s, $k);")

    override protected def withNewChildInternal(newChild: Expression): SpanHashes =
      copy(child = newChild)
  }

  /** [[ShingleHashes]] sorted ascending (one global total order over the
    * hash universe) — the input side of prefix-filtered set-similarity
    * joins and of [[SortedIntersectCount]]. See [[Kernels.sortedShingleHashes]].
    */
  case class SortedShingleHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0)

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "sorted_shingle_hashes"

    override def nullSafeEval(input: Any): Any =
      Kernels.sortedShingleHashes(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.sortedShingleHashes($s, $n);")

    override protected def withNewChildInternal(newChild: Expression): SortedShingleHashes =
      copy(child = newChild)
  }

  /** |A ∩ B| of two ascending-sorted distinct `array<long>` columns via a
    * zero-allocation two-pointer merge — replaces the
    * `size(array_intersect(a, b))` verify step (which builds a hash set per
    * row pair) in the set-similarity joins. Results are equal for sorted
    * distinct inputs; a spec pins that. See [[Kernels.sortedIntersectCount]].
    */
  case class SortedIntersectCount(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = IntegerType
    override def nullable: Boolean = left.nullable || right.nullable
    override def prettyName: String = "sorted_intersect_count"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.Kernels.sortedIntersectCount($a, $b);")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SortedIntersectCount =
      copy(left = newLeft, right = newRight)
  }

  /** [[Kernels.simhash60]] as a codegen'd expression over normalized
    * text: the whole SimHash fingerprint in one map-side call — the
    * explode + 60-aggregate form this displaces shuffled a 60-int vector
    * per (partition, doc).
    */
  case class Simhash60(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "simhash60"

    override def nullSafeEval(input: Any): Any =
      Kernels.simhash60(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.simhash60($s);")

    override protected def withNewChildInternal(newChild: Expression): Simhash60 =
      copy(child = newChild)
  }

  /** [[Kernels.pqCodes]] as a codegen'd expression: the PQ encode inner
    * loop (m·k·subDim multiply-adds per vector — the bulk operation when
    * compressing a 100 TB embedding store) as tight primitive-array
    * loops instead of interpreted HOF lambdas. The flat codebook arrays
    * ride the plan as reference objects, the codegen analog of a
    * broadcast literal.
    */
  case class PqCodes(child: Expression, flat: Array[Double],
      starts: Array[Int], counts: Array[Int], subDim: Int)
      extends UnaryExpression {
    require(subDim > 0 && starts.length == counts.length)

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "pq_codes"

    override def nullSafeEval(input: Any): Any =
      Kernels.pqCodes(input.asInstanceOf[ArrayData], flat, starts, counts, subDim)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
      val startsRef = ctx.addReferenceObj("pqStarts", starts, "int[]")
      val countsRef = ctx.addReferenceObj("pqCounts", counts, "int[]")
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.Kernels.pqCodes(" +
          s"$v, $flatRef, $startsRef, $countsRef, $subDim);")
    }

    override protected def withNewChildInternal(newChild: Expression): PqCodes =
      copy(child = newChild)
  }

  /** [[Kernels.adcSum]] as a codegen'd expression: the ADC scoring inner
    * loop of the PQ serving paths — m table lookups + adds per
    * (corpus row × query) pair, the highest row-count expression in the
    * ANN entries — as one tight loop instead of the interpreted
    * `aggregate(zip_with(codes, tbl, element_at))` lambda chain (which
    * additionally materializes a zipped m-element array per pair).
    * Null algebra matches the HOF composition exactly; see the kernel.
    */
  case class AdcSum(left: Expression, right: Expression)
      extends BinaryExpression {

    // loud-error policy (r20, ADVICE item): the kernel reads codes with
    // getInt, so an array<bigint> codes column would read garbage bytes —
    // fail analysis instead (AbstractDataType is private[sql], so the
    // check is spelled directly rather than via ExpectsInputTypes)
    override def checkInputDataTypes():
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      (left.dataType, right.dataType) match {
        case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (ARRAY<INT>, ARRAY<ARRAY<DOUBLE>>), " +
            s"got (${l.sql}, ${r.sql})")
      }
    }
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "adc_sum"

    override def nullSafeEval(a: Any, b: Any): Any =
      Kernels.adcSum(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, t) => {
        val res = ctx.freshName("res")
        s"""
           |java.lang.Double $res = graft.functions.Kernels.adcSum($c, $t);
           |if ($res == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $res.doubleValue(); }
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): AdcSum =
      copy(left = newLeft, right = newRight)
  }

  def adcSum(codes: Column, tbl: Column): Column =
    ColumnBridge.column(AdcSum(ColumnBridge.expression(codes),
      ColumnBridge.expression(tbl)))

  def pqCodes(v: Column, flat: Array[Double], starts: Array[Int],
      counts: Array[Int], subDim: Int): Column =
    ColumnBridge.column(PqCodes(ColumnBridge.expression(v),
      flat, starts, counts, subDim))

  def simhash60(normalizedText: Column): Column =
    ColumnBridge.column(Simhash60(ColumnBridge.expression(normalizedText)))

  def minhashSignature(features: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(features), numHashes))

  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def shingleHashes(normalizedText: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(normalizedText), n))

  def spanHashes(normalizedText: Column, k: Int): Column =
    ColumnBridge.column(SpanHashes(ColumnBridge.expression(normalizedText), k))

  def sortedShingleHashes(normalizedText: Column, n: Int): Column =
    ColumnBridge.column(SortedShingleHashes(ColumnBridge.expression(normalizedText), n))

  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Gear-hash content-defined cut positions (array<int>, 1-based, never
    * the last) — see [[Kernels.gearCutsBounded]]; minLen = 1 and
    * maxLen = MaxValue give the pure content-defined form. Replaces a
    * maskBits-term per-character HOF expression tree with one rolling
    * byte/codepoint loop inside whole-stage codegen.
    */
  case class GearCuts(child: Expression, maskBits: Int, mult: Long,
      minLen: Int, maxLen: Int) extends UnaryExpression {
    require(maskBits >= 1 && maskBits <= 16 && minLen >= 1 && maxLen >= minLen)

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullable: Boolean = child.nullable
    override def prettyName: String = "gear_cuts"

    override def nullSafeEval(input: Any): Any =
      Kernels.gearCutsBounded(
        input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
        maskBits, mult, minLen, maxLen)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, s =>
        s"${ev.value} = graft.functions.Kernels.gearCutsBounded($s, $maskBits, ${mult}L, $minLen, $maxLen);")

    override protected def withNewChildInternal(newChild: Expression): GearCuts =
      copy(child = newChild)
  }

  def gearCuts(normalizedText: Column, maskBits: Int, mult: Long,
      minLen: Int = 1, maxLen: Int = Int.MaxValue): Column =
    ColumnBridge.column(GearCuts(ColumnBridge.expression(normalizedText),
      maskBits, mult, minLen, maxLen))
}
