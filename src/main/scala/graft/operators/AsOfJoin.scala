package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (a.k.a. point-in-time / MERGE_ASOF) join — an operator Spark has
  * no built-in for.
  *
  * `backward(left, right, …)` attaches to every left row the single right
  * row with the greatest `rightTs <= leftTs` for the same key.
  *
  * Implementation is the union-and-running-window form, not a range join:
  * tag both inputs, union them, sort each key's rows by (ts, tag) with
  * right rows first on ties (inclusive `<=` semantics), and carry the last
  * non-null right payload forward with a running `last(…, ignoreNulls)`
  * frame. Cost at scale: ONE shuffle on the key + one in-partition sort —
  * never the O(|L|·|R|) intermediate a `l.ts >= r.ts` theta-join would
  * produce, and no per-key driver loops. The window frame is running
  * (UNBOUNDED PRECEDING → CURRENT ROW), which WindowExec evaluates
  * incrementally.
  *
  * Ties on (key, rightTs) in the right input are resolved arbitrarily —
  * pre-deduplicate the right side to one row per (key, ts) for
  * deterministic output (as the catalog query does).
  */
object AsOfJoin {

  /** Backward as-of join. Column names of `left` and `right` payloads must
    * not clash (keys/timestamps excluded — they are renamed internally).
    *
    * Returns: all `left` columns, then the matched right payload columns
    * (right columns minus its key/ts), inner-join semantics (left rows with
    * no match are dropped; use `backwardOuter` to keep them with nulls).
    */
  def backward(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame =
    joined(left, right, leftKey, leftTs, rightKey, rightTs)
      .where(col("__r").isNotNull)
      .select(col("__l.*"), col("__r.*"))

  /** Backward as-of join keeping unmatched left rows (right columns null). */
  def backwardOuter(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame =
    joined(left, right, leftKey, leftTs, rightKey, rightTs)
      .select(col("__l.*"), col("__r.*"))

  private def joined(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    val rightPayloadCols = right.columns.filter(c => c != rightKey && c != rightTs)
    val lStruct = struct(left.columns.map(col).toSeq: _*)
    val rStruct = struct(rightPayloadCols.map(col).toSeq: _*)
    val rType = right.select(rStruct).schema.head.dataType
    val lType = left.select(lStruct).schema.head.dataType

    val l = left.select(col(leftKey).as("__k"), col(leftTs).as("__ts"),
      lit(1).as("__side"), lStruct.as("__lp"), lit(null).cast(rType).as("__rp"))
    val r = right.select(col(rightKey).as("__k"), col(rightTs).as("__ts"),
      lit(0).as("__side"), lit(null).cast(lType).as("__lp"), rStruct.as("__rp"))

    // right rows sort before left rows at equal ts → `<=` (inclusive) match
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    l.unionByName(r)
      .withColumn("__r", last(col("__rp"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .withColumnRenamed("__lp", "__l")
  }

  /** Forward as-of join: smallest `rightTs >= leftTs` per key (the mirror
    * of [[backward]]; sort order reversed, left rows first on ties).
    */
  def forward(
      left: DataFrame, right: DataFrame,
      leftKey: String, leftTs: String,
      rightKey: String, rightTs: String): DataFrame = {
    val rightPayloadCols = right.columns.filter(c => c != rightKey && c != rightTs)
    val lStruct = struct(left.columns.map(col).toSeq: _*)
    val rStruct = struct(rightPayloadCols.map(col).toSeq: _*)
    val rType = right.select(rStruct).schema.head.dataType
    val lType = left.select(lStruct).schema.head.dataType

    val l = left.select(col(leftKey).as("__k"), col(leftTs).as("__ts"),
      lit(0).as("__side"), lStruct.as("__lp"), lit(null).cast(rType).as("__rp"))
    val r = right.select(col(rightKey).as("__k"), col(rightTs).as("__ts"),
      lit(1).as("__side"), lit(null).cast(lType).as("__lp"), rStruct.as("__rp"))

    // ts descending; right rows (side 1) before left rows at equal ts →
    // `>=` (inclusive) match
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts").desc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    l.unionByName(r)
      .withColumn("__r", last(col("__rp"), ignoreNulls = true).over(w))
      .where(col("__side") === 0 && col("__r").isNotNull)
      .select(col("__lp.*"), col("__r.*"))
  }
}
