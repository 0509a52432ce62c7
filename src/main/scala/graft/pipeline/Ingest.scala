package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.config.GraftConfig
import graft.format.LogTemplate
import graft.functions.{Casts, OptimizerFence, ParseLogLine, ParseLogTemplate}

/** Batch/streaming-agnostic ingest transform: one `value: String` column in
  * (as produced by `spark.read.text`, the Kafka source, or the syslog
  * source), the typed target schema out.
  *
  * Logical plan shape (fused by whole-stage codegen into a single
  * per-partition loop — strictly tighter than the reference's channel-hop
  * pipeline, see SURVEY §4.1):
  *
  *   Project(groups = fence(parse_log_line(value))) -- T2: ONE regex pass/line
  *   Project(cast chain × groups[i],                -- T3/T4/T5 typed columns
  *           valid = fence(AND(valid_i)))           -- T6 validity, same pass
  *   Filter(valid)                                  -- T6 malformed-row drop
  *   Project(drop valid)
  *
  * Two custom expressions do the heavy lifting:
  *   - [[graft.functions.ParseLogLine]] (codegen'd): one regex execution
  *     per line; the built-in alternative (RLIKE + N×regexp_extract) runs
  *     the full regex N+1 times per line;
  *   - [[graft.functions.OptimizerFence]] around the parse result and the
  *     validity flag: without it, predicate pushdown substitutes the
  *     aliases back into the filters and re-evaluates the regex once per
  *     validity conjunct (measured 10× ingest slowdown at sf0.1).
  *
  * Reference trace: `pkg/handler/handler.go:20-39` (parse → project →
  * cast per row), drop-on-error at `internal/services/filelog/impl.go:179-184`.
  */
object Ingest {

  /** The one-pass parse column: the byte-scanner fast path when every
    * delimiter is ASCII (always true for real nginx formats), else the
    * compiled-regex expression — bit-identical results either way
    * (`ParseScannerSpec` pins it).
    */
  private def parseCol(tpl: LogTemplate): Column =
    if (tpl.scannable) ParseLogTemplate(col("value"), tpl.format)
    else ParseLogLine(col("value"), tpl.regex)

  /** Full pipeline: returns only the valid, typed rows in the target
    * column order. Missing scheme field → plan-time error (the reference
    * drops such rows at runtime, `pkg/nginx/entry.go:17-23`; SURVEY §2.2 T3
    * marks the static check as the port's behavior).
    */
  def parse(df: DataFrame, cfg: GraftConfig): DataFrame = {
    val (good, _) = parseWithDeadLetter(df, cfg)
    good
  }

  /** Pipeline with dead-letter split: (valid typed rows, raw rejected
    * lines). Delivers the reference's TODO "saving corrupted files for
    * manual processing" (`/root/reference/README.md:30`).
    */
  def parseWithDeadLetter(df: DataFrame, cfg: GraftConfig): (DataFrame, DataFrame) = {
    val tpl = LogTemplate.compile(cfg.logFormat)
    val targets = cfg.orderedColumns
    targets.foreach { case (colName, field) =>
      require(tpl.groupIndex(field) > 0,
        s"field '$field' (column '$colName') does not exist in log format")
    }

    // one parse execution per line; both fences keep the Project
    // boundaries intact so neither the parse nor the validity conjuncts
    // get substituted into downstream filters (see class doc)
    val withGroups = df.withColumn("__groups", OptimizerFence(parseCol(tpl)))
    val fieldsOf: Map[String, Column] = tpl.fields.zipWithIndex.map {
      case (f, i) => f -> col("__groups").getItem(i)
    }.toMap

    val typed = targets.map { case (colName, field) =>
      colName -> Casts.castFor(field, fieldsOf(field), cfg)
    }
    val allValid = col("__groups").isNotNull &&
      typed.map(_._2.valid).reduce(_ && _)

    val good = withGroups
      .select(typed.map { case (name, tc) => tc.col.as(name) } :+
        OptimizerFence(allValid).as("__valid"): _*)
      .filter(col("__valid"))
      .drop("__valid")

    val bad = withGroups
      .filter(OptimizerFence(col("__groups").isNull || !typed.map(_._2.valid).reduce(_ && _)))
      .select(col("value"))
    (good, bad)
  }

  /** K4 parity: derive the materialized `insert_date` column
    * (`migrations/sample_test.sql:13` — `insert_date Date DEFAULT
    * toDate(time_local)`).
    */
  def withInsertDate(df: DataFrame, timeCol: String = "time_local"): DataFrame =
    df.withColumn("insert_date", to_date(col(timeCol)))

  /** The parquet table layout, one for stream and batch writes:
    * [[withInsertDate]] plus the yyyyMM [[PartitionColumn]]
    * (month partitioning, `migrations/sample_test.sql:18`).
    */
  def withTableLayout(df: DataFrame, timeCol: String = "time_local"): DataFrame =
    withInsertDate(df, timeCol)
      .withColumn(PartitionColumn, date_format(col("insert_date"), "yyyyMM"))

  val PartitionColumn = "insert_month"
}
