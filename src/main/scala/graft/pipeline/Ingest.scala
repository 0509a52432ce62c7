package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.GraftConfig
import graft.format.LogTemplate
import graft.functions.{Casts, LineSplit, OptimizerFence, TypedField, TypedParse}

/** Batch/streaming-agnostic ingest transform: one `value: String` column in
  * (as produced by `spark.read.text`, the Kafka source, or the syslog
  * source), the typed target schema out.
  *
  * Logical plan shape (fused by whole-stage codegen into a single
  * per-partition loop — strictly tighter than the reference's channel-hop
  * pipeline, see SURVEY §4.1):
  *
  *   Project(__typed = fence(typed_parse(value)))   -- T2-T5: ONE pass/line
  *   Project(__typed.col_i [then a Catalyst step],  -- typed columns
  *           __valid = fence(__typed.__valid AND step validity))
  *   Filter(__valid)                                -- T6 malformed-row drop
  *   Project(drop __valid)
  *
  * Two custom expressions do the heavy lifting:
  *   - [[graft.functions.TypedParse]] (codegen'd): one scan of the line's
  *     bytes, in place, straight into every target column already cast
  *     (`Casts`' byte-level [[graft.functions.FieldCast]]s) plus the row's
  *     validity. The only Catalyst steps left are the casts with no
  *     byte-level form: Java-pattern timestamp and date layouts and
  *     `EmptyTimePolicy.Now`;
  *   - [[graft.functions.OptimizerFence]] around the kernel and the
  *     validity flag: without it, predicate pushdown substitutes the
  *     aliases back into the filters and re-evaluates the parse once per
  *     validity conjunct (measured 10× ingest slowdown at sf0.1).
  *
  * Reference trace: `pkg/handler/handler.go:20-39` (parse → project →
  * cast per row), drop-on-error at `internal/services/filelog/impl.go:179-184`.
  */
object Ingest {

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
    *
    * The line splits with the byte scanner when every delimiter of the
    * format is ASCII (always true for real nginx formats), else with the
    * compiled regex; both feed the same casts, with the same results
    * (`ParseScannerSpec` pins it).
    */
  def parseWithDeadLetter(df: DataFrame, cfg: GraftConfig): (DataFrame, DataFrame) = {
    val tpl = LogTemplate.compile(cfg.logFormat)
    val targets = cfg.orderedColumns.map { case (colName, field) =>
      require(tpl.groupIndex(field) > 0,
        s"field '$field' (column '$colName') does not exist in log format")
      (colName, tpl.groupIndex(field) - 1, Casts.planFor(field, cfg))
    }
    val split =
      if (tpl.scannable) LineSplit.Scan(tpl.format) else LineSplit.Regex(tpl.regex)
    val kernel = TypedParse(col("value"), split,
      targets.map { case (name, group, plan) => TypedField(name, group, plan.cast) },
      cfg.removeHyphen)

    // one kernel execution per line; both fences keep the Project
    // boundaries intact so neither the parse nor the validity conjuncts
    // get substituted into downstream filters (see class doc)
    val withTyped = df.withColumn("__typed", OptimizerFence(kernel))
    val typed = targets.map { case (name, _, plan) =>
      name -> plan.finish(col("__typed").getField(name))
    }
    val allValid = typed.foldLeft(col("__typed").getField(TypedParse.ValidField)) {
      case (v, (_, tc)) => v && tc.valid
    }

    val good = withTyped
      .select(typed.map { case (name, tc) => tc.col.as(name) } :+
        OptimizerFence(allValid).as("__valid"): _*)
      .filter(col("__valid"))
      .drop("__valid")

    val bad = withTyped
      .filter(OptimizerFence(!allValid))
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
