package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{DataOps, Q, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The catalog is assembled from:
  *   - [[graft.queries.Relational]] — the declared analytical surface
  *     (SURVEY §2.4): joins, aggs, rollup/cube/grouping sets, windows,
  *     sorts/top-k, set ops, scalar/date/math/string fns, JSON,
  *     event-time windows;
  *   - [[graft.queries.DataOps]] — ingest parity (i01 = the reference's
  *     whole pipeline, SURVEY §2.1-2.3) plus the training-data operators
  *     (dedup, similarity search, text analysis, multimodal plumbing).
  */
object SparkEntry {

  private val base: Map[String, Q] = Relational.all ++ DataOps.all

  /** The catalog entries whose correctness is SELF-CHECKED (their outputs
    * embed boolean `pass` / `*_in_bound` invariant columns) because
    * sketch/LSH/k-means internals have no DuckDB-expressible oracle.
    */
  private val selfCheckedNames: Seq[String] = Seq(
    "d15_semantic_dedup_blocked", "q33_approx_sketches",
    "q48_hll_merge", "s02_ann_lsh", "s05_ann_ivf_lloyd", "s06_ann_pq",
    "s07_ann_ivfpq", "s09_pca_project", "s10_ann_pca_rerank",
    "s12_ann_index_serve",
    "t18_bpe_tokenize", "p07_tokenize_pack_pipeline", "t19_heavy_hitters",
    "t20_kll_quantiles", "t21_reservoir_sample", "t22_theta_set_ops",
    "t24_topk_weighted", "t25_histogram", "t27_kll_state_merge")

  /** z01_self_checks (r6 verdict item 6): the driver's CORRECTNESS artifact
    * recorded the self-checking entries as bare `no_oracle`, so a
    * regression in any of their invariants would not fail the round. This
    * entry re-runs each of them, folds every boolean flag column to a
    * single all-true verdict (NULL or empty result counts as failure —
    * same contract as Verify's self_check.json), and emits `(name, pass)`
    * rows against a trivial VALUES oracle expecting all-true. Now the
    * driver artifact itself hash-mismatches if any self-check regresses.
    */
  private val z01: Q = Q(
    (s, dir) => {
      import org.apache.spark.sql.functions.{coalesce, col, lit, min}
      selfCheckedNames.map { name =>
        val df = base(name).fn(s, dir)
        val flags = df.schema.fields.collect {
          case f if f.dataType == org.apache.spark.sql.types.BooleanType &&
            (f.name == "pass" || f.name.endsWith("in_bound")) => f.name
        }
        require(flags.nonEmpty, s"$name lost its self-check flag columns")
        df.agg(min(flags.map(f => coalesce(col(f), lit(false)))
            .reduce(_ && _)).as("all_true"))
          .select(lit(name).as("name"),
            coalesce(col("all_true"), lit(false)).as("pass"))
      }.reduce(_ unionByName _)
    },
    Some(selfCheckedNames
      .map(n => s"('$n', true)")
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS t(name, pass)")),
    "driver-provable self-check rollup: re-evaluates the invariant flags " +
      "of the no-oracle entries; oracle expects every row true")

  val catalog: Map[String, Q] = base + ("z01_self_checks" -> z01)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each builds in
    * a session with the engine's SQL surface, whoever made the session.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) =>
        graft.plans.GraftExtensions.install(s)
        q.fn(s, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (probabilistic signatures, binary plumbing) → rows-only check.
    */
  def oracleSql: Map[String, String] =
    catalog.collect { case (name, q) if q.oracle.isDefined => name -> q.oracle.get }
}
