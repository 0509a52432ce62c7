package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries against
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) and prints ONE JSON line
  * `{"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Also reports `ingest_lines_per_sec` (the reference's own headline
  * number — BASELINE.md targets ≥10k parsed lines/s/core;
  * `/root/reference/README.md:540`).
  */
object Bench {

  /** Headline subset: one representative per operator family, including
    * every heavy operator (zorder write, winnowing, duplicate clustering,
    * span inventory, stratified sampling), so no expensive path goes
    * unbenched.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_segment_revenue", "q05_region_revenue",
    "q06_revenue_forecast", "q09_window_rank", "q15_distinct_agg",
    "q25_tumbling_window", "q27_session_window", "q28_asof_join",
    "q29_range_lookup", "i01_ingest_e2e", "d01_exact_dedup_groups",
    "d03_minhash_neardups", "d04_simhash", "d05_ngram_jaccard",
    "d07_dup_clusters", "d08_cross_corpus", "d09_decontaminate",
    "d10_editdist", "d11_dup_spans", "d11b_dup_spans_fast", "d12_semantic_dedup",
    "d13_bloom_decontaminate", "d17_span_scrub",
    "d14_semantic_decontaminate", "m03_media_resize",
    "s01_ann_bruteforce", "s03_ann_ivf", "t02_quality", "t05_winnowing",
    "t06_repetition", "t08_vocab", "t09_top_terms", "t10_c4_filters",
    "q34_zorder", "q36_seq_pack", "q38_epoch_shuffle",
    "q39_topk_per_key", "q42_resample", "q43_stratified_sample", "q58_bucketed_join",
    "q47_chunk_overlap", "d19_quality_survivors", "d20_intradoc_scrub",
    "d22_paragraph_dedup", "d23_cdc_chunks", "s06_ann_pq", "s07_ann_ivfpq", "t17_nb_classify",
    "t18_bpe_tokenize", "t19_heavy_hitters", "t20_kll_quantiles",
    "t21_reservoir_sample", "t22_theta_set_ops", "t23_uniq_upto",
    "t24_topk_weighted",
    "s08_hard_negatives", "s09_pca_project",
    "s10_ann_pca_rerank", "s12_ann_index_serve", "q52_cdc_merge", "q53_temperature_mixture",
    "q54_window_funnel", "q55_retention", "q59_funnel_strict_dedup",
    "q60_funnel_strict_order", "q61_funnel_strict_increase",
    "q62_sequence_match", "q63_sequence_count_pattern",
    "q77_sequence_next_node",
    "q64_delta_sum", "q65_interval_stats", "q66_map_combinators",
    "q67_weighted_quantile", "t25_histogram", "t27_kll_state_merge",
    "q68_lttb_downsample",
    "q69_bloom_join", "q70_bitmap_setops", "q71_ab_ttest",
    "q72_mann_whitney", "q73_ip_functions", "q74_cramers_v",
    "q75_linreg", "q76_rank_corr", "q78_geohash",
    "q79_array_combinators", "q80_ema", "q81_ks_test", "q82_corr_matrix",
    "q83_moment_stats", "q84_state_merge", "t26_log_templates",
    "q85_event_flow", "q86_time_to_convert", "q87_moving_aggregates",
    "q88_interpolate", "q89_sparkbar", "q90_auc",
    "q91_funnel_sql", "q92_tukey_outliers", "q93_ip_trie_lookup",
    "q94_anova", "q95_group_array_intersect", "t28_url_canonicalize",
    "d24_boilerplate_strip", "q96_ngram_fuzzy", "p09_fim_split",
    "q97_url_functions", "q98_url_hierarchy", "p10_sentence_chunks",
    "q99_mean_z_test", "q100_skew_report", "q101_funnel_strict_sql",
    "q102_next_node_sql",
    "q103_ttest_sql", "q104_mann_whitney_sql", "q105_linreg_sql",
    "q106_cramers_v_sql", "q107_rank_corr_sql", "q108_map_combinators_sql",
    "q109_array_auc", "q110_lttb_sql", "q111_snapshot_diff",
    "q112_ks_sql", "q113_anova_sql", "q114_corr_matrix_sql",
    "q115_interval_sql", "q116_sparkbar_sql", "q117_geohash_sql",
    "q118_ngram_sql", "q119_uniq_theta_sql", "q120_tukey_scores_sql",
    "t29_url_canonicalize_sql", "q121_ip_sql", "q122_ch_alias_battery",
    "q123_date_fns_sql", "q124_json_sql",
    // the structural JSON family (variant surface), the tier-2 date
    // family, and the verbatim migrant capstone
    "q125_json_structural", "q126_date_tier2", "q127_migrant_sql",
    "q128_scalar_battery",
    "s11_embedding_outliers",
    "m04_phash_dedup", "q56_quality_percentile", "q57_sequence_count",
    "t11_keyword_search", "t12_unk_rewrite", "t13_rarity_score",
    "t14_hybrid_rrf", "t15_bigram_surprisal", "d21_dsir_weights",
    "p01_curation_pipeline", "p02_scrub_sample_pipeline",
    "p03_quality_curation_pipeline", "p04_target_matching_pipeline",
    "p05_perplexity_curation_pipeline", "p06_domain_balanced_curation",
    "p07_tokenize_pack_pipeline", "p08_doremi_mixture")
  // d15_semantic_dedup_blocked is not timed here: the catalog entry embeds
  // an O(n²) exact-recall harness (all-pairs cosine and two connected-
  // component passes, the most variance-prone entry in the set), so timing
  // it would measure the harness, not the operator. It stays in the
  // correctness gate (Verify and the z01 self-check).

  /** Parsed lines/s on ONE core, one figure per rep (BASELINE.md "≥10k
    * parsed lines/s/core"): the full parse+cast pipeline over the sf log
    * lines in one partition — wall time == one core's time. The corpus
    * is REPLICATED 10×: at sf0.1 the raw lines parse in ~0.3 s on one
    * core, a window where dispatch/GC jitter swings the figure 3× between
    * same-code reps; the replicas stretch it to seconds without changing
    * the rate's meaning.
    */
  def parseRates(spark: SparkSession, sfDir: String, reps: Int): Seq[Double] = {
    val lines1 = graft.queries.DataOps.logLinesFor(spark, sfDir)
    val lines = (1 to 10).map(_ => lines1).reduce(_ union _)
      .coalesce(1).cache()
    val n = lines.count()
    try (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Measure.noop(graft.pipeline.Ingest.parse(lines, graft.queries.DataOps.ingestConfig))
      n / ((System.nanoTime() - t0) / 1e9)
    } finally lines.unpersist()
  }

  /** The round a run's `PLANS_rNN.json` is labelled with: one past the
    * highest `BENCH_rNN.json` or `PLANS_rNN.json` in `dir`, so a run
    * never overwrites a plan dump already there.
    */
  def nextRound(dir: java.io.File): Int = {
    val rs = Option(dir.listFiles).getOrElse(Array.empty).map(_.getName)
      .collect { case s if s.matches("(BENCH|PLANS)_r\\d+\\.json") =>
        s.replaceAll("\\D", "").toInt }
    if (rs.isEmpty) 1 else rs.max + 1
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-bench")
    // JVM/codegen warmup on the smallest SF so measured times are steady-state
    Measure.warm(spark, headline, "bench")

    // FIXED-WORK CALIBRATION PROBES: ambient machine load moves every
    // untouched query's time, and nothing else in the output would show
    // it. Two probes whose work is CONSTANT across runs make cross-run
    // drift measurable (and normalizable: divide a query's delta by the
    // probe's delta):
    //   calib_cpu_ms   — single-threaded splitmix64 mixing loop (3e8
    //                    rounds), pure ALU, zero allocation: tracks raw
    //                    per-core CPU availability under current load.
    //   calib_query_ms — a constant spark.range(2^22) xxhash64 aggregate:
    //                    no input data, independent of SF — tracks Spark
    //                    task dispatch + codegen + scheduling overhead.
    // Median of 3, consistent with every other measurement here.
    // Standing rule the probes enable: a per-query drift is only a
    // finding when it exceeds ~2× the calib drift of the same run; the
    // plan-unchanged half of the argument is the fingerprint pass below.
    // Probe definitions live in graft.Calib, shared with `Dev calib`, so
    // out-of-bench re-measurements compare to these numbers by
    // construction.
    val (calibCpuMs, calibSink) = Calib.cpuProbeMs()
    val calibQueryMs = Calib.queryProbeMs(spark)
    System.err.println(
      f"[bench] calib cpu=${calibCpuMs}%.0fms query=${calibQueryMs}%.0fms (sink=$calibSink)")

    // 3 timed reps per query, median/min/max (sub-second single-shot
    // timings are indistinguishable from JIT/GC jitter)
    val results: Seq[(String, Measure.Stat)] =
      headline.map(name => name -> Measure.entry(spark, name, sfDir, 3, "bench"))

    // PLAN FINGERPRINTS: one canonical-plan hash per catalog entry,
    // written to PLANS_r{N}.json next to the bench line. An unchanged
    // hash between runs PROVES a timing drift has no plan mechanism (no
    // isolated re-measurement needed); a changed hash names the replanned
    // entry and its node histogram says how. One-line check:
    // `python3 tools/diff_plans.py PLANS_r{N-1}.json PLANS_r{N}.json`
    // (exit 0 = all shared hashes unchanged). Computed in a separate pass
    // AFTER the timing loop so forcing queryExecution doesn't pre-warm
    // planning out of the measured reps.
    // SPARK_GRAFT_ROUND overrides the detection for a re-run AFTER the
    // round's BENCH snapshot was saved (otherwise max+1 would label the
    // re-run's plans with the NEXT round's number and mask its diff)
    val roundN = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
      .getOrElse(nextRound(new java.io.File(".")))
    // per-entry hash map kept for the stats line below: each median
    // carries its plan hash, so an ambient drift (same plan) shows without
    // diffing plan files
    var fpMap: Map[String, String] = Map.empty
    try {
      // the FULL catalog, not just the headline: the fingerprint forces
      // planning only (no execution), so a plan regression in a
      // non-benched entry is caught for seconds of extra work
      val rows = PlanFingerprint.catalog(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
      fpMap = rows.map { case (name, h, _, _) => name -> h }.toMap
      PlanFingerprint.write(f"PLANS_r$roundN%02d.json", rows)
      System.err.println(f"[bench] plan fingerprints → PLANS_r$roundN%02d.json")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] plan fingerprint pass FAILED: $e")
    }

    // ingest throughput: parsed lines/s through the full i01 pipeline
    // (median rep, consistent with the query table)
    val nLines = graft.sources.Tables.load(spark, sfDir, "events").count()
    val tIngest = results.toMap.get("i01_ingest_e2e").map(_.median).getOrElse(-1.0)
    val linesPerSec = if (tIngest > 0) nLines / tIngest else -1.0

    // STREAMING ingest throughput (the reference's own regime, BASELINE.md
    // ≥10k lines/s): materialize the synthetic log lines to text files,
    // then drive readStream → parse → parquet sink over the burst.
    //
    // METHODOLOGY: two figures are reported.
    // `stream_ingest_lines_per_sec` = rows / Σ triggerExecution — the
    // end-to-end rate a long-running stream sustains INCLUDING the
    // per-trigger fixed costs (offset WAL, file-sink manifest commit,
    // planning). Those fixed costs are bounded by trigger COUNT, not row
    // count, so at sf0.1 burst sizes this figure is commit-bound and does
    // not track parse speed. `stream_ingest_lines_per_sec_proc` =
    // rows / Σ addBatch — the data-plane rate (parse + cast + parquet
    // encode/write only), which is the number that moves when parse speed
    // does; production deployments tune trigger intervals so the fixed
    // cost amortizes toward this bound.
    //
    // Keep this after the timed catalog and the plan fingerprints:
    // `fileSource` sets the session's split policy, which
    // `Tables.loadParallel` reads.
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_stream")
    val (streamLps, streamLpsProc): (Double, Double) = try {
      val inDir = s"$tmp/in"; val cp = s"$tmp/cp"; val outDir = s"$tmp/out"
      val cfg = graft.queries.DataOps.ingestConfig
      graft.queries.DataOps.logLinesFor(spark, sfDir)
        .write.mode("overwrite").text(inDir)
      val lines = graft.streaming.StreamingIngest
        .fileSource(spark, inDir, maxFilesPerTrigger = Some(64))
      val parsed = graft.pipeline.Ingest.parse(lines, cfg)
      val t0 = System.nanoTime()
      val q = parsed.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cp).start()
      q.processAllAvailable()
      // rate = input rows / trigger-execution time summed over batches:
      // the steady-state number a long-running stream sustains. Wall clock
      // would fold the one-time query-startup second into a single small
      // burst, under-reporting by ~2× at sf0.1 (startup amortizes to zero
      // in production, where streams run for days).
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      q.stop()
      val rows = progress.map(_.numInputRows).sum
      val procMs = progress.map(_.durationMs.get("triggerExecution").longValue()).sum
      val addBatchMs = progress
        .map(p => Option(p.durationMs.get("addBatch")).map(_.longValue()).getOrElse(0L)).sum
      val e2e =
        if (procMs > 0) rows * 1000.0 / procMs
        else { // no progress events → fall back to wall clock
          val secs = (System.nanoTime() - t0) / 1e9
          val outRows = spark.read.parquet(outDir).count()
          if (secs > 0) outRows / secs else -1.0
        }
      val proc = if (addBatchMs > 0) rows * 1000.0 / addBatchMs else -1.0
      (e2e, proc)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream ingest FAILED: $e"); (-1.0, -1.0)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)

    // per-core parse rate, best of 2 for steady state
    val coreLps: Double = try parseRates(spark, sfDir, 2).max
    catch { case e: Throwable =>
      System.err.println(s"[bench] per-core parse FAILED: $e"); -1.0
    }

    // `queries` stays scalar (the driver contract): value = per-query
    // MEDIAN of 3. The {median,min,max} spread goes to a SEPARATE stats
    // line printed BEFORE the headline line and mirrored to
    // bench_detail.json: the consumer of the contract line reads only the
    // last ~2000 chars of stdout, so the headline line must fit that
    // window on its own.
    // 2 decimals (10 ms) in the headline map; the stats line and
    // bench_detail.json keep millisecond resolution. The full map of every
    // headline entry does not fit the window, so the headline `queries`
    // map is BUDGETED: entries in median-descending order until the
    // serialized map reaches the budget. Every expensive entry always
    // fits; the cheap tail lives in the stats line and bench_detail.json
    // only. `value` still sums over EVERYTHING.
    val qs = {
      val parts = results.sortBy(-_._2.median)
        .map { case (k, v) => "\"" + k + f"\":${v.median}%.2f" }
      // leaves room for the fixed tail of the line inside the ~2000-char
      // stdout window
      val budget = 1450
      var used = 2
      val kept = parts.takeWhile { p =>
        used += p.length + 1; used <= budget
      }
      if (kept.length < parts.length)
        System.err.println(s"[bench] headline budget: ${parts.length - kept.length} " +
          s"cheapest entries in bench_detail.json only")
      kept.mkString("{", ",", "}")
    }
    val qStats = results.map { case (k, v) =>
      // plan_md5 next to each median (stats line only): an entry whose
      // time moved with an unchanged hash has no plan mechanism
      val fp = fpMap.get(k).map(h => s""","plan_md5":"$h"""").getOrElse("")
      "\"" + k +
        f"""\":{"median":${v.median}%.3f,"min":${v.min}%.3f,"max":${v.max}%.3f$fp}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.median).filter(_ > 0).sum
    val statsLine =
      s"""{"metric":"queries_stats","stats":$qStats}"""
    // prefixed so no parser — tail-window or full-stdout — can mistake the
    // stats line for the contract line; bench_detail.json keeps the raw JSON
    println("[bench] stats " + statsLine)
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      (statsLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // CALIBRATION-NORMALIZED TOTAL: the raw total drifts with ambient
    // machine state (both fixed-work probes moving the same way as the
    // total = ambient, not regression). The normalized figure divides that
    // argument in: value × (ref/calib) for BOTH probes, where ref is the
    // calibration of BENCH_r18.json (calib_cpu 1167 ms, calib_query
    // 128 ms), so a comparison of `value_calib_norm_*` between runs already
    // discounts machine speed. Two normalizations are emitted because the
    // probes track different costs (per-core ALU vs Spark dispatch) and
    // entries blend them differently; `value` stays the raw sum.
    val calibNormCpu = if (calibCpuMs > 0) total * (1167.0 / calibCpuMs) else -1.0
    val calibNormQuery = if (calibQueryMs > 0) total * (128.0 / calibQueryMs) else -1.0
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"ingest_lines_per_sec":$linesPerSec%.0f,"stream_ingest_lines_per_sec":$streamLps%.0f,"stream_ingest_lines_per_sec_proc":$streamLpsProc%.0f,"parse_lines_per_sec_per_core":$coreLps%.0f,"calib_cpu_ms":$calibCpuMs%.0f,"calib_query_ms":$calibQueryMs%.0f,"value_calib_norm_cpu":$calibNormCpu%.1f,"value_calib_norm_query":$calibNormQuery%.1f,"sf":"$sfDir"}"""
    if (line.length > 1800) // headroom for sbt's trailing [success] line
      System.err.println(s"[bench] WARNING headline line ${line.length} chars — trim precision or query names")
    println(line)
    spark.stop()
  }
}
