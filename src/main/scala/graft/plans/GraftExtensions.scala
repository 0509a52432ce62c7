package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{OptimizerFence, ParseLogLine, VectorExprs}

/** The engine's SQL surface: the custom expressions and aggregates under
  * their SQL names, so `spark.sql` users get the same kernels as the
  * Column API, and the plan rules that go with them. [[install]] gives a
  * session this surface; a [[graft.GraftSession]] session has it from the
  * start.
  *
  * {{{
  * SELECT parse_log_line(value, '^(\\S+) (\\S+)$')[0]            -- groups
  * SELECT dot_product(a.embedding, b.embedding)                  -- cosine parts
  * SELECT minhash_signature(shingle_hashes(lower(text), 3), 64)  -- sketches
  * SELECT fence(expensive_expr)                                  -- pin a projection
  * SELECT graft_topk(term, 64) FROM tokens GROUP BY day          -- MG summary
  * SELECT graft_kll_quantile(latency, 128, 0.99)                 -- KLL p99
  * SELECT graft_uniq_upto(user_id, 100) FROM hits GROUP BY day   -- bounded distinct
  * SELECT graft_bitmap_card(user_id) FROM hits GROUP BY day      -- exact distinct, bitmap state
  * SELECT graft_window_funnel(3600000000, ts, event_id,
  *          etype = 'view', etype = 'click', etype = 'buy')
  * FROM events GROUP BY user_id                                   -- funnel level
  * }}}
  *
  * The whole-plan parts are the top-k-per-key rewrite and strategy
  * ([[TopKPerKey]]) and the JSON-parse dedup rule ([[DedupProjectParse]]);
  * everything else is expressions — they carry their own codegen, and plan
  * shaping is done with the fence expression at the query layer.
  */
object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName.stripSuffix("$"), null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def strLit(e: Expression, fn: String): String = e match {
    case Literal(s, org.apache.spark.sql.types.StringType) => s.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a string literal, got $other")
  }

  private def intLit(e: Expression, fn: String): Int = e match {
    case Literal(v, org.apache.spark.sql.types.IntegerType) => v.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got $other")
  }

  /** Integer-or-bigint literal as Long — a salt like `5000000000`
    * parses as a SQL BIGINT literal and must work like the Column API's
    * Long parameter.
    */
  private def longLit(e: Expression, fn: String): Long = e match {
    case Literal(v, org.apache.spark.sql.types.IntegerType) =>
      v.asInstanceOf[Int].toLong
    case Literal(v, org.apache.spark.sql.types.LongType) =>
      v.asInstanceOf[Long]
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got $other")
  }

  /** Fractional literal as Double — SQL `0.5` parses as a DECIMAL
    * literal, so accept both decimal and double forms.
    */
  private def numLit(e: Expression, fn: String): Double = e match {
    case Literal(v, org.apache.spark.sql.types.DoubleType) => v.asInstanceOf[Double]
    case Literal(v: org.apache.spark.sql.types.Decimal, _: org.apache.spark.sql.types.DecimalType) =>
      v.toDouble
    case Literal(v, org.apache.spark.sql.types.IntegerType) =>
      v.asInstanceOf[Int].toDouble
    case other => throw new IllegalArgumentException(
      s"$fn expects a numeric literal, got $other")
  }

  /** Shared (t, id, mask) input plumbing for the buffered-event
    * aggregates (funnel / strict funnel / next-node / sequence
    * patterns): t = event-time micros with a NULL→Long.MinValue
    * sentinel the Aggregators drop at reduce, id = long tiebreak
    * (NULL→0), and the variadic boolean conditions fold into BIT
    * positions of one long — the tuple encoder's fields are
    * non-nullable primitives, so the bitmask carries the variadic
    * width in a single slot.
    */
  private def tsExpr(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, UnixMicros}
    Coalesce(Seq(UnixMicros(Cast(e, org.apache.spark.sql.types.TimestampType)),
      Literal(Long.MinValue)))
  }

  private def idExpr(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce}
    Coalesce(Seq(Cast(e, org.apache.spark.sql.types.LongType), Literal(0L)))
  }

  /** `conds(i)` as bit `bits(i)`, OR-folded. */
  private def maskExpr(conds: Seq[Expression], bits: Seq[Int]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{BitwiseOr, Cast, Coalesce, If}
    conds.zip(bits).map { case (c, bit) =>
      If(Coalesce(Seq(Cast(c, org.apache.spark.sql.types.BooleanType),
        Literal(false))),
        Literal(1L << bit), Literal(0L)): Expression
    }.reduce((a, b) => BitwiseOr(a, b))
  }

  private[graft] lazy val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("parse_log_line"),
      info("parse_log_line", "parse_log_line(line, regex) - all capture groups as array<string>, NULL on mismatch"),
      (args: Seq[Expression]) => ParseLogLine(args(0), strLit(args(1), "parse_log_line"))),
    (FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - sequential-order double dot product"),
      (args: Seq[Expression]) => VectorExprs.DotProduct(args(0), args(1))),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(hashes, k) - k-slot MinHash signature"),
      (args: Seq[Expression]) =>
        VectorExprs.MinHashSignature(args(0), intLit(args(1), "minhash_signature"))),
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes", "shingle_hashes(normalized_text, n) - distinct word n-gram hashes"),
      (args: Seq[Expression]) =>
        VectorExprs.ShingleHashes(args(0), intLit(args(1), "shingle_hashes"))),
    (FunctionIdentifier("span_hashes"),
      info("span_hashes", "span_hashes(normalized_text, k) - in-order k-token span hashes, occurrences kept, position = index + 1"),
      (args: Seq[Expression]) =>
        VectorExprs.SpanHashes(args(0), intLit(args(1), "span_hashes"))),
    (FunctionIdentifier("sorted_shingle_hashes"),
      info("sorted_shingle_hashes", "sorted_shingle_hashes(normalized_text, n) - distinct word n-gram hashes, ascending"),
      (args: Seq[Expression]) =>
        VectorExprs.SortedShingleHashes(args(0), intLit(args(1), "sorted_shingle_hashes"))),
    (FunctionIdentifier("sorted_intersect_count"),
      info("sorted_intersect_count", "sorted_intersect_count(a, b) - |A∩B| of two ascending distinct long arrays"),
      (args: Seq[Expression]) => VectorExprs.SortedIntersectCount(args(0), args(1))),
    (FunctionIdentifier("text_quality_stats"),
      info("text_quality_stats", "text_quality_stats(text) - one-pass struct(n_chars, n_alpha, n_digit, n_space, n_toks, stop_hits) with the English stopword list"),
      (args: Seq[Expression]) =>
        graft.functions.TextExprs.TextQualityStats(args(0),
          graft.operators.TextAnalysis.EnStopwords)),
    (FunctionIdentifier("repetition_stats"),
      info("repetition_stats", "repetition_stats(normalized_text) - one-pass struct(n_toks, n_distinct, top1, top2, top3) gram-repetition counters"),
      (args: Seq[Expression]) => graft.functions.TextExprs.RepetitionStats(args(0))),
    (FunctionIdentifier("simhash60"),
      info("simhash60", "simhash60(normalized_text) - 60-bit SimHash fingerprint (MD5 token hashes, majority vote)"),
      (args: Seq[Expression]) => VectorExprs.Simhash60(args(0))),
    (FunctionIdentifier("parse_log_template"),
      info("parse_log_template", "parse_log_template(line, log_format) - byte-scanner log parse: all fields as array<string>, NULL on mismatch (≡ parse_log_line on the compiled regex)"),
      (args: Seq[Expression]) =>
        graft.functions.ParseLogTemplate(args(0), strLit(args(1), "parse_log_template"))),
    (FunctionIdentifier("fast_local_time"),
      info("fast_local_time", "fast_local_time(s) - nginx time_local 'dd/MMM/yyyy:HH:mm:ss Z' parsed byte-positionally (≡ try_to_timestamp with that pattern)"),
      (args: Seq[Expression]) => graft.functions.FastLocalTime(args(0))),
    (FunctionIdentifier("fence"),
      info("fence", "fence(expr) - identity marked non-deterministic: pins the enclosing projection"),
      (args: Seq[Expression]) => OptimizerFence(args(0))),
    // mergeable-sketch AGGREGATES (the ClickHouse topK / quantileTDigest
    // SQL surface): builders return the AggregateFunction and the
    // analyzer wraps it in a Complete AggregateExpression, exactly as
    // for built-in aggregates. k/φ must be literals — they parameterize
    // the Aggregator instance, not a per-row input.
    (FunctionIdentifier("graft_topk"),
      info("graft_topk", "graft_topk(item, k) - Misra-Gries frequent-items summary map<string,bigint>: no overcount, undercount ≤ n/(k+1), every item with count > n/(k+1) present"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.HeavyHitters.MisraGries(
            intLit(args(1), "graft_topk")),
          org.apache.spark.sql.Encoders.STRING, "graft_topk", Seq(args(0)))),
    (FunctionIdentifier("graft_topk_weighted"),
      info("graft_topk_weighted", "graft_topk_weighted(item, weight, k) - weighted Misra-Gries summary map<string,bigint>: no overcount, undercount ≤ W/(k+1) for total weight W, every item with weight > W/(k+1) present; null items and non-positive weights skipped"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.HeavyHitters.MisraGriesWeighted(
            intLit(args(2), "graft_topk_weighted")),
          org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Long)](),
          "graft_topk_weighted",
          // the tuple encoder's weight slot is a non-nullable primitive,
          // so a NULL weight would crash the deserializer instead of
          // being skipped as documented — coalesce to 0, which the
          // aggregator's non-positive-weight skip discards identically
          Seq(args(0), org.apache.spark.sql.catalyst.expressions.Coalesce(
            Seq(args(1), org.apache.spark.sql.catalyst.expressions.Literal(0L)))))),
    (FunctionIdentifier("graft_kll_quantile"),
      info("graft_kll_quantile", "graft_kll_quantile(v, k, phi) - KLL-sketched φ-quantile of v (rank error ~ O(1/k) whp; NaN on empty group)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.Quantiles.KllQuantile(
            intLit(args(1), "graft_kll_quantile"),
            numLit(args(2), "graft_kll_quantile")),
          org.apache.spark.sql.Encoders.DOUBLE, "graft_kll_quantile",
          Seq(args(0)))),
    (FunctionIdentifier("graft_sample"),
      info("graft_sample", "graft_sample(item, k[, salt]) - uniform k-reservoir of item as array<string> (without replacement over rows; deterministic per salt)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.Reservoir.Sample(
            intLit(args(1), "graft_sample"),
            if (args.size > 2) longLit(args(2), "graft_sample") else 0L),
          org.apache.spark.sql.Encoders.STRING, "graft_sample",
          Seq(args(0)))),
    (FunctionIdentifier("graft_uniq_upto"),
      info("graft_uniq_upto", "graft_uniq_upto(x, n) - exact distinct count of x while ≤ n, else the sentinel n+1 (ClickHouse uniqUpTo; state ≤ n+1 witnesses; ≡ LEAST(count(DISTINCT x), n+1))"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.UniqUpTo.UniqUpToAgg(
            intLit(args(1), "graft_uniq_upto")),
          org.apache.spark.sql.Encoders.STRING, "graft_uniq_upto",
          Seq(org.apache.spark.sql.catalyst.expressions.Cast(args(0),
            org.apache.spark.sql.types.StringType)))),
    (FunctionIdentifier("graft_bitmap_card"),
      info("graft_bitmap_card", "graft_bitmap_card(id) - EXACT distinct count of non-negative bigint ids via a Roaring-style bitmap aggregate (= count(DISTINCT id) with null skip; state bounded by id DENSITY not row count, mergeable under any tree)"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.Bitmap.BitmapCard(),
          org.apache.spark.sql.Encoders.scalaLong, "graft_bitmap_card",
          // primitive Long encoder slot: NULL would crash the
          // deserializer — coalesce to the negative sentinel the
          // aggregator skips (count(DISTINCT) null semantics)
          Seq(org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
            org.apache.spark.sql.catalyst.expressions.Cast(args(0),
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.catalyst.expressions.Literal(-1L)))))),
    (FunctionIdentifier("graft_histogram"),
      info("graft_histogram", "graft_histogram(v, bins) - adaptive streaming histogram (Ben-Haim/Tom-Toms, ClickHouse histogram(bins)): array<struct<lower,upper,cnt>> with Σcnt = n and outer edges at the exact min/max"),
      (args: Seq[Expression]) =>
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.Histogram.HistBins(
            intLit(args(1), "graft_histogram")),
          org.apache.spark.sql.Encoders.DOUBLE, "graft_histogram",
          Seq(args(0)))),
    (FunctionIdentifier("graft_delta_sum"),
      info("graft_delta_sum", "graft_delta_sum(ts, id, v) - ClickHouse deltaSumTimestamp: sum of POSITIVE consecutive value deltas in strict (ts, id) order (the engine's declared fold order; CH's plain deltaSum folds in block order, undefined distributed); NULL ts/v rows skipped via an EXPLICIT validity slot (no in-band sentinel - a genuine Long.MinValue value participates); integer values — pre-scale floats"),
      (args: Seq[Expression]) => {
        if (args.size != 3) throw new IllegalArgumentException(
          "graft_delta_sum expects (ts, id, value)")
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.TimeSeries.DeltaSumAgg(),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Long, Long, Long, Boolean)](),
          "graft_delta_sum", Seq(tsExpr(args(0)), idExpr(args(1)),
            longIn(args(2)), validExpr(asTs(args(0)), asLong(args(2)))))
      }),
    (FunctionIdentifier("graft_ema"),
      info("graft_ema", "graft_ema(ts, id, v, alpha, beta) - ClickHouse exponentialMovingAverage (ordered-series form): s1 = v1, si = alpha*vi + beta*s(i-1) folded in strict (ts, id) order; beta passed EXPLICITLY (1-alpha is not FP-safe to recompute — state both constants, e.g. 0.25/0.75); bit-equal to the Column form UNQUALIFIED (NULL rows travel as an explicit validity slot, no in-band sentinel - a genuine NaN value survives and propagates through the fold like the Column form); NULL ts/v rows skipped, empty group NULL"),
      (args: Seq[Expression]) => {
        if (args.size != 5) throw new IllegalArgumentException(
          "graft_ema expects (ts, id, value, alpha, beta)")
        import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce}
        val v = Coalesce(Seq(Cast(args(2), org.apache.spark.sql.types.DoubleType),
          Literal(0.0)))
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.TimeSeries.EmaAgg(
            numLit(args(3), "graft_ema"), numLit(args(4), "graft_ema")),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Long, Long, Double, Boolean)](),
          "graft_ema", Seq(tsExpr(args(0)), idExpr(args(1)), v,
            validExpr(asTs(args(0)), asDouble(args(2)))))
      }),
    (FunctionIdentifier("graft_quantile_exact_weighted"),
      info("graft_quantile_exact_weighted", "graft_quantile_exact_weighted(v, w, φ) - ClickHouse quantileExactWeighted: the EXACT weighted quantile (smallest v with cumulative weight ≥ φ·total, inclusive boundary, φ quantized to basis points); state = the group's value→weight map (bounded by distinct values, ClickHouse's own shape — quantize continuous domains or use graft_kll_quantile); NULL values / non-positive weights skipped via an EXPLICIT validity slot (no in-band sentinel - a genuine Long.MinValue value participates)"),
      (args: Seq[Expression]) => {
        if (args.size != 3) throw new IllegalArgumentException(
          "graft_quantile_exact_weighted expects (value, weight, phi)")
        val phi = numLit(args(2), "graft_quantile_exact_weighted")
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.WeightedQuantile.ExactWeightedAgg(
            math.round(phi * 10000).toInt),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Long, Long, Boolean)](),
          "graft_quantile_exact_weighted",
          Seq(longIn(args(0)), longIn(args(1)), validExpr(asLong(args(0)))))
      }),
    (FunctionIdentifier("graft_window_funnel"),
      info("graft_window_funnel", "graft_window_funnel(window_us, ts, id, cond1[, ...condN]) - ClickHouse windowFunnel level as an aggregate: the longest k such that events matching cond1..condk exist in strict (ts, id) order with every chain event within window_us of the chain's FIRST event; deterministic tie order (ts, id) unlike ClickHouse, NULL-ts rows skipped, NULL conds read false"),
      (args: Seq[Expression]) => {
        if (args.size < 4) throw new IllegalArgumentException(
          "graft_window_funnel expects (window_us, ts, id, cond1, ...)")
        val n = args.size - 3
        val (t, id) = (tsExpr(args(1)), idExpr(args(2)))
        val mask = maskExpr(args.drop(3), 0 until n)
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.Funnels.WindowFunnelAgg(
            longLit(args(0), "graft_window_funnel"), n),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Long, Long, Long)](),
          "graft_window_funnel", Seq(t, id, mask))
      }),
    (FunctionIdentifier("graft_window_funnel_strict"),
      info("graft_window_funnel_strict", "graft_window_funnel_strict(window_us, modes, ts, id, cond1[, ...condN]) - the ClickHouse strict windowFunnel modes as an aggregate; modes = CSV literal of strict_deduplication / strict_order / strict_increase; same (ts, id) determinism and NULL handling as graft_window_funnel, and (unlike it) no-step events participate, as strict_order requires"),
      (args: Seq[Expression]) => {
        if (args.size < 5) throw new IllegalArgumentException(
          "graft_window_funnel_strict expects (window_us, modes, ts, id, cond1, ...)")
        val known = Set("strict_deduplication", "strict_order", "strict_increase")
        val modes = strLit(args(1), "graft_window_funnel_strict")
          .split(",").map(_.trim).filter(_.nonEmpty).toSet
        val bad = modes.diff(known)
        if (modes.isEmpty || bad.nonEmpty) throw new IllegalArgumentException(
          s"graft_window_funnel_strict: unknown or empty mode(s) " +
            s"[${bad.mkString(",")}] — expected a CSV of ${known.mkString(", ")}")
        val n = args.size - 4
        val (t, id) = (tsExpr(args(2)), idExpr(args(3)))
        val mask = maskExpr(args.drop(4), 0 until n)
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.Funnels.WindowFunnelStrictAgg(
            longLit(args(0), "graft_window_funnel_strict"), n,
            modes.contains("strict_deduplication"),
            modes.contains("strict_order"),
            modes.contains("strict_increase")),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Long, Long, Long)](),
          "graft_window_funnel_strict", Seq(t, id, mask))
      }),
    (FunctionIdentifier("graft_sequence_next_node"),
      info("graft_sequence_next_node", "graft_sequence_next_node(direction, base, ts, id, event_value, base_cond, cond1[, ...condN]) - ClickHouse sequenceNextNode as an aggregate: the event value following the picked n-step consecutive chain in the group's (ts, id)-ordered stream; direction = 'forward'/'backward', base = 'head'/'tail'/'first_match'/'last_match' (string literals, validated pairings); NULL at stream end or when no chain qualifies; NULL-ts rows skipped"),
      (args: Seq[Expression]) => {
        if (args.size < 7) throw new IllegalArgumentException(
          "graft_sequence_next_node expects (direction, base, ts, id, event_value, base_cond, cond1, ...)")
        val n = args.size - 6
        val (t, id) = (tsExpr(args(2)), idExpr(args(3)))
        val value = org.apache.spark.sql.catalyst.expressions.Cast(
          args(4), org.apache.spark.sql.types.StringType)
        // step bits 0..n-1, base-condition bit n
        val mask = maskExpr(args.drop(6) :+ args(5), (0 until n) :+ n)
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.Funnels.SequenceNextNodeAgg(
            strLit(args(0), "graft_sequence_next_node"),
            strLit(args(1), "graft_sequence_next_node"), n),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[(Long, Long, Long, String)](),
          "graft_sequence_next_node", Seq(t, id, mask, value))
      }),
    (FunctionIdentifier("graft_sequence_match"),
      info("graft_sequence_match", "graft_sequence_match(pattern, ts, id, cond1[, ...condN]) - ClickHouse sequenceMatch(pattern)(ts, cond1..) as an aggregate: TRUE when the group's (ts, id)-ordered condition-matching events contain a chain matching the pattern ('(?k)', '.*', '(?t<=s)' operators); groups with no matching events read FALSE (the aggregate emits every group)"),
      (args: Seq[Expression]) =>
        seqPatternAgg(args, "graft_sequence_match",
          (p, n) => new graft.operators.Funnels.SequenceMatchAgg(p, n))),
    (FunctionIdentifier("graft_sequence_count"),
      info("graft_sequence_count", "graft_sequence_count(pattern, ts, id, cond1[, ...condN]) - ClickHouse sequenceCount(pattern)(ts, cond1..) as an aggregate: the number of NON-OVERLAPPING leftmost-lazy chains matching the pattern over the group's (ts, id)-ordered condition-matching events"),
      (args: Seq[Expression]) =>
        seqPatternAgg(args, "graft_sequence_count",
          (p, n) => new graft.operators.Funnels.SequenceCountAgg(p, n)))
  ) ++ urlFunctions ++ statsFunctions ++ geoFuzzyFunctions ++ chAliases ++
    dateFunctions ++ jsonFunctions ++ chScalarAliases ++ chScalarBatch4

  /** ClickHouse scalar-name aliases — the everyday vocabulary a migrant
    * query carries besides aggregates and dates: `arrayJoin`, `multiIf`,
    * the `toIntN` / `toUIntN` / `toFloatN` / `toString` cast names,
    * `intDiv` / `modulo`, array accessors (`has`/`indexOf`/
    * `arrayElement`), string helpers (`empty`/`notEmpty`/`splitByChar`/
    * `arrayStringConcat`/`match`/`replaceAll`/`replaceRegexpAll`/
    * `trimLeft`/`trimRight`/`trimBoth`/`leftPad`/`rightPad`/
    * `countSubstrings`), map accessors (`mapKeys`/`mapValues`/
    * `mapContains`), `tuple`/`tupleElement` (positional col1..colN
    * fields), `age` (ELAPSED units — the complement of
    * `graft_date_diff`'s boundary crossing), `today`/`yesterday`,
    * `assumeNotNull`. All pure plan-time rewrites onto Spark built-ins
    * (the chAliases discipline — zero new execution code); semantic
    * deviations are stated per name, and names Spark's parser or
    * registry already owns with DIFFERENT semantics (`position` — CH
    * swaps the argument order; `length` — CH counts bytes; `extract` —
    * grammar-owned) are deliberately NOT shadowed: those are named
    * MIGRATION gaps, not silent traps.
    */
  private def chScalarAliases: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Cast, EqualTo, If}
    import org.apache.spark.sql.types._
    def fn(target: String, args: Expression*) =
      UnresolvedFunction(Seq(target), args.toSeq, isDistinct = false)
    def rewrite(name: String, doc: String, nArgs: Int, usage: String)(
        mk: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), info(name, doc),
        (args: Seq[Expression]) => { arity(args, nArgs, name, usage); mk(args) })
    def castAlias(name: String, tpe: DataType, note: String = "") =
      rewrite(name,
        s"$name(x) - ClickHouse $name (rewrites to CAST(x AS ${tpe.sql})$note; non-ANSI session semantics: overflow wraps, malformed strings read NULL where CH throws - the T4 convention)",
        1, "(x)")(a => Cast(a(0), tpe))
    val nullLit = Literal.create(null, NullType)
    Seq(
      rewrite("arrayJoin",
        "arrayJoin(arr) - ClickHouse arrayJoin (rewrites to explode: one output row per element). SELECT-list only, ONE generator per SELECT (Spark's generator rule; CH allows several - split into chained selects), and its alias cannot feed GROUP BY in the SAME select (the generator sits above the aggregate) - explode in a subquery, aggregate outside",
        1, "(arr)")(a => fn("explode", a(0))),
      (FunctionIdentifier("multiIf"),
        info("multiIf", "multiIf(cond1, v1[, cond2, v2, ...], else) - ClickHouse multiIf (rewrites to CASE WHEN cond1 THEN v1 ... ELSE else END)"),
        (args: Seq[Expression]) => {
          if (args.size < 3 || args.size % 2 == 0)
            throw new IllegalArgumentException(
              "multiIf expects (cond1, v1, ..., condN, vN, else) - an " +
                s"odd argument count of at least 3 (${args.size} given)")
          CaseWhen(args.dropRight(1).grouped(2).map(p => (p(0), p(1))).toSeq,
            Some(args.last))
        }),
      rewrite("has", "has(arr, x) - ClickHouse has (rewrites to array_contains)",
        2, "(arr, x)")(a => fn("array_contains", a(0), a(1))),
      rewrite("indexOf", "indexOf(arr, x) - ClickHouse indexOf: 1-based position of the first occurrence, 0 when absent (rewrites to array_position)",
        2, "(arr, x)")(a => fn("array_position", a(0), a(1))),
      rewrite("arrayElement", "arrayElement(arr, n) - ClickHouse arrayElement: 1-based element access, negative n from the end; DEVIATION: out-of-range (including n = 0) reads NULL, not CH's type default",
        2, "(arr, n)")(a =>
        If(EqualTo(a(1), Literal(0)), nullLit,
          fn("try_element_at", a(0), a(1)))),
      rewrite("empty", "empty(s) - ClickHouse empty for strings (length = 0; NULL passes through - CH reads 1 for NULL via Nullable wrapping); for arrays use size(arr) = 0",
        1, "(s)")(a => EqualTo(fn("length", a(0)), Literal(0))),
      rewrite("notEmpty", "notEmpty(s) - ClickHouse notEmpty for strings (length > 0)",
        1, "(s)")(a =>
        org.apache.spark.sql.catalyst.expressions.GreaterThan(
          fn("length", a(0)), Literal(0))),
      castAlias("toString", StringType,
        "; a timestamp renders 'yyyy-MM-dd HH:mm:ss' like CH, with a fractional tail when sub-second"),
      castAlias("toInt8", ByteType), castAlias("toInt16", ShortType),
      castAlias("toInt32", IntegerType), castAlias("toInt64", LongType),
      castAlias("toUInt8", ShortType, " - no unsigned types: widened one level"),
      castAlias("toUInt16", IntegerType, " - no unsigned types: widened one level"),
      castAlias("toUInt32", LongType, " - no unsigned types: widened one level"),
      castAlias("toUInt64", LongType, " - no unsigned types: UInt64 values past int64 wrap"),
      castAlias("toFloat32", FloatType), castAlias("toFloat64", DoubleType),
      rewrite("intDiv", "intDiv(a, b) - ClickHouse intDiv (rewrites to integral div; truncates toward zero)",
        2, "(a, b)")(a => fn("div", a(0), a(1))),
      rewrite("plus", "plus(a, b) - ClickHouse plus (rewrites to +)",
        2, "(a, b)")(a => fn("+", a(0), a(1))),
      rewrite("minus", "minus(a, b) - ClickHouse minus (rewrites to -)",
        2, "(a, b)")(a => fn("-", a(0), a(1))),
      rewrite("multiply", "multiply(a, b) - ClickHouse multiply (rewrites to *)",
        2, "(a, b)")(a => fn("*", a(0), a(1))),
      rewrite("divide", "divide(a, b) - ClickHouse divide (rewrites to /; double division on integers, both engines)",
        2, "(a, b)")(a => fn("/", a(0), a(1))),
      rewrite("cityHash64", "cityHash64(x) - ClickHouse cityHash64 NAME mapped onto xxhash64; DEVIATION: a DIFFERENT hash function - uniform 64-bit distribution preserved (sampling/sharding semantics hold) but the VALUES differ from ClickHouse's, so cross-engine shard assignments will not line up",
        1, "(x)")(a => fn("xxhash64", a(0))),
      rewrite("sipHash64", "sipHash64(x) - ClickHouse sipHash64 NAME mapped onto xxhash64 (the cityHash64 deviation: same distributional role, different values)",
        1, "(x)")(a => fn("xxhash64", a(0))),
      rewrite("modulo", "modulo(a, b) - ClickHouse modulo (rewrites to mod; sign follows the dividend, both engines)",
        2, "(a, b)")(a => fn("mod", a(0), a(1))),
      (FunctionIdentifier("today"),
        info("today", "today() - ClickHouse today (rewrites to current_date)"),
        (args: Seq[Expression]) => {
          arity(args, 0, "today", "()"); fn("current_date")
        }),
      (FunctionIdentifier("yesterday"),
        info("yesterday", "yesterday() - ClickHouse yesterday (current_date - 1)"),
        (args: Seq[Expression]) => {
          arity(args, 0, "yesterday", "()")
          fn("date_sub", fn("current_date"), Literal(1))
        }),
      rewrite("splitByChar", "splitByChar(sep, s) - ClickHouse splitByChar: sep a ONE-CHARACTER string literal (quoted into the split regex at plan time); trailing empties kept, like CH",
        2, "(sep, s)")(a => {
        val sep = strLit(a(0), "splitByChar")
        if (sep.length != 1) throw new IllegalArgumentException(
          s"splitByChar: separator must be exactly one character, got '$sep'")
        fn("split", a(1), Literal(java.util.regex.Pattern.quote(sep)))
      }),
      (FunctionIdentifier("arrayStringConcat"),
        info("arrayStringConcat", "arrayStringConcat(arr[, sep]) - ClickHouse arrayStringConcat (rewrites to array_join; sep defaults to '')"),
        (args: Seq[Expression]) => {
          if (args.isEmpty || args.size > 2)
            throw new IllegalArgumentException(
              s"arrayStringConcat expects (arr[, sep]) (${args.size} given)")
          val sep = if (args.size == 2) args(1)
            else Literal(org.apache.spark.unsafe.types.UTF8String
              .fromString(""), StringType)
          fn("array_join", args(0), sep)
        }),
      rewrite("match", "match(haystack, pattern) - ClickHouse match: unanchored regex search (rewrites to RLIKE; Java regex here vs CH's RE2 - the portable subset behaves identically)",
        2, "(haystack, pattern)")(a => fn("rlike", a(0), a(1))),
      rewrite("extractAll", "extractAll(haystack, pattern) - ClickHouse extractAll: every match as an array; pattern a STRING LITERAL - CH extracts the FIRST GROUP when the pattern has capturing groups, else the whole match, and the group count is resolved EXACTLY at plan time (Pattern.compile(...).groupCount, not a paren heuristic); rewrites to regexp_extract_all with the matching group index",
        2, "(haystack, pattern)")(a => {
        val pat = strLit(a(1), "extractAll")
        val groups =
          try java.util.regex.Pattern.compile(pat).matcher("").groupCount()
          catch {
            case e: java.util.regex.PatternSyntaxException =>
              throw new IllegalArgumentException(
                s"extractAll: bad pattern '$pat' - ${e.getMessage}")
          }
        fn("regexp_extract_all", a(0), a(1),
          Literal(if (groups > 0) 1 else 0))
      }),
      rewrite("splitByString", "splitByString(sep, s) - ClickHouse splitByString: sep a non-empty string LITERAL, quoted into the split regex at plan time; trailing empties kept",
        2, "(sep, s)")(a => {
        val sep = strLit(a(0), "splitByString")
        if (sep.isEmpty) throw new IllegalArgumentException(
          "splitByString: empty separator (CH's split-to-chars mode) is " +
            "not supported - use split(s, '')")
        fn("split", a(1), Literal(java.util.regex.Pattern.quote(sep)))
      }),
      rewrite("base64Encode", "base64Encode(s) - ClickHouse base64Encode (rewrites to base64)",
        1, "(s)")(a => fn("base64", a(0))),
      rewrite("base64Decode", "base64Decode(s) - ClickHouse base64Decode (rewrites to CAST(unbase64(s) AS STRING); malformed input reads garbage-or-empty rather than CH's exception - non-ANSI semantics)",
        1, "(s)")(a => Cast(fn("unbase64", a(0)),
        org.apache.spark.sql.types.StringType)),
      rewrite("replaceAll", "replaceAll(s, pattern, replacement) - ClickHouse replaceAll: LITERAL substring replace, all occurrences (rewrites to replace)",
        3, "(s, pattern, replacement)")(a => fn("replace", a(0), a(1), a(2))),
      rewrite("replaceRegexpAll", "replaceRegexpAll(s, pattern, replacement) - ClickHouse replaceRegexpAll (rewrites to regexp_replace); DEVIATION: backreferences are $1 here vs CH's \\1",
        3, "(s, pattern, replacement)")(a =>
        fn("regexp_replace", a(0), a(1), a(2))),
      rewrite("assumeNotNull", "assumeNotNull(x) - ClickHouse assumeNotNull (identity here: the engine has no non-nullable enforcement to unlock; NULLs pass through)",
        1, "(x)")(a => a(0)),
      // the -UTF8 suffixed forms are EXACT matches: ClickHouse defines
      // them over characters, which is precisely Spark's default
      // semantics - registering them retires the chars-vs-bytes trap
      // for migrants who already write the UTF8 forms
      rewrite("lengthUTF8", "lengthUTF8(s) - ClickHouse lengthUTF8 (rewrites to length: CHARACTERS on both engines - unlike bare length, which CH counts in bytes)",
        1, "(s)")(a => fn("length", a(0))),
      rewrite("lowerUTF8", "lowerUTF8(s) - ClickHouse lowerUTF8 (rewrites to lower)",
        1, "(s)")(a => fn("lower", a(0))),
      rewrite("upperUTF8", "upperUTF8(s) - ClickHouse upperUTF8 (rewrites to upper)",
        1, "(s)")(a => fn("upper", a(0))),
      rewrite("reverseUTF8", "reverseUTF8(s) - ClickHouse reverseUTF8 (rewrites to reverse: character-wise on both engines)",
        1, "(s)")(a => fn("reverse", a(0))),
      rewrite("substringUTF8", "substringUTF8(s, offset, length) - ClickHouse substringUTF8 (rewrites to substring: 1-based character offsets on both engines)",
        3, "(s, offset, length)")(a => fn("substring", a(0), a(1), a(2))),
      (FunctionIdentifier("range"),
        info("range", "range([start, ]end[, step]) - ClickHouse range: end-EXCLUSIVE integer sequence ([0..end) in the 1-arg form; rewrites to sequence with the bound pulled in by one step and an empty-range guard - Spark's sequence is INCLUSIVE and auto-reverses on a negative span, which would misread range(0))"),
        (args: Seq[Expression]) => {
          if (args.isEmpty || args.size > 3)
            throw new IllegalArgumentException(
              s"range expects ([start, ]end[, step]) (${args.size} given)")
          import org.apache.spark.sql.catalyst.expressions.{If, LessThanOrEqual}
          val (start, end, step) = args.size match {
            case 1 => (Literal(0L), args(0), Literal(1L))
            case 2 => (args(0), args(1), Literal(1L))
            case _ => (args(0), args(1), args(2))
          }
          // last included element = end - 1 step; empty when end <= start
          // (positive steps - CH's range rejects non-positive steps too)
          If(LessThanOrEqual(Cast(end,
            org.apache.spark.sql.types.LongType),
            Cast(start, org.apache.spark.sql.types.LongType)),
            Cast(fn("array"), org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType)),
            fn("sequence", Cast(start, org.apache.spark.sql.types.LongType),
              fn("-", Cast(end, org.apache.spark.sql.types.LongType),
                Literal(1L)),
              Cast(step, org.apache.spark.sql.types.LongType)))
        }),
      rewrite("arrayEnumerate", "arrayEnumerate(arr) - ClickHouse arrayEnumerate: [1..size(arr)] positions; empty arrays read [] (guarded - Spark's sequence(1, 0) would auto-reverse)",
        1, "(arr)")(a => {
        import org.apache.spark.sql.catalyst.expressions.{If, EqualTo}
        If(EqualTo(fn("size", a(0)), Literal(0)),
          Cast(fn("array"), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.IntegerType)),
          fn("sequence", Literal(1), fn("size", a(0))))
      }),
      rewrite("bitAnd", "bitAnd(a, b) - ClickHouse bitAnd (rewrites to &)",
        2, "(a, b)")(a => fn("&", a(0), a(1))),
      rewrite("bitOr", "bitOr(a, b) - ClickHouse bitOr (rewrites to |)",
        2, "(a, b)")(a => fn("|", a(0), a(1))),
      rewrite("bitXor", "bitXor(a, b) - ClickHouse bitXor (rewrites to ^)",
        2, "(a, b)")(a => fn("^", a(0), a(1))),
      rewrite("bitNot", "bitNot(a) - ClickHouse bitNot (rewrites to ~)",
        1, "(a)")(a => fn("~", a(0))),
      rewrite("bitShiftLeft", "bitShiftLeft(a, n) - ClickHouse bitShiftLeft (rewrites to shiftleft)",
        2, "(a, n)")(a => fn("shiftleft", a(0), a(1))),
      rewrite("bitShiftRight", "bitShiftRight(a, n) - ClickHouse bitShiftRight (rewrites to shiftright: arithmetic shift, sign-propagating like CH on signed types)",
        2, "(a, n)")(a => fn("shiftright", a(0), a(1))),
      (FunctionIdentifier("roundBankers"),
        info("roundBankers", "roundBankers(x[, n = 0]) - ClickHouse roundBankers (rewrites to bround: half-to-even on both engines)"),
        (args: Seq[Expression]) => {
          if (args.isEmpty || args.size > 2)
            throw new IllegalArgumentException(
              s"roundBankers expects (x[, n]) (${args.size} given)")
          fn("bround", args(0),
            if (args.size == 2) args(1) else Literal(0))
        }),
      rewrite("trimLeft", "trimLeft(s) - ClickHouse trimLeft (rewrites to ltrim: leading spaces)",
        1, "(s)")(a => fn("ltrim", a(0))),
      rewrite("trimRight", "trimRight(s) - ClickHouse trimRight (rewrites to rtrim)",
        1, "(s)")(a => fn("rtrim", a(0))),
      rewrite("trimBoth", "trimBoth(s) - ClickHouse trimBoth (rewrites to trim)",
        1, "(s)")(a => fn("trim", a(0))),
      rewrite("leftPad", "leftPad(s, n, pad) - ClickHouse leftPad (rewrites to lpad - same argument order)",
        3, "(s, n, pad)")(a => fn("lpad", a(0), a(1), a(2))),
      rewrite("rightPad", "rightPad(s, n, pad) - ClickHouse rightPad (rewrites to rpad)",
        3, "(s, n, pad)")(a => fn("rpad", a(0), a(1), a(2))),
      rewrite("countSubstrings", "countSubstrings(haystack, needle) - ClickHouse countSubstrings: NON-OVERLAPPING occurrence count of a LITERAL needle ((length(h) - length(replace(h, needle))) / length(needle), exact integer arithmetic); needle a non-empty string literal",
        2, "(haystack, needle)")(a => {
        val needle = strLit(a(1), "countSubstrings")
        if (needle.isEmpty) throw new IllegalArgumentException(
          "countSubstrings: needle must be a non-empty string literal")
        fn("div",
          fn("-", fn("length", a(0)),
            fn("length", fn("replace", a(0), a(1)))),
          Literal(needle.length))
      }),
      rewrite("mapKeys", "mapKeys(m) - ClickHouse mapKeys (rewrites to map_keys)",
        1, "(m)")(a => fn("map_keys", a(0))),
      rewrite("mapValues", "mapValues(m) - ClickHouse mapValues (rewrites to map_values)",
        1, "(m)")(a => fn("map_values", a(0))),
      rewrite("mapContains", "mapContains(m, k) - ClickHouse mapContains (rewrites to map_contains_key)",
        2, "(m, k)")(a => fn("map_contains_key", a(0), a(1))),
      (FunctionIdentifier("tuple"),
        info("tuple", "tuple(x1[, ...xn]) - ClickHouse tuple (rewrites to struct with DETERMINISTIC positional field names col1..colN, so tupleElement(t, n) resolves regardless of the argument expressions)"),
        (args: Seq[Expression]) => {
          if (args.isEmpty) throw new IllegalArgumentException(
            "tuple expects at least one argument")
          fn("struct", args.zipWithIndex.map { case (e, i) =>
            org.apache.spark.sql.catalyst.expressions
              .Alias(e, s"col${i + 1}")(): Expression
          }: _*)
        }),
      rewrite("tupleElement", "tupleElement(t, n) - ClickHouse tupleElement with a 1-based INT LITERAL index over tuple()'s positional col1..colN fields (resolves to struct-field access at analysis)",
        2, "(t, n)")(a => {
        val n = intLit(a(1), "tupleElement")
        if (n < 1) throw new IllegalArgumentException(
          s"tupleElement: index $n - ClickHouse indices are 1-based")
        org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
          a(0), Literal(s"col${n}"))
      }),
      (FunctionIdentifier("age"),
        info("age", "age(unit, start, end) - ClickHouse age: ELAPSED complete units from start to end (Spark's timestampdiff semantics - the complement of graft_date_diff's boundary crossing); unit a string literal in second/minute/hour/day/week/month/quarter/year"),
        (args: Seq[Expression]) => {
          arity(args, 3, "age", "(unit, start, end)")
          val unit = strLit(args(0), "age").toLowerCase match {
            case "second" => "SECOND"
            case "minute" => "MINUTE"
            case "hour" => "HOUR"
            case "day" => "DAY"
            case "week" => "WEEK"
            case "month" => "MONTH"
            case "quarter" => "QUARTER"
            case "year" => "YEAR"
            case other => throw new IllegalArgumentException(
              s"age: unit '$other' - expected second/minute/hour/day/" +
                "week/month/quarter/year")
          }
          org.apache.spark.sql.catalyst.expressions.TimestampDiff(unit,
            Cast(args(1), org.apache.spark.sql.types.TimestampType),
            Cast(args(2), org.apache.spark.sql.types.TimestampType))
        }),
      rewrite("arraySort", "arraySort(arr) - ClickHouse arraySort, plain 1-arg form (rewrites to array_sort; the lambda form is Spark's own array_sort(arr, comparator))",
        1, "(arr)")(a => fn("array_sort", a(0))),
      rewrite("arrayFlatten", "arrayFlatten(arr) - ClickHouse arrayFlatten (rewrites to flatten; one level, like CH)",
        1, "(arr)")(a => fn("flatten", a(0))),
      rewrite("arrayReverse", "arrayReverse(arr) - ClickHouse arrayReverse (rewrites to reverse)",
        1, "(arr)")(a => fn("reverse", a(0))),
      rewrite("arrayMin", "arrayMin(arr) - ClickHouse arrayMin, plain form (rewrites to array_min; the lambda form composes arrayMap first)",
        1, "(arr)")(a => fn("array_min", a(0))),
      rewrite("arrayMax", "arrayMax(arr) - ClickHouse arrayMax, plain form (rewrites to array_max)",
        1, "(arr)")(a => fn("array_max", a(0))),
      rewrite("arrayZip", "arrayZip(a, b) - ClickHouse arrayZip for the two-array form (rewrites to arrays_zip; DEVIATION: struct fields carry the input expression names, not CH's positional tuple slots - read them with tupleElement-style field access)",
        2, "(a, b)")(a => fn("arrays_zip", a(0), a(1))),
      (FunctionIdentifier("arraySlice"),
        info("arraySlice", "arraySlice(arr, offset[, length]) - ClickHouse arraySlice: 1-based offset (negative from the end, CH and Spark agree); length defaults to the rest of the array (rewrites to slice with a size() fallback)"),
        (args: Seq[Expression]) => {
          if (args.size != 2 && args.size != 3)
            throw new IllegalArgumentException(
              s"arraySlice expects (arr, offset[, length]) (${args.size} given)")
          val len = if (args.size == 3) args(2) else fn("size", args(0))
          fn("slice", args(0), args(1), len)
        }),
      (FunctionIdentifier("arrayCompact"),
        info("arrayCompact", "arrayCompact(arr) - ClickHouse arrayCompact: removes CONSECUTIVE duplicate elements (NOT Spark's array_compact, which strips NULLs - the names are false friends, deliberately not aliased); an element survives when it is the first position or differs null-safely from its predecessor"),
        (args: Seq[Expression]) => {
          arity(args, 1, "arrayCompact", "(arr)")
          import org.apache.spark.sql.catalyst.expressions._
          val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
          val i = UnresolvedNamedLambdaVariable(Seq("__graft_i"))
          // i is filter's 0-based position; element_at(arr, i) is then
          // the PREDECESSOR (1-based); the i = 0 disjunct short-circuits
          // before the index-0 access can ever evaluate
          ArrayFilter(args(0), LambdaFunction(
            Or(EqualTo(i, Literal(0)),
              Not(EqualNullSafe(x, ElementAt(args(0), i, None,
                failOnError = false)))),
            Seq(x, i)))
        }),
      (FunctionIdentifier("arraySum"),
        info("arraySum", "arraySum(arr) - ClickHouse arraySum, plain form over INTEGER arrays (the family's pre-scale-floats discipline; a double array fails the aggregate type check loudly): one in-row fold, BIGINT result"),
        (args: Seq[Expression]) => {
          arity(args, 1, "arraySum", "(arr)")
          arrayFold(args(0))
        }),
      (FunctionIdentifier("arrayAvg"),
        info("arrayAvg", "arrayAvg(arr) - ClickHouse arrayAvg, plain form over INTEGER arrays: exact integer sum, ONE double division by size; NULL on an empty array (CH reads 0 - documented deviation, divide-by-zero null semantics)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "arrayAvg", "(arr)")
          import org.apache.spark.sql.catalyst.expressions.{Cast, Divide}
          import org.apache.spark.sql.types.DoubleType
          Divide(Cast(arrayFold(args(0)), DoubleType),
            Cast(fn("size", args(0)), DoubleType))
        }),
      rewrite("arrayDistinct", "arrayDistinct(arr) - ClickHouse arrayDistinct (rewrites to array_distinct; first-occurrence order, both engines)",
        1, "(arr)")(a => fn("array_distinct", a(0))),
      // the higher-order family: ClickHouse puts the LAMBDA FIRST
      // (arrayMap(x -> x + 1, arr)); these builders swap it into
      // Spark's HOF argument order. The analyzer demands that a
      // function whose arguments carry a lambda resolve DIRECTLY to a
      // HigherOrderFunction (an UnresolvedFunction rewrite trips
      // INVALID_LAMBDA_FUNCTION_CALL before re-resolution), so these
      // construct the Catalyst nodes themselves
      hof("arrayMap", "transform", "element-wise map")(
        (arr, f) => org.apache.spark.sql.catalyst.expressions
          .ArrayTransform(arr, f)),
      hof("arrayFilter", "filter", "elements where the lambda holds")(
        (arr, f) => org.apache.spark.sql.catalyst.expressions
          .ArrayFilter(arr, f)),
      hof("arrayExists", "exists", "TRUE if the lambda holds anywhere")(
        (arr, f) => new org.apache.spark.sql.catalyst.expressions
          .ArrayExists(arr, f)),
      hof("arrayAll", "forall", "TRUE if the lambda holds everywhere")(
        (arr, f) => org.apache.spark.sql.catalyst.expressions
          .ArrayForAll(arr, f)),
      // count/first cannot COMPOSE around a HOF (the analyzer requires
      // the resolved result of a lambda-carrying call to BE the
      // HigherOrderFunction — size(filter(...)) is rejected outright),
      // so both splice the user's predicate into one ArrayAggregate
      // fold: count accumulates +1 on matches; first keeps the first
      // match, with the zero TYPED as the element type via an
      // out-of-bounds element_at (a bare NULL zero fails aggregate's
      // type check)
      hof("arrayCount", "aggregate", "the number of elements where the lambda holds")(
        (arr, f) => {
          import org.apache.spark.sql.catalyst.expressions._
          val (acc, fin, x) = hofVars(f, "arrayCount")
          ArrayAggregate(arr, Literal(0),
            LambdaFunction(
              If(Coalesce(Seq(f.function, Literal(false))),
                Add(acc, Literal(1)), acc),
              Seq(acc, x)),
            LambdaFunction(fin, Seq(fin)))
        }),
      hof("arrayFirst", "aggregate", "the first element where the lambda holds - DEVIATION: NULL when none matches (CH reads the type default)")(
        (arr, f) => {
          import org.apache.spark.sql.catalyst.expressions._
          val (acc, fin, x) = hofVars(f, "arrayFirst")
          ArrayAggregate(arr,
            ElementAt(arr, Literal(Int.MaxValue), None, failOnError = false),
            LambdaFunction(
              If(And(IsNull(acc),
                Coalesce(Seq(f.function, Literal(false)))), x, acc),
              Seq(acc, x)),
            LambdaFunction(fin, Seq(fin)))
        }),
      (FunctionIdentifier("toStartOfInterval"),
        info("toStartOfInterval", "toStartOfInterval(ts, INTERVAL n unit) - ClickHouse toStartOfInterval for second/minute/hour/day grids (rewrites to exact unix-second remainder arithmetic; the interval must be a literal with a whole-second day-time value); month/quarter/year intervals are not supported - use toStartOfMonth/Quarter/Year"),
        (args: Seq[Expression]) => {
          arity(args, 2, "toStartOfInterval", "(ts, INTERVAL n unit)")
          val secs: Long = args(1) match {
            case Literal(micros: Long, _: org.apache.spark.sql.types.DayTimeIntervalType)
                if micros > 0 && micros % 1000000L == 0 =>
              micros / 1000000L
            case Literal(_, _: org.apache.spark.sql.types.YearMonthIntervalType) =>
              throw new IllegalArgumentException(
                "toStartOfInterval: month/quarter/year intervals have no " +
                  "fixed second width - use toStartOfMonth/Quarter/Year")
            case other => throw new IllegalArgumentException(
              "toStartOfInterval expects a positive whole-second " +
                s"INTERVAL LITERAL (e.g. INTERVAL 15 MINUTE), got $other")
          }
          val u = fn("unix_timestamp", args(0))
          fn("timestamp_seconds", fn("-", u, fn("pmod", u, Literal(secs))))
        }),
      // ---- r17 scalar batch: the remaining high-traffic CH names with
      // exact Spark spellings (audited against the registry; names
      // Spark already resolves identically - startsWith, ifNull,
      // repeat, greatest, hex, now, ... - are deliberately NOT
      // re-registered) -------------------------------------------------
      (FunctionIdentifier("arrayConcat"),
        info("arrayConcat", "arrayConcat(a1[, a2, ...]) - ClickHouse arrayConcat (rewrites to concat over arrays)"),
        (args: Seq[Expression]) => {
          if (args.isEmpty) throw new IllegalArgumentException(
            "arrayConcat expects (a1[, a2, ...])")
          fn("concat", args: _*)
        }),
      (FunctionIdentifier("concatAssumeInjective"),
        info("concatAssumeInjective", "concatAssumeInjective(s1, s2, ...) - ClickHouse concatAssumeInjective: plain concat (the CH name is an optimizer HINT for GROUP BY keys; Catalyst needs no such hint - same values)"),
        (args: Seq[Expression]) => {
          if (args.size < 2) throw new IllegalArgumentException(
            "concatAssumeInjective expects (s1, s2, ...)")
          fn("concat", args: _*)
        }),
      rewrite("arrayProduct",
        "arrayProduct(arr) - ClickHouse arrayProduct: product of the elements as DOUBLE (CH's Float64 read; empty array reads 1.0)",
        1, "(arr)")(a => {
          import org.apache.spark.sql.catalyst.expressions._
          val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
          val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
          val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
          ArrayAggregate(
            Cast(a(0), ArrayType(DoubleType)), Literal(1.0d),
            LambdaFunction(Multiply(acc, x), Seq(acc, x)),
            LambdaFunction(fin, Seq(fin)))
        }),
      rewrite("arrayUniq",
        "arrayUniq(arr) - ClickHouse arrayUniq: count of DISTINCT elements (rewrites to size(array_distinct(arr)) as BIGINT)",
        1, "(arr)")(a =>
          Cast(fn("size", fn("array_distinct", a(0))), LongType)),
      rewrite("arrayReverseSort",
        "arrayReverseSort(arr) - ClickHouse arrayReverseSort (no-lambda form): descending sort (rewrites to reverse(array_sort(arr)); the lambda form is arraySort machinery - sort a keyed struct instead)",
        1, "(arr)")(a => fn("reverse", fn("array_sort", a(0)))),
      rewrite("arrayIntersect",
        "arrayIntersect(a, b) - ClickHouse arrayIntersect for TWO arrays (rewrites to array_intersect; DEVIATION: result order follows the first array - CH's is unspecified); chain calls for more arrays",
        2, "(a, b)")(a => fn("array_intersect", a(0), a(1))),
      rewrite("hasAll",
        "hasAll(arr, subset) - ClickHouse hasAll: TRUE iff every element of subset occurs in arr (rewrites to size(array_except(subset, arr)) = 0; empty subset reads TRUE, CH's rule)",
        2, "(arr, subset)")(a =>
          org.apache.spark.sql.catalyst.expressions.EqualTo(
            fn("size", fn("array_except", a(1), a(0))), Literal(0))),
      rewrite("hasAny",
        "hasAny(a, b) - ClickHouse hasAny: TRUE iff the arrays share an element (rewrites to arrays_overlap; empty b reads FALSE, CH's rule)",
        2, "(a, b)")(a => fn("arrays_overlap", a(0), a(1))),
      rewrite("arrayPushBack",
        "arrayPushBack(arr, x) - ClickHouse arrayPushBack (rewrites to concat(arr, array(x)))",
        2, "(arr, x)")(a => fn("concat", a(0), fn("array", a(1)))),
      rewrite("arrayPushFront",
        "arrayPushFront(arr, x) - ClickHouse arrayPushFront (rewrites to concat(array(x), arr))",
        2, "(arr, x)")(a => fn("concat", fn("array", a(1)), a(0))),
      rewrite("arrayPopBack",
        "arrayPopBack(arr) - ClickHouse arrayPopBack: the array without its last element (slice arithmetic; empty stays empty)",
        1, "(arr)")(a => fn("slice", a(0), Literal(1),
          fn("greatest", fn("-", fn("size", a(0)), Literal(1)),
            Literal(0)))),
      rewrite("arrayPopFront",
        "arrayPopFront(arr) - ClickHouse arrayPopFront: the array without its first element (slice arithmetic; empty stays empty)",
        1, "(arr)")(a => fn("slice", a(0), Literal(2),
          fn("greatest", fn("-", fn("size", a(0)), Literal(1)),
            Literal(0)))),
      (FunctionIdentifier("arrayResize"),
        info("arrayResize", "arrayResize(arr, n, fill) - ClickHouse arrayResize with an EXPLICIT fill (truncate to n, or pad with fill up to n). The 2-argument CH form pads with the element type's DEFAULT (0/''), which this engine cannot synthesize at plan time - pass the fill explicitly (REJECTED by name otherwise)"),
        (args: Seq[Expression]) => {
          if (args.size == 2) throw new IllegalArgumentException(
            "arrayResize: the 2-argument form pads with CH's type " +
              "default - pass the fill explicitly: arrayResize(arr, n, fill)")
          arity(args, 3, "arrayResize", "(arr, n, fill)")
          fn("concat",
            fn("slice", args(0), Literal(1),
              fn("least", args(1), fn("size", args(0)))),
            fn("array_repeat", args(2),
              fn("greatest", fn("-", args(1), fn("size", args(0))),
                Literal(0))))
        }),
      rewrite("positionCaseInsensitive",
        "positionCaseInsensitive(haystack, needle) - ClickHouse positionCaseInsensitive: 1-based first occurrence over lowercased inputs, 0 when absent (NOTE the haystack-first order - plain position() is the pinned Spark arg-order TRAP)",
        2, "(haystack, needle)")(a =>
          fn("instr", fn("lower", a(0)), fn("lower", a(1)))),
      rewrite("bitCount",
        "bitCount(x) - ClickHouse bitCount (rewrites to bit_count)",
        1, "(x)")(a => fn("bit_count", a(0))),
      rewrite("exp2",
        "exp2(x) - ClickHouse exp2 (rewrites to power(2, x))",
        1, "(x)")(a => fn("power", Literal(2.0d), a(0))),
      rewrite("isFinite",
        "isFinite(x) - ClickHouse isFinite: TRUE iff x is neither NaN nor infinite (double read)",
        1, "(x)")(a => {
          import org.apache.spark.sql.catalyst.expressions.{And, Not, EqualTo}
          val d = Cast(a(0), DoubleType)
          And(Not(fn("isnan", d)),
            Not(EqualTo(fn("abs", d), Literal(Double.PositiveInfinity))))
        }),
      rewrite("isInfinite",
        "isInfinite(x) - ClickHouse isInfinite: TRUE iff x is +/-Inf (NaN reads FALSE)",
        1, "(x)")(a =>
          org.apache.spark.sql.catalyst.expressions.EqualTo(
            fn("abs", Cast(a(0), DoubleType)),
            Literal(Double.PositiveInfinity))),
      rewrite("translateUTF8",
        "translateUTF8(s, from, to) - ClickHouse translateUTF8 (rewrites to translate; DEVIATION: CH requires equal from/to lengths - Spark DELETES characters when to is shorter)",
        3, "(s, from, to)")(a => fn("translate", a(0), a(1), a(2))),
      rewrite("toLastDayOfMonth",
        "toLastDayOfMonth(ts) - ClickHouse toLastDayOfMonth (rewrites to last_day; returns DATE, CH's read)",
        1, "(ts)")(a => fn("last_day", Cast(a(0), DateType))),
      rewrite("toStartOfSecond",
        "toStartOfSecond(ts) - ClickHouse toStartOfSecond (rewrites to date_trunc second; returns TIMESTAMP)",
        1, "(ts)")(a => fn("date_trunc", Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString("second"),
          StringType), Cast(a(0), TimestampType))),
      rewrite("timeSlot",
        "timeSlot(ts) - ClickHouse timeSlot: floor to the half-hour grid (the toStartOfInterval 1800-second remainder arithmetic)",
        1, "(ts)")(a => {
          val u = fn("unix_timestamp", Cast(a(0), TimestampType))
          fn("timestamp_seconds",
            fn("-", u, fn("pmod", u, Literal(1800L))))
        }),
      rewrite("monthName",
        "monthName(ts) - ClickHouse monthName: the full English month name (rewrites to date_format 'MMMM')",
        1, "(ts)")(a => fn("date_format", Cast(a(0), TimestampType),
          Literal(org.apache.spark.unsafe.types.UTF8String
            .fromString("MMMM"), StringType))),
      (FunctionIdentifier("roundBankers"),
        info("roundBankers", "roundBankers(x[, n]) - ClickHouse roundBankers: half-to-even rounding (rewrites to bround). NOTE the TRAP: ClickHouse's plain round() is ALSO banker's for floats, but Spark's round() is HALF-UP - port CH round() calls to roundBankers/bround when tie behavior matters (pinned in MigrantSqlSpec)"),
        (args: Seq[Expression]) => {
          if (args.isEmpty || args.size > 2) throw new IllegalArgumentException(
            "roundBankers expects (x[, n])")
          fn("bround", args: _*)
        }),
      (FunctionIdentifier("now64"),
        info("now64", "now64([precision]) - ClickHouse now64: statement-start timestamp (rewrites to now(); Spark timestamps are fixed micros precision - the precision argument is accepted and ignored, CH's sub-micro precisions are not representable)"),
        (args: Seq[Expression]) => {
          if (args.size > 1) throw new IllegalArgumentException(
            "now64 expects ([precision])")
          fn("now")
        }),
      (FunctionIdentifier("formatReadableSize"),
        info("formatReadableSize", "formatReadableSize(bytes) - ClickHouse formatReadableSize: binary-unit render with two decimals ('1.00 KiB', '976.56 MiB'; units B..EiB), the dashboard display helper"),
        (args: Seq[Expression]) => {
          arity(args, 1, "formatReadableSize", "(bytes)")
          import org.apache.spark.sql.catalyst.expressions.{CaseWhen, LessThan}
          import org.apache.spark.unsafe.types.UTF8String
          val v = Cast(args(0), DoubleType)
          def render(den: Double, unit: String): Expression =
            fn("format_string",
              Literal(UTF8String.fromString(s"%.2f $unit"), StringType),
              fn("/", v, Literal(den)))
          val units = Seq("B" -> 1d, "KiB" -> 1024d, "MiB" -> math.pow(1024, 2),
            "GiB" -> math.pow(1024, 3), "TiB" -> math.pow(1024, 4),
            "PiB" -> math.pow(1024, 5), "EiB" -> math.pow(1024, 6))
          val branches = units.init.map { case (unit, den) =>
            (LessThan(fn("abs", v),
              Literal(den * 1024)): Expression) -> render(den, unit)
          }
          CaseWhen(branches, Some(render(units.last._2, units.last._1)))
        }),
      (FunctionIdentifier("bar"),
        info("bar", "bar(x, min, max[, width=80]) - ClickHouse bar: a unicode bar of (x-min)/(max-min)*width characters, full blocks plus one eighth-block partial; DEVIATION: the partial rounds to the NEAREST eighth (CH's renderer may differ by one eighth on exact boundaries); x clamps into [min, max]"),
        (args: Seq[Expression]) => {
          if (args.size < 3 || args.size > 4) throw new IllegalArgumentException(
            "bar expects (x, min, max[, width])")
          import org.apache.spark.sql.catalyst.expressions.{Greatest, Least}
          import org.apache.spark.unsafe.types.UTF8String
          val width = if (args.size == 4) Cast(args(3), DoubleType)
            else Literal(80.0d)
          val x = Cast(args(0), DoubleType)
          val lo = Cast(args(1), DoubleType)
          val hi = Cast(args(2), DoubleType)
          // w in [0, width]; eighths = round(w * 8) split into full + rem
          val frac = fn("/", fn("-", Least(Seq(Greatest(Seq(x, lo)), hi)),
            lo), fn("-", hi, lo))
          val eighths = Cast(fn("round", fn("*", fn("*", frac, width),
            Literal(8.0d))), LongType)
          val full = fn("div", eighths, Literal(8L))
          val rem = Cast(fn("pmod", eighths, Literal(8L)), IntegerType)
          // partial glyphs: index 1..7 = U+258F (1/8) .. U+2589 (7/8)
          val partials = "▏▎▍▌▋▊▉"
          fn("concat",
            fn("repeat", Literal(UTF8String.fromString("█"),
              StringType), Cast(full, IntegerType)),
            fn("substring", Literal(UTF8String.fromString(partials),
              StringType), rem, fn("if",
                org.apache.spark.sql.catalyst.expressions.EqualTo(rem,
                  Literal(0)), Literal(0), Literal(1))))
        }),
      rewrite("fromUnixTimestamp",
        "fromUnixTimestamp(sec) - ClickHouse fromUnixTimestamp, 1-argument form (rewrites to timestamp_seconds); the 2-argument render form composes as formatDateTime(fromUnixTimestamp(sec), fmt)",
        1, "(sec)")(a => fn("timestamp_seconds", a(0))),
      castAlias("toDate32", DateType,
        "; CH's toDate32 only widens the representable range - one DATE type here"),
      (FunctionIdentifier("toDateTime64"),
        info("toDateTime64", "toDateTime64(x[, precision]) - ClickHouse toDateTime64 (rewrites to CAST(x AS TIMESTAMP); Spark timestamps are fixed micros precision - the precision argument is accepted and ignored)"),
        (args: Seq[Expression]) => {
          if (args.isEmpty || args.size > 2) throw new IllegalArgumentException(
            "toDateTime64 expects (x[, precision])")
          Cast(args(0), TimestampType)
        }),
      hof("arrayFirstIndex", "aggregate",
        "the 1-based index of the first element where the lambda " +
          "holds, 0 when none (CH's read) - a single-counter fold: " +
          "negative acc counts scanned elements, positive acc is the " +
          "found index")(
        (arr, f) => {
          import org.apache.spark.sql.catalyst.expressions._
          val (acc, fin, x) = hofVars(f, "arrayFirstIndex")
          ArrayAggregate(arr, Literal(0L),
            LambdaFunction(
              If(GreaterThan(acc, Literal(0L)), acc,
                If(Coalesce(Seq(f.function, Literal(false))),
                  Subtract(Literal(1L), acc),
                  Subtract(acc, Literal(1L)))),
              Seq(acc, x)),
            LambdaFunction(
              If(GreaterThan(fin, Literal(0L)), fin, Literal(0L)),
              Seq(fin)))
        }),
      rewrite("roundDuration",
        "roundDuration(sec) - ClickHouse roundDuration: floor onto CH's fixed duration bucket set (0, 1, 10, 30, 60, 120, 180, 240, 300, 600, 1200, 1800, 3600, 7200, 18000, 36000) - the session-length render",
        1, "(sec)")(a => chBuckets(a(0), Seq(1L, 10L, 30L, 60L, 120L,
          180L, 240L, 300L, 600L, 1200L, 1800L, 3600L, 7200L, 18000L,
          36000L))),
      rewrite("roundAge",
        "roundAge(years) - ClickHouse roundAge: CH's fixed age buckets (0 under 1, 17 for 1-17, then 18/25/35/45/55)",
        1, "(years)")(a => chBuckets(a(0),
          Seq(1L, 18L, 25L, 35L, 45L, 55L), firstBucket = 17L)),
      (FunctionIdentifier("dateName"),
        info("dateName", "dateName(part, ts) - ClickHouse dateName for the common parts: 'year'/'month'/'weekday' render as '2024'/'March'/'Monday' (date_format rewrites); other parts are REJECTED by name - use the toYear/toMonth extractor family for numeric parts"),
        (args: Seq[Expression]) => {
          arity(args, 2, "dateName", "(part, ts)")
          val pat = strLit(args(0), "dateName").toLowerCase match {
            case "year" => "yyyy"
            case "month" => "MMMM"
            case "weekday" => "EEEE"
            case other => throw new IllegalArgumentException(
              s"dateName: part '$other' - supported: year, month, " +
                "weekday (numeric parts: the toYear/toMonth/... family)")
          }
          fn("date_format", Cast(args(1), TimestampType),
            Literal(org.apache.spark.unsafe.types.UTF8String
              .fromString(pat), StringType))
        }))
  }

  /** CH's fixed-bucket floors (roundDuration/roundAge): value < first
    * threshold → 0 (or `firstBucket` for roundAge's 1..17 band), else
    * the largest threshold ≤ value. A CASE chain over literals —
    * codegen'd, branch count fixed.
    */
  private def chBuckets(e: Expression, thresholds: Seq[Long],
      firstBucket: Long = 0L): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Cast, LessThan}
    import org.apache.spark.sql.types.LongType
    val v = Cast(e, LongType)
    // descending: first branch that v is NOT below wins via the
    // ascending LessThan chain (v < t1 -> prev bucket)
    val branches = thresholds.zipWithIndex.map { case (t, i) =>
      val bucket = if (i == 0) 0L
        else if (i == 1 && firstBucket != 0L) firstBucket
        else thresholds(i - 1)
      (LessThan(v, Literal(t)): Expression) -> (Literal(bucket): Expression)
    }
    CaseWhen(branches, Some(Literal(thresholds.last)))
  }

  /** In-row integer sum fold: `aggregate(arr, 0L, (a, x) -> a + x)` as
    * resolved Catalyst nodes (the hof note: a lambda under an
    * UnresolvedFunction is rejected). Long zero ⇒ integer element
    * types widen into it; a double array fails the aggregate type
    * check loudly — the pre-scale discipline, stated at both callers.
    */
  private def arrayFold(arr: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
    val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
    val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
    ArrayAggregate(arr, Literal(0L),
      LambdaFunction(Add(acc, x), Seq(acc, x)),
      LambdaFunction(fin, Seq(fin)))
  }

  /** Accumulator/finish lambda variables + the user's element variable
    * for the spliced ArrayAggregate builders; the engine-reserved
    * variable names are rejected in user lambdas (they would shadow).
    */
  private def hofVars(
      f: org.apache.spark.sql.catalyst.expressions.LambdaFunction,
      fn: String): (
        org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable,
        org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable,
        org.apache.spark.sql.catalyst.expressions.NamedExpression) = {
    import org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable
    if (f.arguments.size != 1) throw new IllegalArgumentException(
      s"$fn expects a ONE-variable lambda (x -> ...), got " +
        s"${f.arguments.size} variables")
    val userName = f.arguments(0).name
    if (userName == "__graft_acc" || userName == "__graft_fin")
      throw new IllegalArgumentException(
        s"$fn: lambda variable name '$userName' is reserved by the " +
          "engine's fold splice - rename it")
    (UnresolvedNamedLambdaVariable(Seq("__graft_acc")),
      UnresolvedNamedLambdaVariable(Seq("__graft_fin")),
      f.arguments(0))
  }

  /** ClickHouse lambda-first HOF name → the Catalyst HigherOrderFunction
    * with the arguments swapped (`arrayMap(x -> f(x), arr)` ≡
    * `transform(arr, x -> f(x))`); the first argument must BE a lambda,
    * rejected by name otherwise.
    */
  private def hof(name: String, target: String, what: String)(
      mk: (Expression,
        org.apache.spark.sql.catalyst.expressions.LambdaFunction) => Expression) =
    (FunctionIdentifier(name),
      info(name, s"$name(lambda, arr) - ClickHouse $name (LAMBDA-FIRST, CH's convention): $what (≡ $target with Spark's argument order)"),
      (args: Seq[Expression]) => {
        arity(args, 2, name, "(lambda, arr)")
        args(0) match {
          case f: org.apache.spark.sql.catalyst.expressions.LambdaFunction =>
            mk(args(1), f)
          case other => throw new IllegalArgumentException(
            s"$name expects the LAMBDA first (ClickHouse's argument " +
              s"order): $name(x -> ..., arr); got $other")
        }
      })

  /** The r18 scalar batch: the remaining ClickHouse names a dashboard
    * or feature pipeline hits that had no registered spelling — array
    * scans (cumSum/difference/enumerateDense/rotate), string predicates
    * (startsWith/endsWith/alphaTokens/concatWithSeparator/
    * substringIndex), relative-time bucket numbers + timeSlots +
    * toModifiedJulianDay + the add/subtract date-arithmetic family, the
    * vector-distance scalars (dotProduct/L1/L2/Linf/cosineDistance —
    * the CH names over the engine's codegen'd DotProduct kernel), bit
    * probes (bitTest/All/Any) and formatReadableQuantity. All
    * expression-level plan-time rewrites (zero UDFs); lambdas sit under
    * DIRECT HigherOrderFunction nodes (the hof-splice rule). Everything
    * oracle-checkable lands in q137; render-only names are spec-pinned.
    */
  private def chScalarBatch4: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedExtractValue, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    def fn(target: String, args: Expression*) =
      UnresolvedFunction(Seq(target), args.toSeq, isDistinct = false)
    def rewrite(name: String, doc: String, nArgs: Int, usage: String)(
        mk: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), info(name, doc),
        (args: Seq[Expression]) => { arity(args, nArgs, name, usage); mk(args) })
    def strL(s: String): Expression =
      Literal(UTF8String.fromString(s), StringType)
    def darr(e: Expression): Expression = Cast(e, ArrayType(DoubleType))
    // Σ over a double array as resolved nodes (the arrayFold shape at
    // DOUBLE zero: exact when elements are integer-valued < 2^53 —
    // the vector-distance oracle discipline)
    def dsum(arr: Expression): Expression = {
      val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
      val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
      val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
      ArrayAggregate(arr, Literal(0.0d),
        LambdaFunction(Add(acc, x), Seq(acc, x)),
        LambdaFunction(fin, Seq(fin)))
    }
    def pairMap(a: Expression, b: Expression)(
        mk: (Expression, Expression) => Expression): Expression = {
      val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
      val y = UnresolvedNamedLambdaVariable(Seq("__graft_y"))
      ZipWith(darr(a), darr(b), LambdaFunction(mk(x, y), Seq(x, y)))
    }
    // rotate by pmod(shift, size): one pmod + two slices; size ≤ 1 is
    // the identity (and guards pmod's size-0 NULL)
    def rotate(arr: Expression, shift: Expression): Expression = {
      val size = fn("size", arr)
      val k = fn("pmod", Cast(shift, IntegerType), size)
      If(LessThanOrEqual(size, Literal(1)), arr,
        fn("concat",
          fn("slice", arr, Add(k, Literal(1)), Subtract(size, k)),
          fn("slice", arr, Literal(1), k)))
    }
    def relNum(name: String, seconds: Long) =
      rewrite(name,
        s"$name(ts) - ClickHouse $name: floor(epoch / $seconds) as " +
          "BIGINT (UTC session; CH buckets in the column's timezone)",
        1, "(ts)")(a => Cast(fn("floor", fn("/",
          fn("unix_timestamp", Cast(a(0), TimestampType)),
          Literal(seconds.toDouble))), LongType))
    def bit(x: Expression, i: Expression): Expression =
      BitwiseAnd(ShiftRight(Cast(x, LongType), Cast(i, IntegerType)),
        Literal(1L))
    Seq(
      (FunctionIdentifier("arrayCumSum"),
        info("arrayCumSum", "arrayCumSum(arr) - ClickHouse arrayCumSum over INTEGER arrays (the arraySum pre-scale discipline): running sums as array<bigint>, one O(n) struct-accumulator fold (not the O(n^2) per-index re-sum)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "arrayCumSum", "(arr)")
          val acc = UnresolvedNamedLambdaVariable(Seq("__graft_acc"))
          val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
          val fin = UnresolvedNamedLambdaVariable(Seq("__graft_fin"))
          def f(e: Expression, n: String) = UnresolvedExtractValue(e, strL(n))
          val emptyLongs = fn("slice", fn("array", Literal(0L)),
            Literal(1), Literal(0))
          val zero = fn("named_struct", strL("s"), Literal(0L),
            strL("o"), emptyLongs)
          val nextSum = Add(f(acc, "s"), Cast(x, LongType))
          ArrayAggregate(args(0), zero,
            LambdaFunction(fn("named_struct", strL("s"), nextSum,
              strL("o"), fn("concat", f(acc, "o"), fn("array", nextSum))),
              Seq(acc, x)),
            LambdaFunction(f(fin, "o"), Seq(fin)))
        }),
      (FunctionIdentifier("arrayDifference"),
        info("arrayDifference", "arrayDifference(arr) - ClickHouse arrayDifference over INTEGER arrays: [0, a[1]-a[0], ...] as array<bigint> (CH's leading zero)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "arrayDifference", "(arr)")
          val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
          val i = UnresolvedNamedLambdaVariable(Seq("__graft_i"))
          // i is transform's 0-based position; element_at(arr, i) is
          // the 1-based PREDECESSOR; the i = 0 branch short-circuits
          ArrayTransform(args(0), LambdaFunction(
            If(EqualTo(i, Literal(0)), Literal(0L),
              Subtract(Cast(x, LongType),
                Cast(ElementAt(args(0), i, None, failOnError = false),
                  LongType))),
            Seq(x, i)))
        }),
      (FunctionIdentifier("arrayEnumerateDense"),
        info("arrayEnumerateDense", "arrayEnumerateDense(arr) - ClickHouse arrayEnumerateDense: 1-based dense ids in FIRST-APPEARANCE order ([10,20,10,30] -> [1,2,1,3]; array_distinct preserves first-occurrence order on both engines); DEVIATIONS: a NULL element reads a NULL id (array_position cannot match NULL; CH assigns NULL a dense id as a value), and the rewrite is O(n^2) per row (array_position over array_distinct per element) vs CH's hash-based O(n) - bound array sizes accordingly"),
        (args: Seq[Expression]) => {
          arity(args, 1, "arrayEnumerateDense", "(arr)")
          val x = UnresolvedNamedLambdaVariable(Seq("__graft_x"))
          ArrayTransform(args(0), LambdaFunction(
            fn("array_position", fn("array_distinct", args(0)), x),
            Seq(x)))
        }),
      rewrite("arrayRotateLeft",
        "arrayRotateLeft(arr, n) - ClickHouse arrayRotateLeft (negative n rotates right; n wraps modulo size)",
        2, "(arr, n)")(a => rotate(a(0), a(1))),
      rewrite("arrayRotateRight",
        "arrayRotateRight(arr, n) - ClickHouse arrayRotateRight (negative n rotates left; n wraps modulo size)",
        2, "(arr, n)")(a => rotate(a(0), UnaryMinus(Cast(a(1), IntegerType)))),
      // direct Catalyst nodes: the CH camelCase names shadow Spark's
      // case-insensitive builtin startswith/endswith in the registry,
      // so an UnresolvedFunction rewrite would resolve back to ITSELF
      rewrite("startsWith",
        "startsWith(s, prefix) - ClickHouse startsWith (the builtin startswith semantics; same name modulo case, same answer)",
        2, "(s, prefix)")(a => StartsWith(a(0), a(1))),
      rewrite("endsWith",
        "endsWith(s, suffix) - ClickHouse endsWith (the builtin endswith semantics; same name modulo case, same answer)",
        2, "(s, suffix)")(a => EndsWith(a(0), a(1))),
      rewrite("alphaTokens",
        "alphaTokens(s) - ClickHouse alphaTokens: maximal [a-zA-Z] runs (split on non-letters, empties dropped)",
        1, "(s)")(a => {
          val t = UnresolvedNamedLambdaVariable(Seq("__graft_t"))
          ArrayFilter(fn("split", a(0), strL("[^A-Za-z]+")),
            LambdaFunction(Not(EqualTo(t, strL(""))), Seq(t)))
        }),
      (FunctionIdentifier("concatWithSeparator"),
        info("concatWithSeparator", "concatWithSeparator(sep, s1[, s2, ...]) - ClickHouse concatWithSeparator (rewrites to concat_ws); DEVIATION: concat_ws SKIPS NULL arguments where ClickHouse propagates NULL (any NULL argument makes the whole result NULL) - wrap arguments in coalesce or ifNull to pin a reading"),
        (args: Seq[Expression]) => {
          if (args.size < 2) throw new IllegalArgumentException(
            "concatWithSeparator expects (sep, s1[, s2, ...])")
          fn("concat_ws", args: _*)
        }),
      rewrite("substringIndex",
        "substringIndex(s, delim, count) - ClickHouse substringIndex (rewrites to substring_index; same MySQL semantics both engines)",
        3, "(s, delim, count)")(a =>
          fn("substring_index", a(0), a(1), a(2))),
      relNum("toRelativeDayNum", 86400L),
      relNum("toRelativeHourNum", 3600L),
      relNum("toRelativeMinuteNum", 60L),
      (FunctionIdentifier("timeSlots"),
        info("timeSlots", "timeSlots(start, duration[, size = 1800]) - ClickHouse timeSlots: the size-second grid points covering [start, start + duration] as array<timestamp> (an integer sequence on the slot grid mapped to timestamps - the axis parallelizes, nothing driver-side)"),
        (args: Seq[Expression]) => {
          if (args.size < 2 || args.size > 3)
            throw new IllegalArgumentException(
              "timeSlots expects (start, duration[, size])")
          val size = if (args.size == 3) Cast(args(2), LongType)
            else Literal(1800L)
          val u0 = fn("unix_timestamp", Cast(args(0), TimestampType))
          val u1 = Add(u0, Cast(args(1), LongType))
          def snap(u: Expression) = Subtract(u, fn("pmod", u, size))
          val u = UnresolvedNamedLambdaVariable(Seq("__graft_u"))
          ArrayTransform(fn("sequence", snap(u0), snap(u1), size),
            LambdaFunction(fn("timestamp_seconds", u), Seq(u)))
        }),
      rewrite("toModifiedJulianDay",
        "toModifiedJulianDay(d) - ClickHouse toModifiedJulianDay: days since 1858-11-17 (one datediff)",
        1, "(d)")(a => fn("datediff", Cast(a(0), DateType),
          Cast(strL("1858-11-17"), DateType))),
      // NOTE: the add/subtract date-arithmetic family (addDays,
      // subtractMonths, ...) is NOT here - dateFunctions already
      // registers all 16 names (make_dt_interval / make_ym_interval
      // legs, q126-checked); a second registration here would shadow
      // them (registration is last-wins) and churn their plans
      rewrite("dotProduct",
        "dotProduct(a, b) - ClickHouse dotProduct (the engine's codegen'd sequential-order double dot-product kernel, the dot_product surface under the CH name)",
        2, "(a, b)")(a =>
          VectorExprs.DotProduct(darr(a(0)), darr(a(1)))),
      rewrite("L1Distance",
        "L1Distance(a, b) - ClickHouse L1Distance: sum |a_i - b_i| (zip_with + one in-row fold; exact when elements are integer-valued - the vector-oracle discipline)",
        2, "(a, b)")(a =>
          dsum(pairMap(a(0), a(1))((x, y) => Abs(Subtract(x, y))))),
      rewrite("L2Distance",
        "L2Distance(a, b) - ClickHouse L2Distance: sqrt of the squared-difference sum (sqrt is correctly rounded - bit-stable cross-engine on exact integer inputs)",
        2, "(a, b)")(a => Sqrt(dsum(pairMap(a(0), a(1))(
          (x, y) => Multiply(Subtract(x, y), Subtract(x, y)))))),
      rewrite("LinfDistance",
        "LinfDistance(a, b) - ClickHouse LinfDistance: max |a_i - b_i|",
        2, "(a, b)")(a => fn("array_max",
          pairMap(a(0), a(1))((x, y) => Abs(Subtract(x, y))))),
      rewrite("cosineDistance",
        "cosineDistance(a, b) - ClickHouse cosineDistance: 1 - dot/(|a||b|) over the engine's dot-product kernel (NaN on a zero vector, CH's read)",
        2, "(a, b)")(a => {
          val da = darr(a(0)); val db = darr(a(1))
          Subtract(Literal(1.0d),
            Divide(VectorExprs.DotProduct(da, db),
              Multiply(Sqrt(VectorExprs.DotProduct(da, da)),
                Sqrt(VectorExprs.DotProduct(db, db)))))
        }),
      rewrite("bitTest",
        "bitTest(x, i) - ClickHouse bitTest: bit i of x as 0/1 (BIGINT read)",
        2, "(x, i)")(a => bit(a(0), a(1))),
      (FunctionIdentifier("bitTestAll"),
        info("bitTestAll", "bitTestAll(x, i1[, i2, ...]) - ClickHouse bitTestAll: TRUE iff every named bit is set (boolean read; CH renders UInt8 0/1)"),
        (args: Seq[Expression]) => {
          if (args.size < 2) throw new IllegalArgumentException(
            "bitTestAll expects (x, i1[, i2, ...])")
          args.tail.map(i => EqualTo(bit(args(0), i),
            Literal(1L)): Expression).reduce(And(_, _))
        }),
      (FunctionIdentifier("bitTestAny"),
        info("bitTestAny", "bitTestAny(x, i1[, i2, ...]) - ClickHouse bitTestAny: TRUE iff any named bit is set (boolean read; CH renders UInt8 0/1)"),
        (args: Seq[Expression]) => {
          if (args.size < 2) throw new IllegalArgumentException(
            "bitTestAny expects (x, i1[, i2, ...])")
          args.tail.map(i => EqualTo(bit(args(0), i),
            Literal(1L)): Expression).reduce(Or(_, _))
        }),
      (FunctionIdentifier("formatReadableQuantity"),
        info("formatReadableQuantity", "formatReadableQuantity(x) - ClickHouse formatReadableQuantity: decimal-unit render with two decimals ('1.20 thousand', '3.50 million'; units up to quadrillion). Render-only (spec-pinned, not oracle-checked: printf tie-rounding differs Java-vs-C at .xx5 boundaries - the formatReadableSize discipline)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "formatReadableQuantity", "(x)")
          val v = Cast(args(0), DoubleType)
          def render(den: Double, unit: String): Expression =
            fn("format_string", strL(s"%.2f$unit"),
              fn("/", v, Literal(den)))
          val units = Seq("" -> 1d, " thousand" -> 1e3,
            " million" -> 1e6, " billion" -> 1e9,
            " trillion" -> 1e12, " quadrillion" -> 1e15)
          val branches = units.init.map { case (unit, den) =>
            (LessThan(fn("abs", v),
              Literal(den * 1000)): Expression) -> render(den, unit)
          }
          CaseWhen(branches, Some(render(units.last._2, units.last._1)))
        }))
  }

  /** The ClickHouse JSONExtract family — the `props` parsing every CH
    * events deployment carries. Indices-and-keys argument lists compile
    * to a JSONPath literal at plan time (CH's 1-based indices become
    * 0-based `[i-1]`; keys validated [A-Za-z0-9_]+, out-of-contract
    * steps REJECTED by name), the extraction itself is Spark's
    * codegen'd get_json_object; missing paths read CH's defaults
    * ('' / 0 / 0.0 / false) via one Coalesce. `JSONExtractString`
    * returns the raw extraction text (a nested object extracts as its
    * JSON — CH returns '' for non-string nodes; deviation documented
    * in MIGRATION).
    *
    * The structural members (`JSONHas`/`JSONLength`/`JSONType`/
    * `JSONExtractArrayRaw`/`JSONExtractKeys`/
    * `JSONExtractKeysAndValuesRaw`) route through Spark's VARIANT
    * surface instead (`try_parse_json` → `try_variant_get`): a variant
    * distinguishes an ABSENT path (SQL NULL) from an explicit JSON
    * null (variant null), so `JSONHas` matches ClickHouse exactly —
    * including `JSONHas('{"a":null}', 'a') = TRUE` — and the text is
    * parsed ONCE per CALL (the let-binding transform binds the parsed
    * variant where a call probes it more than once; path navigation on
    * variant binary is index arithmetic, not re-parsing).
    *
    * COST PROFILE (measured, q125 bench medians — full noop-write
    * evaluation; a `count()`-based timing PRUNES the projection and
    * reads 17× lower): variant and HOF
    * expressions have no codegen — the r16 stock-composition trees
    * evaluated interpreted at ~0.6 s per accessor-column over sf0.1
    * events (~7.8 s for q125's deliberate 13-accessor battery). Two
    * structural levers applied since: (1) the per-CALL parse is shared
    * ACROSS projection columns by the [[DedupProjectParse]] optimizer
    * rule (13 parses/row → 1, ~30% entry-level — codegen CSE cannot do
    * this for interpreted variant trees); (2) r17: `JSONHas` /
    * `JSONLength` / `JSONType` probe through
    * [[graft.functions.VariantKernels]] — navigation + header read in
    * ONE `StaticInvoke` static call on variant binary instead of
    * try_variant_get + schema_of_variant + let-lambda layers (the r16
    * top-entry cost was exactly those interpreted navigation trees).
    * The collection-valued accessors (ArrayRaw/Keys/KeysAndValuesRaw)
    * stay on the stock variant surface — their output IS a collection,
    * so the transform/to_json re-render is the work itself. Wide
    * extraction can still bind `try_parse_json(js)` explicitly and use
    * stock `variant_get` when the accessors sit outside one Project.
    */
  private def jsonFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, EvalMode}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val KeyOk = "[A-Za-z0-9_]+".r
    // plan-time validated path steps: Left(key) / Right(zero-based index)
    def rawSteps(args: Seq[Expression], fn: String,
        minSteps: Int): Seq[Either[String, Long]] = {
      if (args.size < minSteps + 1) throw new IllegalArgumentException(
        s"$fn expects (json, key_or_index, ...) with at least " +
          s"$minSteps step(s)")
      args.drop(1).map {
        case Literal(s: UTF8String, StringType) =>
          val k = s.toString
          if (!KeyOk.matches(k)) throw new IllegalArgumentException(
            s"$fn: key '$k' must match [A-Za-z0-9_]+ " +
              "(quote-free JSONPath keys only)")
          Left(k)
        case Literal(i: Int, IntegerType) =>
          if (i < 1) throw new IllegalArgumentException(
            s"$fn: index $i - ClickHouse indices are 1-based and this " +
              "engine rejects negative/zero (no from-the-end addressing)")
          Right(i - 1L)
        case Literal(i: Long, LongType) =>
          if (i < 1) throw new IllegalArgumentException(
            s"$fn: index $i - ClickHouse indices are 1-based and this " +
              "engine rejects negative/zero (no from-the-end addressing)")
          Right(i - 1)
        case other => throw new IllegalArgumentException(
          s"$fn: path steps must be string-key or integer-index " +
            s"LITERALS, got $other")
      }
    }
    def jsonPath(args: Seq[Expression], fn: String,
        minSteps: Int = 1): Expression =
      Literal(UTF8String.fromString("$" + rawSteps(args, fn, minSteps).map {
        case Left(k) => "." + k
        case Right(i) => s"[$i]"
      }.mkString), StringType)
    // the step array for the VariantKernels StaticInvoke leg
    // ("k:<key>" / "i:<zero-based>"), same plan-time validation
    def stepsLit(args: Seq[Expression], fn: String,
        minSteps: Int): Expression =
      Literal(new org.apache.spark.sql.catalyst.util.GenericArrayData(
        rawSteps(args, fn, minSteps).map {
          case Left(k) => UTF8String.fromString("k:" + k)
          case Right(i) => UTF8String.fromString("i:" + i)
        }.toArray[Any]), ArrayType(StringType, containsNull = false))
    def get(args: Seq[Expression], fn: String): Expression =
      UnresolvedFunction(Seq("get_json_object"),
        Seq(args.head, jsonPath(args, fn)), isDistinct = false)
    // the VARIANT leg: parse once (the DedupProjectParse CSE key) via
    // stock try_parse_json, then ALL navigation + probing in ONE static
    // call on variant binary via StaticInvoke (which codegens a direct
    // call) — the r17 kernel leg (q125 perf, r16 verdict item 3). The
    // r16 stock-composition trees (try_variant_get navigation +
    // schema_of_variant + map/array casts + let-lambda layers) were
    // fully interpreted and dominated the bench's top entry; see the
    // COST PROFILE note above and [[graft.functions.VariantKernels]].
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression}
    def kernel(args: Seq[Expression], fn: String, method: String,
        dt: DataType, minSteps: Int, nullable: Boolean = false): Expression =
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        graft.functions.VariantKernels.getClass,
        dt, method,
        Seq(eagerExpression(
          F.try_parse_json(column(Cast(args.head, StringType)))),
          stepsLit(args, fn, minSteps)),
        inputTypes = Seq(VariantType, ArrayType(StringType)),
        propagateNull = true,
        returnNullable = nullable)
    val emptyStrArrLit = Literal(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any]), ArrayType(StringType))
    val kvArrType = ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("value", StringType, nullable = false))))
    def extractAs(name: String, what: String, tpe: DataType,
        default: Literal) =
      (FunctionIdentifier(name),
        info(name, s"$name(json, key_or_index, ...) - ClickHouse $name: the $what at the literal key/1-based-index path; ${default.toString} when the path is absent or uncastable (CH's default)"),
        (args: Seq[Expression]) => Coalesce(Seq(
          // LEGACY ≡ TRY for string→double/float/boolean — the only
          // targets extractAs feeds — (same parsers, null instead of
          // caught-throw), and it skips the per-row exception on every
          // non-castable node; see the jsonIntBuilder note (r19).
          // NOT valid for integral targets (LEGACY truncates decimal
          // text); those route through jsonIntBuilder/typed instead.
          Cast(get(args, name), tpe, None, EvalMode.LEGACY), default)))
    def jsonIntBuilder(name: String, doc: String) =
      (FunctionIdentifier(name),
        info(name, s"$name(json, key_or_index, ...) - $doc"),
        (args: Seq[Expression]) => {
          val raw = get(args, name)
          // three legs, evaluated lazily: the exact int64 parse first
          // (no double round-trip for values past 2^53), then CH's
          // numeric truncation, then the bool conversion.
          //
          // r19 perf, identical results: TRY is ANSI-with-catch, so every
          // non-integral node ("2.5", any string value) THREW AND CAUGHT
          // a SparkNumberFormatException per row per leg — ~10 µs/row of
          // exception construction (measured: q125's one JSONExtractInt
          // column cost ~1.0 s/100k rows, ~5× the shared variant parse).
          //   - leg 1 string→long: the [[graft.functions.TextExprs.TryLongExact]]
          //     kernel — bit-identical accept-set to TRY (ANSI grammar =
          //     lenient UTF8String.toLong minus any '.'-containing
          //     string; LEGACY itself is NOT equivalent here — it
          //     truncates decimal text), no throw on reject.
          //   - legs 2/3 string→double / string→boolean: LEGACY, which
          //     IS result-identical to TRY for those targets (same
          //     parsers, null instead of caught-throw; pinned by the
          //     GraftExtensionsSpec battery).
          //   - the outer double→long / boolean→long casts KEEP TRY:
          //     legacy differs on double overflow (clamps where TRY
          //     reads null), and in-range values never throw, so TRY
          //     costs nothing on the happy path.
          Coalesce(Seq(
            graft.functions.TextExprs.TryLongExact(raw),
            Cast(Cast(raw, DoubleType, None, EvalMode.LEGACY), LongType,
              None, EvalMode.TRY),
            Cast(Cast(raw, BooleanType, None, EvalMode.LEGACY), LongType,
              None, EvalMode.TRY),
            Literal(0L)))
        })
    Seq(
      (FunctionIdentifier("JSONExtractString"),
        info("JSONExtractString", "JSONExtractString(json, key_or_index, ...) - ClickHouse JSONExtractString: the value at the literal key/1-based-index path as text, '' when absent; DEVIATION: a non-string node extracts as its raw JSON text (CH returns '')"),
        (args: Seq[Expression]) => Coalesce(Seq(
          get(args, "JSONExtractString"),
          Literal(UTF8String.fromString(""), StringType)))),
      (FunctionIdentifier("JSONExtractRaw"),
        info("JSONExtractRaw", "JSONExtractRaw(json, key_or_index, ...) - ClickHouse JSONExtractRaw: the raw JSON text at the path, '' when absent"),
        (args: Seq[Expression]) => Coalesce(Seq(
          get(args, "JSONExtractRaw"),
          Literal(UTF8String.fromString(""), StringType)))),
      jsonIntBuilder("JSONExtractInt",
        "ClickHouse JSONExtractInt: the integer at the literal key/1-based-index path; integral text converts exactly (full int64 range), a non-integral numeric node truncates toward zero (200.7 reads 200 - CH's conversion), true/false read 1/0, absent/uncastable reads 0 (CH's default)"),
      (FunctionIdentifier("JSONExtract"),
        info("JSONExtract", "JSONExtract(json, key_or_index, ..., 'TypeName') - ClickHouse's generic typed extract: the LAST argument is a CH type-name literal (Int8..Int64/UInt8..UInt64 - signed reads, the engine has no unsigned - Float32/Float64, String, Bool, Date, DateTime) dispatching to the corresponding typed accessor at plan time; numeric/Bool/String absent-path defaults follow the family (0/false/''); Date/DateTime read NULL when absent (CH reads the 1970 epoch default - documented deviation); unknown type names are REJECTED with the supported list"),
        (args: Seq[Expression]) => {
          if (args.size < 2) throw new IllegalArgumentException(
            "JSONExtract expects (json, key_or_index, ..., 'TypeName')")
          val inner = args.dropRight(1)
          // stays TRY: for the INTEGRAL targets LEGACY is NOT equivalent
          // (it truncates decimal text where TRY reads null — the r19
          // battery caught it), and these narrow-typed paths are not on
          // any hot entry, so the per-row exception cost is acceptable
          def typed(tpe: DataType, default: Literal) = Coalesce(Seq(
            Cast(get(inner, "JSONExtract"), tpe, None, EvalMode.TRY),
            default))
          strLit(args.last, "JSONExtract") match {
            case "Int8" => typed(ByteType, Literal(0.toByte))
            case "Int16" => typed(ShortType, Literal(0.toShort))
            case "Int32" => typed(IntegerType, Literal(0))
            case "Int64" | "UInt64" =>
              jsonIntBuilder("JSONExtract", "")._3(inner)
            case "UInt8" => typed(ShortType, Literal(0.toShort))
            case "UInt16" => typed(IntegerType, Literal(0))
            case "UInt32" => typed(LongType, Literal(0L))
            case "Float32" => typed(FloatType, Literal(0.0f))
            case "Float64" => typed(DoubleType, Literal(0.0))
            case "Bool" => typed(BooleanType, Literal(false))
            case "String" => Coalesce(Seq(get(inner, "JSONExtract"),
              Literal(UTF8String.fromString(""), StringType)))
            case "Date" => Cast(get(inner, "JSONExtract"), DateType,
              None, EvalMode.TRY)
            case "DateTime" => Cast(get(inner, "JSONExtract"),
              TimestampType, None, EvalMode.TRY)
            case other => throw new IllegalArgumentException(
              s"JSONExtract: type '$other' - supported: Int8..Int64, " +
                "UInt8..UInt64 (signed reads), Float32/Float64, " +
                "String, Bool, Date, DateTime")
          }
        }),
      // the legacy visitParam* spellings (pre-JSONExtract ClickHouse;
      // still live in old dashboards) alias the same builders - CH
      // documents them as the single-level fast path, and the engine's
      // path compiler accepts exactly that shape
      (FunctionIdentifier("visitParamHas"),
        info("visitParamHas", "visitParamHas(params, name) - legacy ClickHouse spelling of JSONHas (single-level key)"),
        (args: Seq[Expression]) => Coalesce(Seq(
          kernel(args, "visitParamHas", "jsonHas", BooleanType, 1),
          Literal(false)))),
      (FunctionIdentifier("visitParamExtractString"),
        info("visitParamExtractString", "visitParamExtractString(params, name) - legacy spelling of JSONExtractString"),
        (args: Seq[Expression]) => Coalesce(Seq(
          get(args, "visitParamExtractString"),
          Literal(UTF8String.fromString(""), StringType)))),
      (FunctionIdentifier("visitParamExtractRaw"),
        info("visitParamExtractRaw", "visitParamExtractRaw(params, name) - legacy spelling of JSONExtractRaw"),
        (args: Seq[Expression]) => Coalesce(Seq(
          get(args, "visitParamExtractRaw"),
          Literal(UTF8String.fromString(""), StringType)))),
      jsonIntBuilder("visitParamExtractInt",
        "legacy spelling of JSONExtractInt (single-level key)"),
      jsonIntBuilder("visitParamExtractUInt",
        "legacy spelling of JSONExtractUInt (signed int64 read)"),
      extractAs("visitParamExtractFloat", "double (legacy JSONExtractFloat spelling)", DoubleType, Literal(0.0)),
      extractAs("visitParamExtractBool", "boolean (legacy JSONExtractBool spelling)", BooleanType, Literal(false)),
      jsonIntBuilder("JSONExtractUInt",
        "ClickHouse JSONExtractUInt mapped onto the signed int64 read (no unsigned types - values past int64 max read 0 via the failed cast; the JSONExtractInt conversion rules otherwise)"),
      extractAs("JSONExtractFloat", "double", DoubleType, Literal(0.0)),
      extractAs("JSONExtractBool", "boolean", BooleanType, Literal(false)),
      (FunctionIdentifier("JSONHas"),
        info("JSONHas", "JSONHas(json, key_or_index, ...) - ClickHouse JSONHas: TRUE iff the literal key/1-based-index path exists, INCLUDING a key holding an explicit JSON null (the variant surface distinguishes absent - SQL NULL - from JSON null - variant null - exactly as CH does); malformed JSON reads FALSE"),
        (args: Seq[Expression]) => Coalesce(Seq(
          kernel(args, "JSONHas", "jsonHas", BooleanType, 1),
          Literal(false)))),
      (FunctionIdentifier("JSONLength"),
        info("JSONLength", "JSONLength(json[, key_or_index, ...]) - ClickHouse JSONLength: element count of the array or key count of the object at the path (the whole document with no path steps); 0 for scalars, absent paths and malformed JSON (CH's default)"),
        (args: Seq[Expression]) => Coalesce(Seq(
          kernel(args, "JSONLength", "jsonLength", LongType, 0),
          Literal(0L)))),
      (FunctionIdentifier("JSONType"),
        info("JSONType", "JSONType(json[, key_or_index, ...]) - ClickHouse JSONType: the type name of the node at the path - 'String'/'Int64'/'Double'/'Bool'/'Array'/'Object', 'Null' for an explicit JSON null, an absent path or malformed JSON (CH's missing-value read); DEVIATION: integers past int64 read 'Double' (CH distinguishes UInt64), every integral number reads 'Int64' (CH never returns UInt64 for in-range values either); parse_json types every in-range integer BIGINT - DECIMAL arises only for non-integral numbers (2.5) or integers past int64, both the documented 'Double' read"),
        (args: Seq[Expression]) => Coalesce(Seq(
          kernel(args, "JSONType", "chTypeName", StringType, 0),
          Literal(UTF8String.fromString("Null"), StringType)))),
      (FunctionIdentifier("JSONExtractArrayRaw"),
        info("JSONExtractArrayRaw", "JSONExtractArrayRaw(json[, key_or_index, ...]) - ClickHouse JSONExtractArrayRaw: each element of the array at the path as its raw JSON text (strings keep their quotes, nested structures their braces); [] when the path is absent or not an array (CH's default); DEVIATION: element text is the CANONICALIZED variant-to-JSON rendering, not the original byte slice (number formatting normalizes - 2.50 reads back 2.5 - key order and whitespace are canonical)"),
        (args: Seq[Expression]) => Coalesce(Seq(
          kernel(args, "JSONExtractArrayRaw", "jsonArrayRaw",
            ArrayType(StringType), 0, nullable = true),
          emptyStrArrLit))),
      (FunctionIdentifier("JSONExtractKeys"),
        info("JSONExtractKeys", "JSONExtractKeys(json[, key_or_index, ...]) - ClickHouse JSONExtractKeys: the keys of the object at the path; [] when absent or not an object; DEVIATION: keys sort ASCENDING (the variant encoding's canonical order; CH preserves document order)"),
        (args: Seq[Expression]) => Coalesce(Seq(
          kernel(args, "JSONExtractKeys", "jsonKeys",
            ArrayType(StringType), 0, nullable = true),
          emptyStrArrLit))),
      (FunctionIdentifier("JSONExtractKeysAndValuesRaw"),
        info("JSONExtractKeysAndValuesRaw", "JSONExtractKeysAndValuesRaw(json[, key_or_index, ...]) - ClickHouse JSONExtractKeysAndValuesRaw: array<struct<key, value>> of the object's entries with values as raw JSON text; [] when absent or not an object; DEVIATIONS: entries sort by key ASCENDING (CH preserves document order), and value text is the CANONICALIZED variant-to-JSON rendering, not the original byte slice (number formatting normalizes, whitespace is canonical)"),
        (args: Seq[Expression]) => Coalesce(Seq(
          kernel(args, "JSONExtractKeysAndValuesRaw", "jsonKeysValuesRaw",
            kvArrType, 0, nullable = true),
          Literal(new org.apache.spark.sql.catalyst.util.GenericArrayData(
            Array.empty[Any]), kvArrType)))))
  }

  /** The ClickHouse date/time function names — the family every migrant
    * query touches first (`GROUP BY toStartOfHour(ts)`, `toYYYYMM`
    * partitions, `formatDateTime` renders). Pure rewrites/compositions
    * over Spark built-ins; the two places ClickHouse and Spark disagree
    * are handled, not aliased: `toDayOfWeek` returns Monday=1..Sunday=7
    * (CH's convention; Spark's dayofweek is Sunday=1) via explicit
    * arithmetic, and `formatDateTime`'s %-spec translates to a Java
    * pattern at plan time with unknown specifiers REJECTED by name
    * (`%M` is version-ambiguous in ClickHouse — minute historically,
    * month name under modern MySQL-compat defaults — so it is rejected
    * with guidance to the unambiguous `%i`). `toStartOf*` return
    * TIMESTAMP uniformly (CH's date-valued variants differ — cast as
    * needed, documented in MIGRATION).
    *
    * Tier 2 (the dashboard-query staples): `toMonday`/`toStartOfWeek`
    * (mode 0 = Sunday start, CH's default — explicit date_sub
    * arithmetic, not an alias of Spark's Monday-based 'week' trunc),
    * the N-minute grid floors, the `addDays`/`subtractDays` interval
    * family (make_dt_interval / make_ym_interval arithmetic, n may be
    * a column), `graft_date_diff` with CH's BOUNDARY-CROSSING
    * semantics (truncate-then-diff per unit — NOT Spark's
    * elapsed-units timestampdiff; the CH spelling `dateDiff` is owned
    * by Spark's PARSER at grammar level and cannot be taken over — a
    * named MIGRATION gap), and `toDateTime`.
    */
  private def dateFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{DateType, IntegerType}
    def fn(target: String, args: Expression*) =
      UnresolvedFunction(Seq(target), args.toSeq, isDistinct = false)
    def one(name: String, doc: String)(mk: Expression => Expression) =
      (FunctionIdentifier(name), info(name, doc),
        (args: Seq[Expression]) => { arity(args, 1, name, "(ts)"); mk(args(0)) })
    def trunc(name: String, unit: String) =
      one(name, s"$name(ts) - ClickHouse $name (rewrites to date_trunc('$unit'); returns TIMESTAMP uniformly - CH's Date-valued variants differ, cast as needed)")(
        a => fn("date_trunc", Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(unit),
          org.apache.spark.sql.types.StringType), a))
    def part(name: String, target: String) =
      one(name, s"$name(ts) - ClickHouse $name (rewrites to $target)")(
        a => fn(target, a))
    // interval-free helpers for the week/N-minute/add families: date
    // arithmetic on exact integers (date_sub day counts, unix-second
    // remainders) rather than interval algebra — every result is a
    // plain TIMESTAMP with no calendar-interval types in the plan
    def tsCast(e: Expression) =
      Cast(e, org.apache.spark.sql.types.TimestampType)
    def strL(s: String) = Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)
    // days since the week start: Sunday mode = dayofweek-1 (Spark's
    // dayofweek is Sunday=1), Monday mode = pmod(dayofweek+5, 7)
    def weekStart(a: Expression, monday: Boolean): Expression = {
      val back =
        if (monday) fn("pmod", fn("+", fn("dayofweek", a), Literal(5)),
          Literal(7))
        else fn("-", fn("dayofweek", a), Literal(1))
      tsCast(fn("date_sub", Cast(a, DateType), back))
    }
    def nMinutes(name: String, secs: Int) =
      one(name, s"$name(ts) - ClickHouse $name: the ${secs / 60}-minute grid floor via exact unix-second remainder arithmetic (returns TIMESTAMP)")(
        a => {
          val u = fn("unix_timestamp", a)
          fn("timestamp_seconds", fn("-", u, fn("pmod", u,
            Literal(secs.toLong))))
        })
    // addDays(ts, n) and friends: CH's interval-add family. The input
    // casts to TIMESTAMP uniformly (the toStartOf* convention); n may
    // be any integer COLUMN (not just a literal). Day/hour/minute/
    // second legs go through make_dt_interval (exact micros); month/
    // year legs through make_ym_interval (calendar add, end-of-month
    // clamped like CH).
    def addUnit(name: String, what: String)(
        mk: Expression => Expression) =
      (FunctionIdentifier(name),
        info(name, s"$name(ts, n) - ClickHouse $name: ts $what (n an integer expression, negative OK; input cast to TIMESTAMP uniformly - CH's Date-in/Date-out variants differ, cast as needed)"),
        (args: Seq[Expression]) => {
          arity(args, 2, name, "(ts, n)")
          fn("+", tsCast(args(0)), mk(args(1)))
        })
    def dt(d: Expression, h: Expression, m: Expression, s: Expression) =
      fn("make_dt_interval", d, h, m, s)
    val zero = Literal(0)
    def neg(e: Expression) = fn("negative", e)
    def addSub(base: String, what: String)(mk: Expression => Expression) = Seq(
      addUnit("add" + base, what)(mk),
      addUnit("subtract" + base, s"minus $what")(n => mk(neg(n))))
    Seq(
      trunc("toStartOfMinute", "minute"), trunc("toStartOfHour", "hour"),
      trunc("toStartOfDay", "day"), trunc("toStartOfMonth", "month"),
      trunc("toStartOfQuarter", "quarter"), trunc("toStartOfYear", "year"),
      one("toMonday", "toMonday(ts) - ClickHouse toMonday: the Monday of ts's week (returns TIMESTAMP at midnight; CH returns Date - cast as needed)")(
        a => weekStart(a, monday = true)),
      nMinutes("toStartOfFiveMinutes", 300),
      nMinutes("toStartOfTenMinutes", 600),
      nMinutes("toStartOfFifteenMinutes", 900),
      (FunctionIdentifier("toStartOfWeek"),
        info("toStartOfWeek", "toStartOfWeek(ts[, mode = 0]) - ClickHouse toStartOfWeek: the week start at midnight as TIMESTAMP; mode an INT LITERAL - 0 (CH's default, week starts SUNDAY) or 1 (Monday); other CH modes (first-week-of-year policies, irrelevant to the week-start pick) are rejected by name"),
        (args: Seq[Expression]) => {
          if (args.isEmpty || args.size > 2)
            throw new IllegalArgumentException(
              s"toStartOfWeek expects (ts[, mode]) (${args.size} given)")
          val mode =
            if (args.size == 2) intLit(args(1), "toStartOfWeek") else 0
          if (mode != 0 && mode != 1) throw new IllegalArgumentException(
            s"toStartOfWeek: mode $mode - only 0 (Sunday start, CH " +
              "default) and 1 (Monday start) are supported")
          weekStart(args(0), monday = mode == 1)
        })) ++
      addSub("Seconds", "plus n seconds")(n => dt(zero, zero, zero, n)) ++
      addSub("Minutes", "plus n minutes")(n => dt(zero, zero, n, zero)) ++
      addSub("Hours", "plus n hours")(n => dt(zero, n, zero, zero)) ++
      addSub("Days", "plus n days")(n => dt(n, zero, zero, zero)) ++
      addSub("Weeks", "plus n weeks (7-day)")(n =>
        dt(fn("*", n, Literal(7)), zero, zero, zero)) ++
      addSub("Months", "plus n calendar months (end-of-month clamped)")(
        n => fn("make_ym_interval", zero, n)) ++
      addSub("Quarters", "plus n quarters (3-month)")(
        n => fn("make_ym_interval", zero, fn("*", n, Literal(3)))) ++
      addSub("Years", "plus n calendar years (Feb-29 clamped)")(
        n => fn("make_ym_interval", n, zero)) ++
    Seq(
      (FunctionIdentifier("graft_date_diff"),
        info("graft_date_diff", "graft_date_diff(unit, start, end) - ClickHouse dateDiff SEMANTICS under an engine name: the number of UNIT BOUNDARIES crossed from start to end (truncate-then-diff, so ('day', 23:00, next 01:00) = 1 - NOT elapsed full units), unit a string literal in second/minute/hour/day/week/month/quarter/year (week boundaries are Mondays, CH's rule); returns BIGINT. The CH spelling dateDiff('day', ...) CANNOT be taken over: Spark's PARSER owns dateDiff/date_diff at the grammar level (quoted units are a parse error; unquoted dateDiff(DAY, ...) is Spark's ELAPSED-unit timestampdiff - silently different) - the named MIGRATION gap is the rewrite to this function"),
        (args: Seq[Expression]) => {
          {
            arity(args, 3, "graft_date_diff", "(unit, start, end)")
            val unit = strLit(args(0), "graft_date_diff").toLowerCase
            val a = tsCast(args(1))
            val b = tsCast(args(2))
            def u(e: Expression) = fn("unix_timestamp", e)
            def truncDiv(w: String, secs: Long) =
              fn("div",
                fn("-", u(fn("date_trunc", strL(w), b)),
                  u(fn("date_trunc", strL(w), a))),
                Literal(secs))
            def ymIndex(e: Expression, perYear: Int, part: String) =
              fn("+", fn("*", fn("year", e), Literal(perYear)),
                fn(part, e))
            val d: Expression = unit match {
              case "second" => fn("-", u(b), u(a))
              case "minute" => truncDiv("minute", 60L)
              case "hour" => truncDiv("hour", 3600L)
              case "day" => fn("datediff", Cast(b, DateType),
                Cast(a, DateType))
              case "week" => fn("div",
                fn("datediff", fn("date_trunc", strL("week"), b),
                  fn("date_trunc", strL("week"), a)), Literal(7))
              case "month" => fn("-", ymIndex(b, 12, "month"),
                ymIndex(a, 12, "month"))
              case "quarter" => fn("-", ymIndex(b, 4, "quarter"),
                ymIndex(a, 4, "quarter"))
              case "year" => fn("-", fn("year", b), fn("year", a))
              case other => throw new IllegalArgumentException(
                s"graft_date_diff: unit '$other' - expected second/" +
                  "minute/hour/day/week/month/quarter/year")
            }
            Cast(d, org.apache.spark.sql.types.LongType)
          }
        }),
      one("toDateTime", "toDateTime(x) - ClickHouse toDateTime (rewrites to CAST(x AS TIMESTAMP))")(
        a => tsCast(a)),
      part("toHour", "hour"), part("toMinute", "minute"),
      part("toSecond", "second"), part("toDayOfMonth", "dayofmonth"),
      part("toDayOfYear", "dayofyear"), part("toMonth", "month"),
      part("toQuarter", "quarter"), part("toYear", "year"),
      part("toUnixTimestamp", "unix_timestamp"),
      one("toDate", "toDate(x) - ClickHouse toDate (rewrites to CAST(x AS DATE))")(
        a => Cast(a, DateType)),
      one("toISOWeek", "toISOWeek(ts) - ClickHouse toISOWeek (rewrites to weekofyear - Spark's week number IS the ISO week)")(
        a => fn("weekofyear", a)),
      one("toISOYear", "toISOYear(ts) - ClickHouse toISOYear (rewrites to date_part('YEAROFWEEK') - the ISO week-numbering year, which differs from toYear around January 1st)")(
        a => Cast(fn("date_part", strL("YEAROFWEEK"), a), IntegerType)),
      one("toDayOfWeek", "toDayOfWeek(ts) - ClickHouse toDayOfWeek: Monday = 1 .. Sunday = 7 (CH's default mode; Spark's dayofweek is Sunday = 1 - the conversion is explicit arithmetic, not an alias)")(
        a => {
          val shifted = fn("pmod",
            fn("+", fn("dayofweek", a), Literal(5)), Literal(7))
          Cast(fn("+", shifted, Literal(1)), IntegerType)
        }),
      one("toYYYYMM", "toYYYYMM(ts) - ClickHouse toYYYYMM: the integer yyyyMM (e.g. 202408) via exact year*100 + month arithmetic")(
        a => Cast(fn("+", fn("*", fn("year", a), Literal(100)),
          fn("month", a)), IntegerType)),
      one("toYYYYMMDD", "toYYYYMMDD(ts) - ClickHouse toYYYYMMDD: the integer yyyyMMdd via exact arithmetic")(
        a => Cast(fn("+", fn("*", fn("year", a), Literal(10000)),
          fn("+", fn("*", fn("month", a), Literal(100)),
            fn("dayofmonth", a))), IntegerType)),
      (FunctionIdentifier("formatDateTime"),
        info("formatDateTime", "formatDateTime(ts, fmt) - ClickHouse formatDateTime with fmt a STRING LITERAL translated to a Java pattern at plan time; supported: %Y %y %m %c %d %H %i %S %F %T %R %j %a %b %n %t %% and literal text (letters auto-quoted; %a/%b render English-locale abbreviations); %M REJECTED by name (version-ambiguous in CH - use %i for minutes)"),
        (args: Seq[Expression]) => {
          arity(args, 2, "formatDateTime", "(ts, fmt)")
          val java = chFormatToJava(
            strLit(args(1), "formatDateTime"), "formatDateTime")
          fn("date_format", args(0), Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(java),
            org.apache.spark.sql.types.StringType))
        }))
  }

  /** ClickHouse %-format → Java DateTimeFormatter pattern (plan-time,
    * literal-only). Literal text with pattern letters is single-quoted;
    * unsupported specifiers throw a NAMED error listing the supported
    * set.
    */
  private def chFormatToJava(fmt: String, fnName: String): String = {
    val sb = new StringBuilder
    var i = 0
    // '#', '{' and '}' are reserved in Java DateTimeFormatter alongside
    // the pattern letters — an unquoted '{%Y}' would pass plan-time
    // validation here and throw an opaque runtime error, so they quote
    // like letters do
    def quoted(s: String): String =
      if (s.isEmpty) s
      else if (s.exists(c => c.isLetter || c == '\'' || c == '#' ||
        c == '{' || c == '}'))
        "'" + s.replace("'", "''") + "'"
      else s
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%') {
        if (i + 1 >= fmt.length) throw new IllegalArgumentException(
          s"$fnName: dangling % at end of format '$fmt'")
        fmt.charAt(i + 1) match {
          case 'Y' => sb ++= "yyyy"
          case 'y' => sb ++= "yy"
          case 'm' => sb ++= "MM"
          case 'c' => sb ++= "MM"
          case 'd' => sb ++= "dd"
          case 'H' => sb ++= "HH"
          case 'i' => sb ++= "mm"
          case 'S' => sb ++= "ss"
          case 'F' => sb ++= "yyyy-MM-dd"
          case 'T' => sb ++= "HH:mm:ss"
          case 'R' => sb ++= "HH:mm"
          case 'j' => sb ++= "DDD"
          case 'a' => sb ++= "EEE"
          case 'b' => sb ++= "MMM"
          // newline/tab are not pattern letters - unquoted literals
          // (quoting each would merge adjacent sections: '\n''\t' reads
          // the '' as an ESCAPED apostrophe inside one section)
          case 'n' => sb += '\n'
          case 't' => sb += '\t'
          case '%' => sb += '%'
          case 'M' => throw new IllegalArgumentException(
            s"$fnName: %M is version-ambiguous in ClickHouse (minute " +
              "historically, month name under MySQL-compat defaults) - " +
              "use %i for minutes")
          case other => throw new IllegalArgumentException(
            s"$fnName: unsupported format specifier %$other (supported: " +
              "%Y %y %m %c %d %H %i %S %F %T %R %j %a %b %n %t %%)")
        }
        i += 2
      } else {
        val j = fmt.indexOf('%', i)
        val end = if (j < 0) fmt.length else j
        sb ++= quoted(fmt.substring(i, end))
        i = end
      }
    }
    sb.toString
  }

  /** ClickHouse aggregate names that map 1:1 onto Spark built-ins — pure
    * plan-time REWRITES (an UnresolvedFunction tree the analyzer
    * resolves like SQL text; zero new execution code): a migrant's
    * `SELECT argMax(url, ts), uniqExact(user_id), sumIf(v, v > 0)` runs
    * unchanged. The -If combinator family rewrites to Spark's aggregate
    * FILTER clause (the standard translation); `uniq`/`uniqCombined`
    * map to approx_count_distinct — BOTH approximate, but different
    * estimators (HLL++ here), so point estimates differ from
    * ClickHouse's own: exact counts must use uniqExact, the
    * documented-deviation class.
    */
  private def chAliases: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    def rewrite(name: String, doc: String, nArgs: Int, usage: String)(
        mk: Seq[Expression] => Expression) =
      (FunctionIdentifier(name), info(name, doc),
        (args: Seq[Expression]) => { arity(args, nArgs, name, usage); mk(args) })
    def fn(target: String, args: Seq[Expression],
        distinct: Boolean = false, filter: Option[Expression] = None) =
      UnresolvedFunction(Seq(target), args, distinct, filter)
    def iff(target: String) =
      rewrite(s"${target}If",
        s"${target}If(v, cond) - ClickHouse ${target}If: $target(v) over the rows where cond holds (rewrites to $target(v) FILTER (WHERE cond))",
        2, "(v, cond)")(a => fn(target, Seq(a(0)), filter = Some(a(1))))
    Seq(
      rewrite("uniqExact", "uniqExact(x) - ClickHouse uniqExact: exact distinct count (rewrites to count(DISTINCT x); for bounded mergeable state see graft_bitmap_card / graft_uniq_upto)",
        1, "(x)")(a => fn("count", a, distinct = true)),
      rewrite("uniq", "uniq(x) - ClickHouse uniq: approximate distinct count (rewrites to approx_count_distinct - HLL++ here, a DIFFERENT estimator than ClickHouse's, so point estimates differ; use uniqExact for exact)",
        1, "(x)")(a => fn("approx_count_distinct", a)),
      rewrite("uniqCombined", "uniqCombined(x) - ClickHouse uniqCombined: approximate distinct count (approx_count_distinct; estimator differs from ClickHouse's, use uniqExact for exact)",
        1, "(x)")(a => fn("approx_count_distinct", a)),
      rewrite("uniqCombined64", "uniqCombined64(x) - ClickHouse uniqCombined64 (approx_count_distinct - the uniqCombined note applies; Spark's HLL++ is 64-bit-hash throughout)",
        1, "(x)")(a => fn("approx_count_distinct", a)),
      // the -Array aggregate combinators: fold each row's array, then
      // aggregate across rows - exactly CH's all-elements read
      rewrite("sumArray", "sumArray(arr) - ClickHouse sumArray: sum over every element of every row's array (rewrites to sum(arraySum(arr)); integer elements - the arraySum pre-scale discipline)",
        1, "(arr)")(a => fn("sum", Seq(arrayFold(a(0))))),
      rewrite("minArray", "minArray(arr) - ClickHouse minArray: minimum over every element of every row's array (rewrites to min(array_min(arr)); empty arrays contribute nothing)",
        1, "(arr)")(a => fn("min", Seq(fn("array_min", a)))),
      rewrite("maxArray", "maxArray(arr) - ClickHouse maxArray: maximum over every element of every row's array (rewrites to max(array_max(arr)))",
        1, "(arr)")(a => fn("max", Seq(fn("array_max", a)))),
      rewrite("avgArray", "avgArray(arr) - ClickHouse avgArray: mean over every element of every row's array (sum of element sums / total element count; integer elements - pre-scale floats; NULL when no elements)",
        1, "(arr)")(a => {
          import org.apache.spark.sql.catalyst.expressions.{Cast, Divide}
          import org.apache.spark.sql.types.DoubleType
          Divide(
            Cast(fn("sum", Seq(arrayFold(a(0)))), DoubleType),
            Cast(fn("sum", Seq(fn("size", a))), DoubleType))
        }),
      rewrite("groupArrayArray", "groupArrayArray(arr) - ClickHouse groupArrayArray: all rows' arrays concatenated (rewrites to flatten(collect_list(arr)); element order partition-dependent - sort for determinism, the groupArray note)",
        1, "(arr)")(a => fn("flatten", Seq(fn("collect_list", a)))),
      rewrite("argMin", "argMin(a, v) - ClickHouse argMin: the value of a at the row with minimal v (rewrites to min_by)",
        2, "(a, v)")(a => fn("min_by", a)),
      rewrite("argMax", "argMax(a, v) - ClickHouse argMax: the value of a at the row with maximal v (rewrites to max_by)",
        2, "(a, v)")(a => fn("max_by", a)),
      rewrite("groupArray", "groupArray(x) - ClickHouse groupArray: all values as an array (rewrites to collect_list; element order is arrival order - partition-dependent on a distributed engine, sort for determinism)",
        1, "(x)")(a => fn("collect_list", a)),
      rewrite("groupUniqArray", "groupUniqArray(x) - ClickHouse groupUniqArray: distinct values as an array (rewrites to collect_set; unordered - sort for determinism)",
        1, "(x)")(a => fn("collect_set", a)),
      rewrite("quantileExact", "quantileExact(x, phi) - ClickHouse quantileExact, parametric form flattened: returns an ACTUAL element of the group (CH's nth_element pick - sorted[floor(phi*n)] zero-based, clamped), NOT an interpolation; phi a numeric literal; NULL on an empty group (CH reads nan). State = the group's values, CH's own shape. The interpolating sibling is quantileExactInclusive; weighted form = graft_quantile_exact_weighted, sketched = graft_kll_quantile",
        2, "(x, phi)")(a => {
          // rank arithmetic on exact integers: floor(phi*n) stays exact
          // while n < 2^52/phi-denominator - any real group size
          val phi = numLit(a(1), "quantileExact")
          if (phi < 0 || phi > 1) throw new IllegalArgumentException(
            s"quantileExact: phi must be in [0, 1], got $phi")
          val cnt = fn("count", Seq(a(0)))
          // greatest(1, _) keeps the index structurally valid on an
          // empty group (count 0 -> index 1 -> try_element_at NULL;
          // element_at index 0 is rejected even in TRY mode)
          val idx = org.apache.spark.sql.catalyst.expressions.Cast(
            fn("greatest", Seq(Literal(1L),
              fn("least", Seq(
                fn("+", Seq(fn("floor", Seq(fn("*",
                  Seq(Literal(phi), cnt)))), Literal(1L))),
                cnt)))),
            org.apache.spark.sql.types.IntegerType)
          fn("try_element_at", Seq(
            fn("array_sort", Seq(fn("collect_list", Seq(a(0))))), idx))
        }),
      rewrite("quantileExactInclusive", "quantileExactInclusive(x, phi) - ClickHouse quantileExactInclusive, parametric form flattened (rewrites to percentile(x, phi) - exact with linear interpolation, the PERCENTILE.INC/percentile_cont rule both engines share)",
        2, "(x, phi)")(a => fn("percentile", a)),
      // countIf takes ONE arg in ClickHouse (count() has no base args)
      rewrite("countIf", "countIf(cond) - ClickHouse countIf: row count over the rows where cond holds (rewrites to count(1) FILTER (WHERE cond))",
        1, "(cond)")(a => fn("count", Seq(Literal(1)), filter = Some(a(0)))),
      iff("sum"), iff("avg"), iff("min"), iff("max"),
      // CH `any(x)` is NOT aliased: Spark's own `any` is bool_or —
      // shadowing would silently change boolean aggregates. anyLast has
      // no collision; both CH forms are order-arbitrary on a
      // distributed engine anyway (MIGRATION: any(x) -> any_value(x))
      rewrite("anyLast", "anyLast(x) - ClickHouse anyLast (rewrites to any_value: SOME value of the group - arrival order is partition-dependent on a distributed engine, exactly as CH documents for its own any/anyLast; DEVIATION: a NULL row may be picked where CH skips NULLs - use any_value(x, true) for ignore-nulls; CH's `any` name is NOT aliased - Spark's any is bool_or, rewrite to any_value yourself)",
        1, "(x)")(a => fn("any_value", a)),
      rewrite("uniqHLL12", "uniqHLL12(x) - ClickHouse uniqHLL12 (rewrites to approx_count_distinct - HLL++ here vs CH's HLL-12: point estimates differ; uniqExact for exact)",
        1, "(x)")(a => fn("approx_count_distinct", a)),
      (FunctionIdentifier("quantile"),
        info("quantile", "quantile(x[, phi = 0.5]) - ClickHouse quantile, parametric form flattened: APPROXIMATE phi-quantile (rewrites to approx_percentile - a different estimator than CH's reservoir, so point estimates differ; quantileExact for the exact element, quantileExactInclusive for interpolation)"),
        (args: Seq[Expression]) => {
          if (args.isEmpty || args.size > 2)
            throw new IllegalArgumentException(
              s"quantile expects (x[, phi]) (${args.size} given)")
          val phi = if (args.size == 2) args(1)
            else Literal(0.5, org.apache.spark.sql.types.DoubleType)
          fn("approx_percentile", Seq(args(0), phi))
        }),
      rewrite("quantileTDigest", "quantileTDigest(x, phi) - ClickHouse quantileTDigest, parametric form flattened: the engine's mergeable quantile sketch (graft_kll_quantile at k = 200 - a KLL sketch, not a t-digest: same mergeable-sketch role, different error profile, documented deviation)",
        2, "(x, phi)")(a =>
        fn("graft_kll_quantile", Seq(a(0), Literal(200), a(1)))))
  }

  /** The ClickHouse geo + fuzzy-string scalars under their OWN names,
    * spec-pinned SQL ≡ Column. The geohash pair is one codegen'd kernel
    * call per row ([[graft.functions.GeohashEncode]] /
    * [[graft.functions.GeohashDecode]]); the fuzzy pair is a built-in
    * expression tree. The plan-time parameters must be literals: the
    * geohash precision is a constant of the kernel call, and the needle
    * gram profile unrolls into the expression tree at resolution (the q96
    * design).
    */
  private def geoFuzzyFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import graft.functions.{FuzzyMatch, GeohashDecode, GeohashEncode}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression => expression}
    Seq(
      (FunctionIdentifier("geohashEncode"),
        info("geohashEncode", "geohashEncode(longitude, latitude[, precision = 12]) - ClickHouse geohashEncode: base-32 geohash of the point (CH argument order - longitude first), one compiled kernel call per row; precision an INT LITERAL 1..12; out-of-range coordinates clamp to the edge cell, a NULL coordinate to the top cell"),
        (args: Seq[Expression]) => {
          if (args.size != 2 && args.size != 3)
            throw new IllegalArgumentException(
              s"geohashEncode expects (longitude, latitude[, precision]) " +
                s"(${args.size} argument(s) given)")
          val p = if (args.size == 3) intLit(args(2), "geohashEncode") else 12
          GeohashEncode(args(0), args(1), p)
        }),
      (FunctionIdentifier("geohashDecode"),
        info("geohashDecode", "geohashDecode(h, precision) - ClickHouse geohashDecode: the cell-CENTER point as struct(longitude, latitude), one compiled kernel call per row; DEVIATION: precision is a required INT LITERAL 1..12 (CH infers it from the string length at runtime - pass length(h)'s known value); a shorter h reads as padded with '0', unknown base-32 characters poison the result rather than truncating"),
        (args: Seq[Expression]) => {
          arity(args, 2, "geohashDecode", "(h, precision)")
          GeohashDecode(args(0), intLit(args(1), "geohashDecode"))
        }),
      (FunctionIdentifier("ngramDistance"),
        info("ngramDistance", "ngramDistance(haystack, needle) - ClickHouse ngramDistance: 4-gram multiset profile distance in [0, 1] (0 = identical profiles, 1 = disjoint); needle a STRING LITERAL of >= 4 chars (its gram profile folds into the plan); case-sensitive - wrap both sides in lower() for the CaseInsensitive variants; map-only, no UDFs"),
        (args: Seq[Expression]) => {
          arity(args, 2, "ngramDistance", "(haystack, needle)")
          expression(FuzzyMatch.ngramDistance(
            column(args(0)), strLit(args(1), "ngramDistance")))
        }),
      (FunctionIdentifier("ngramSearch"),
        info("ngramSearch", "ngramSearch(haystack, needle) - ClickHouse ngramSearch: the non-symmetric 4-gram statistic |A intersect B| / |B| in [0, 1] (how much of the NEEDLE is present - insensitive to haystack length, the fuzzy-needle-in-long-doc mode); needle a STRING LITERAL of >= 4 chars; case-sensitive like ngramDistance"),
        (args: Seq[Expression]) => {
          arity(args, 2, "ngramSearch", "(haystack, needle)")
          expression(FuzzyMatch.ngramSearch(
            column(args(0)), strLit(args(1), "ngramSearch")))
        }),
      (FunctionIdentifier("ngramDistanceCaseInsensitive"),
        info("ngramDistanceCaseInsensitive", "ngramDistanceCaseInsensitive(haystack, needle) - ngramDistance over lower(haystack) and the lowercased needle literal (ClickHouse's CaseInsensitive variant as the documented composition)"),
        (args: Seq[Expression]) => {
          arity(args, 2, "ngramDistanceCaseInsensitive", "(haystack, needle)")
          expression(FuzzyMatch.ngramDistance(
            org.apache.spark.sql.functions.lower(column(args(0))),
            strLit(args(1), "ngramDistanceCaseInsensitive").toLowerCase))
        }),
      (FunctionIdentifier("ngramSearchCaseInsensitive"),
        info("ngramSearchCaseInsensitive", "ngramSearchCaseInsensitive(haystack, needle) - ngramSearch over lower(haystack) and the lowercased needle literal"),
        (args: Seq[Expression]) => {
          arity(args, 2, "ngramSearchCaseInsensitive", "(haystack, needle)")
          expression(FuzzyMatch.ngramSearch(
            org.apache.spark.sql.functions.lower(column(args(0))),
            strLit(args(1), "ngramSearchCaseInsensitive").toLowerCase))
        }),
      ipNumToString("IPv4NumToString"),
      ipStringToNum("IPv4StringToNum"),
      ipStringToNum("toIPv4"),
      (FunctionIdentifier("isIPAddressInRange"),
        info("isIPAddressInRange", "isIPAddressInRange(ip, cidr) - ClickHouse isIPAddressInRange for IPv4: TRUE iff ip falls in the CIDR block; cidr a STRING LITERAL 'a.b.c.d/n' (base and mask fold to two long literals at plan time); ip may be the numeric UInt32-in-BIGINT form or a dotted string (CH's form) - a non-numeric input routes through IPv4StringToNum"),
        (args: Seq[Expression]) => {
          arity(args, 2, "isIPAddressInRange", "(ip, cidr)")
          expression(graft.functions.IpFunctions.isIpv4InRange(
            ipArg(args(0)), strLit(args(1), "isIPAddressInRange")))
        }),
      (FunctionIdentifier("IPv4CIDRToRange"),
        info("IPv4CIDRToRange", "IPv4CIDRToRange(ip, n) - ClickHouse IPv4CIDRToRange: struct(min, max) bounds of ip's /n block as numeric addresses; n an INT LITERAL 0..32 (the mask folds at plan time); ip numeric or dotted string"),
        (args: Seq[Expression]) => {
          arity(args, 2, "IPv4CIDRToRange", "(ip, n)")
          val n = intLit(args(1), "IPv4CIDRToRange")
          val ip = ipArg(args(0))
          val base = graft.functions.IpFunctions.ipv4Subnet(ip, n)
          val span = (1L << (32 - n)) - 1L
          expression(org.apache.spark.sql.functions.struct(
            base.as("min"),
            (base + org.apache.spark.sql.functions.lit(span)).as("max")))
        }),
      (FunctionIdentifier("seriesOutliersDetectTukey"),
        info("seriesOutliersDetectTukey", "seriesOutliersDetectTukey(arr) - ClickHouse seriesOutliersDetectTukey over an array<bigint> series at the CH defaults (quantiles 0.25/0.75, k = 1.5): per-element outlier scores, position-aligned; DEVIATION: scores are EXACT integer 8ths of the value unit (8*x - fence outside, 0 inside; CH emits float distances - same sign, same zero set); pre-scale float series; fences computed once per row (let-binding transform)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "seriesOutliersDetectTukey", "(arr)")
          import org.apache.spark.sql.catalyst.expressions.Cast
          import org.apache.spark.sql.types.{ArrayType, LongType}
          expression(graft.operators.TimeSeries.tukeyScores8(
            column(Cast(args(0), ArrayType(LongType)))))
        }),
      (FunctionIdentifier("graft_canonicalize_url"),
        info("graft_canonicalize_url", "graft_canonicalize_url(url) - the engine's dedup URL normalization (t28): fragment stripped, scheme/host lowercased, default :80/:443 ports dropped, trailing path slashes collapsed ('' path -> '/'), tracking params (utm_*, fbclid, gclid, ...) removed, surviving query params sorted; map-only regex/HOF algebra, zero UDFs"),
        (args: Seq[Expression]) => {
          arity(args, 1, "graft_canonicalize_url", "(url)")
          expression(graft.operators.TextAnalysis.canonicalizeUrl(
            column(args(0))))
        }))
  }

  // ---- the ClickHouse STATS aggregate family under its OWN names --------
  // (the r14 verdict's largest migrant-facing seam: ~20 MIGRATION.md rows
  // had Column operators but no SQL cell). Each builder feeds a typed
  // Aggregator whose finish replays the Column operator's exact
  // arithmetic — spec-pinned SQL ≡ Column, hash-matched in the catalog
  // against the existing q71/q72/q74/q75/q76/q99/q68 oracles. Input rows
  // carry an EXPLICIT validity slot (value/variant IS NOT NULL) instead
  // of an in-band sentinel, so genuine NaN / Long.MinValue values
  // survive; invalid rows skip at reduce like the Column forms' NULL
  // skip. None of the names collides with a Spark built-in.

  /** TRUE iff every argument is non-NULL — the explicit validity slot.
    * Pass the CAST form of each numeric/timestamp input (via [[asLong]] /
    * [[asDouble]] / [[asTs]]), not the raw argument: under the non-ANSI
    * session a malformed string casts to NULL, and the Column forms see
    * that NULL and skip the row — the validity slot must skip it too, or
    * a fabricated 0/0.0 participates and SQL ≢ Column (r16 ADVICE
    * medium). Raw arguments are fine only for string slots (a cast to
    * STRING never NULLs a non-NULL input).
    */
  private def validExpr(es: Expression*): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And, IsNotNull}
    es.map(e => IsNotNull(e): Expression).reduce(And)
  }

  /** Cast views for validity slots — same target types as the paired
    * [[longIn]] / value-slot casts, WITHOUT the NULL→zero coalesce.
    */
  private def asLong(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.LongType)
  private def asDouble(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.DoubleType)
  private def asTs(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.TimestampType)

  /** Long input slot: NULL → 0 (a non-nullable primitive in the tuple
    * encoder; the paired validity slot already excludes the row).
    */
  private def longIn(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce}
    Coalesce(Seq(Cast(e, org.apache.spark.sql.types.LongType), Literal(0L)))
  }

  /** String input slot: NULL → '' (same rationale as [[longIn]]). */
  private def strIn(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce}
    Coalesce(Seq(Cast(e, org.apache.spark.sql.types.StringType), Literal("")))
  }

  private def arity(args: Seq[Expression], n: Int, fn: String,
      usage: String): Unit =
    if (args.size != n) throw new IllegalArgumentException(
      s"$fn expects $usage (${args.size} argument(s) given)")

  private def statsFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // (value, variant) → (variant, value, valid): the shared two-sample
    // plumbing of the t/z tests (CH argument order: data first)
    def twoSample(args: Seq[Expression]): Seq[Expression] =
      Seq(strIn(args(1)), longIn(args(0)), validExpr(asLong(args(0)), args(1)))
    def tTest(name: String) =
      (FunctionIdentifier(name),
        info(name, s"$name(v, variant) - ClickHouse $name as an aggregate: two-sample t statistics from exact per-variant integer moments (pre-scale floats); returns the full evidence struct (variant_a/b = lexicographic min/max label, n/s/q per sample, means, variances, student_t, welch_t, welch_df) - a superset of CH's (t, p) tuple; p-values are libm territory, documented-out"),
        (args: Seq[Expression]) => {
          arity(args, 2, name, "(value, variant)")
          ColumnBridge.scalaAggregator(new graft.operators.AbTests.TTestAgg(),
            ExpressionEncoder[(String, Long, Boolean)](), name, twoSample(args))
        })
    Seq(
      tTest("studentTTest"),
      tTest("welchTTest"),
      (FunctionIdentifier("meanZTest"),
        info("meanZTest", "meanZTest(v, variant, pop_var_x, pop_var_y) - ClickHouse meanZTest (parametric form flattened; the trailing conf/CI half-width is libm territory, documented-out): two-sample mean z-test with KNOWN population variances from exact per-variant integer moments; returns the evidence struct with z"),
        (args: Seq[Expression]) => {
          arity(args, 4, "meanZTest", "(value, variant, pop_var_x, pop_var_y)")
          ColumnBridge.scalaAggregator(
            new graft.operators.AbTests.MeanZAgg(
              numLit(args(2), "meanZTest"), numLit(args(3), "meanZTest")),
            ExpressionEncoder[(String, Long, Boolean)](), "meanZTest",
            twoSample(args))
        }),
      (FunctionIdentifier("mannWhitneyUTest"),
        info("mannWhitneyUTest", "mannWhitneyUTest(v, variant) - ClickHouse mannWhitneyUTest as an aggregate: tie-aware integer-exact doubled U statistics (variant 0 = sample 1, else sample 2; pre-scale float values); state = the group's value domain; returns struct(n1, n2, u1x2, u2x2) - U doubled keeps average-rank ties integral, p-values documented-out"),
        (args: Seq[Expression]) => {
          arity(args, 2, "mannWhitneyUTest", "(value, variant)")
          ColumnBridge.scalaAggregator(
            new graft.operators.AbTests.MannWhitneyAgg(),
            ExpressionEncoder[(Long, Long, Boolean)](), "mannWhitneyUTest",
            Seq(longIn(args(0)), longIn(args(1)),
              validExpr(asLong(args(0)), asLong(args(1)))))
        }),
      (FunctionIdentifier("simpleLinearRegression"),
        info("simpleLinearRegression", "simpleLinearRegression(x, y) - ClickHouse simpleLinearRegression as an aggregate: per-group OLS y = kx + b over six exact integer moments (pre-scale floats; den_y under 2^63 bounds the envelope), plus Pearson r; returns struct(n, num, den_x, den_y, slope, intercept, pearson_r)"),
        (args: Seq[Expression]) => {
          arity(args, 2, "simpleLinearRegression", "(x, y)")
          ColumnBridge.scalaAggregator(
            new graft.operators.Stats.SimpleLinRegAgg(),
            ExpressionEncoder[(Long, Long, Boolean)](),
            "simpleLinearRegression",
            Seq(longIn(args(0)), longIn(args(1)),
              validExpr(asLong(args(0)), asLong(args(1)))))
        }),
      (FunctionIdentifier("cramersV"),
        info("cramersV", "cramersV(a, b) - ClickHouse cramersV/cramersVBiasCorrected/contingency as ONE aggregate: categorical association from exact contingency cells (state bounded by the category domain |A|x|B|); chi-square from order-independent integer-1e-15th terms; returns struct(n, sum_contrib, r, c, chi2, cramers_v, cramers_v_bc, contingency_coef)"),
        (args: Seq[Expression]) => cramersBuilder(args, "cramersV")),
      (FunctionIdentifier("cramersVBiasCorrected"),
        info("cramersVBiasCorrected", "cramersVBiasCorrected(a, b) - alias of cramersV returning the same evidence struct (read the cramers_v_bc field; Bergsma 2013 correction)"),
        (args: Seq[Expression]) => cramersBuilder(args, "cramersVBiasCorrected")),
      (FunctionIdentifier("rankCorr"),
        info("rankCorr", "rankCorr(x, y) - ClickHouse rankCorr (Spearman) as an aggregate: tie-aware doubled ranks over the group's distinct-(x,y) domain (aggregate-then-rank: collapse to a bounded domain FIRST - rank correlation over raw rows is a global sort by definition); returns struct(n, num, den_x, den_y, rho)"),
        (args: Seq[Expression]) => {
          arity(args, 2, "rankCorr", "(x, y)")
          ColumnBridge.scalaAggregator(
            new graft.operators.Stats.RankCorrAgg(),
            ExpressionEncoder[(Long, Long, Boolean)](), "rankCorr",
            Seq(longIn(args(0)), longIn(args(1)),
              validExpr(asLong(args(0)), asLong(args(1)))))
        }),
      mapCombinator("sumMap", "key-wise SUM"),
      mapCombinator("minMap", "key-wise MIN"),
      mapCombinator("maxMap", "key-wise MAX"),
      (FunctionIdentifier("arrayAUC"),
        info("arrayAUC", "arrayAUC(scores, labels) - ClickHouse arrayAUC: tie-aware ROC-AUC of one (scores, labels) array pair as a map-only in-row kernel (sort + one integer doubled-U fold; the only float op is the final division). Scores pre-quantized to BIGINT (exact tie detection), label 1 = positive; equal lengths, null-free; one-class arrays give NULL (divide-by-zero null semantics, like the Column form)"),
        (args: Seq[Expression]) => {
          arity(args, 2, "arrayAUC", "(scores, labels)")
          import org.apache.spark.sql.catalyst.expressions.Cast
          import org.apache.spark.sql.types.{ArrayType, LongType}
          ColumnBridge.eagerExpression(graft.operators.AbTests.arrayAuc(
            ColumnBridge.column(Cast(args(0), ArrayType(LongType))),
            ColumnBridge.column(Cast(args(1), ArrayType(LongType)))))
        }),
      (FunctionIdentifier("largestTriangleThreeBuckets"),
        info("largestTriangleThreeBuckets", "largestTriangleThreeBuckets(n, x, y) - ClickHouse largestTriangleThreeBuckets(n)(x, y) as an aggregate (parametric form flattened): per group, the <= n LTTB-selected points in x order as array<struct<x,y>>; all-integer triangle metric (pre-scale floats), x unique per group (pre-aggregate duplicates), NULL x/y rows skipped"),
        (args: Seq[Expression]) => {
          arity(args, 3, "largestTriangleThreeBuckets", "(n, x, y)")
          ColumnBridge.scalaAggregator(
            new graft.operators.Lttb.LttbAgg(
              intLit(args(0), "largestTriangleThreeBuckets")),
            ExpressionEncoder[(Long, Long, Boolean)](),
            "largestTriangleThreeBuckets",
            Seq(longIn(args(1)), longIn(args(2)),
              validExpr(asLong(args(1)), asLong(args(2)))))
        }),
      (FunctionIdentifier("kolmogorovSmirnovTest"),
        info("kolmogorovSmirnovTest", "kolmogorovSmirnovTest(v, variant) - ClickHouse kolmogorovSmirnovTest as an aggregate: two-sample KS D statistic (variant 0 = sample 1, else sample 2; pre-scale float values); state = the group's value domain, finish = one cumulative walk with the integral max |cum1*n2 - cum2*n1|; returns struct(n1, n2, m, d) - the p-value needs exp, documented-out with the libm family"),
        (args: Seq[Expression]) => {
          arity(args, 2, "kolmogorovSmirnovTest", "(value, variant)")
          ColumnBridge.scalaAggregator(new graft.operators.Stats.KsAgg(),
            ExpressionEncoder[(Long, Long, Boolean)](),
            "kolmogorovSmirnovTest",
            Seq(longIn(args(0)), longIn(args(1)),
              validExpr(asLong(args(0)), asLong(args(1)))))
        }),
      anovaBuilder("analysisOfVariance"),
      anovaBuilder("anova"),
      (FunctionIdentifier("corrMatrix"),
        info("corrMatrix", "corrMatrix(x1, x2[, ...xk]) - ClickHouse corrMatrix as an aggregate: the full k x k Pearson matrix from one constant-size exact integer moment state (1 + k + k(k+1)/2 longs, map-side combine; pre-scale floats so n*sum(xi*xj) stays under 2^63); returns struct(n, corr array<array<double>>) - diagonal from the same formula (1.0, NaN for a constant column)"),
        (args: Seq[Expression]) => {
          if (args.size < 2) throw new IllegalArgumentException(
            s"corrMatrix expects (x1, x2, ...xk) with k >= 2 " +
              s"(${args.size} argument(s) given)")
          import org.apache.spark.sql.catalyst.expressions.CreateArray
          ColumnBridge.scalaAggregator(
            new graft.operators.Stats.CorrMatrixAgg(args.size),
            ExpressionEncoder[(Seq[Long], Boolean)](), "corrMatrix",
            Seq(CreateArray(args.map(longIn)), validExpr(args.map(asLong): _*)))
        }),
      intervalBuilder("intervalLengthSum"),
      intervalBuilder("maxIntersections"),
      intervalBuilder("maxIntersectionsPosition"),
      (FunctionIdentifier("sparkbar"),
        info("sparkbar", "sparkbar(x, y) - ClickHouse sparkbar as an aggregate (bucketing form flattened: x IS the bucket - pre-bucket timestamps): per group, y summed per x, rendered as the 8-level unicode ramp in ascending-x order; returns struct(mx, bar); levels exact while sum(y)*7 <= 2^53, y sums must be non-negative"),
        (args: Seq[Expression]) => {
          arity(args, 2, "sparkbar", "(x, y)")
          ColumnBridge.scalaAggregator(
            new graft.operators.TimeSeries.SparkbarAgg(),
            ExpressionEncoder[(Long, Long, Boolean)](), "sparkbar",
            Seq(longIn(args(0)), longIn(args(1)),
              validExpr(asLong(args(0)), asLong(args(1)))))
        }),
      (FunctionIdentifier("uniqTheta"),
        info("uniqTheta", "uniqTheta(x) - ClickHouse uniqTheta: approximate distinct count via a theta sketch (the STOCK Spark DataSketches aggregate, rewritten to theta_sketch_estimate(theta_sketch_agg(x)) and rounded to BIGINT); EXACT below the default sketch capacity (4096 distinct), RSE ~ 1.6% beyond; NULL skips. Set operations stay on the stock theta_union/theta_intersection/theta_difference surface (t22)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "uniqTheta", "(x)")
          import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          import org.apache.spark.sql.catalyst.expressions.Cast
          Cast(
            UnresolvedFunction(Seq("theta_sketch_estimate"),
              Seq(UnresolvedFunction(Seq("theta_sketch_agg"), Seq(args(0)),
                isDistinct = false)),
              isDistinct = false),
            org.apache.spark.sql.types.LongType)
        }))
  }

  /** `analysisOfVariance` / `anova` (both ClickHouse names): one-way
    * ANOVA F over the group-label domain. CH argument order: data first.
    */
  private def anovaBuilder(name: String) = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.graftbridge.ColumnBridge
    (FunctionIdentifier(name),
      info(name, s"$name(v, grp) - ClickHouse analysisOfVariance as an aggregate: one-way ANOVA F across the labels of grp (labels render to strings; pre-scale float values); state = label -> exact integer moments (bounded by the label domain), finish replays the 1e-6th-quantized between-terms (order-independent) and the F tree; returns struct(n, k, s_all, q_all, sum_term, f_stat) - the p-value is libm territory, documented-out"),
      (args: Seq[Expression]) => {
        arity(args, 2, name, "(value, group)")
        ColumnBridge.scalaAggregator(new graft.operators.Stats.AnovaAgg(),
          ExpressionEncoder[(String, Long, Boolean)](), name,
          Seq(strIn(args(1)), longIn(args(0)),
            validExpr(asLong(args(0)), args(1))))
      })
  }

  /** `intervalLengthSum` / `maxIntersections` / `maxIntersectionsPosition`
    * — one aggregate over half-open `[start, end)` integer intervals; all
    * three ClickHouse names return the full evidence struct (the cramersV
    * convention).
    */
  private def intervalBuilder(name: String) = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.graftbridge.ColumnBridge
    (FunctionIdentifier(name),
      info(name, s"$name(start, end) - the ClickHouse interval aggregate family as ONE aggregate over half-open [start, end) integer intervals (positions in any integer unit; ends retire before starts at equal positions): returns struct(n_intervals, union_len, max_overlap, max_overlap_pos) - read the field the name asks for; state bounded by the group's DISTINCT intervals; NULL start/end rows skip, empty groups read (0, 0, 0, NULL)"),
      (args: Seq[Expression]) => {
        arity(args, 2, name, "(start, end)")
        ColumnBridge.scalaAggregator(
          new graft.operators.TimeSeries.IntervalAgg(),
          ExpressionEncoder[(Long, Long, Boolean)](), name,
          Seq(longIn(args(0)), longIn(args(1)),
            validExpr(asLong(args(0)), asLong(args(1)))))
      })
  }

  private def cramersBuilder(args: Seq[Expression], fn: String): Expression = {
    arity(args, 2, fn, "(a, b)")
    org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
      new graft.operators.Stats.CramersVAgg(),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(String, String, Boolean)](), fn,
      Seq(strIn(args(0)), strIn(args(1)), validExpr(args(0), args(1))))
  }

  /** `sumMap` / `minMap` / `maxMap` — one builder parameterized by the
    * combine mode; the input map casts to map<string,bigint> (CH's own
    * "any key renders to its string form" reading for this engine).
    */
  private def mapCombinator(name: String, what: String) =
    (FunctionIdentifier(name),
      info(name, s"$name(m) - ClickHouse $name as an aggregate: $what of map values per key across the group's rows; returns map<string,bigint> with keys ascending; state bounded by the group's key DOMAIN (schema-bounded keys - unbounded domains should stay in an exploded (group, key) relation); NULL maps skip, map values must be non-null (countMap = CH's own sumMap(transform_values(m, (k, v) -> 1)) idiom)"),
      (args: Seq[Expression]) => {
        arity(args, 1, name, "(map)")
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.types.{LongType, MapType, StringType}
        org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
          new graft.operators.MapCombinators.MapAgg(name.stripSuffix("Map")),
          org.apache.spark.sql.catalyst.encoders
            .ExpressionEncoder[Map[String, Long]](), name,
          Seq(Cast(args(0), MapType(StringType, LongType))))
      })

  /** The ClickHouse URL family under its OWN names (no graft_ prefix —
    * the kernel-scalar convention of parse_log_line/simhash60): a
    * ClickHouse migrant's `SELECT domain(url), topLevelDomain(url)`
    * runs unchanged. Each builder is the q97/q98 Column composition
    * re-exposed through the registry (pure built-in expression trees —
    * regexp/HOF algebra, zero UDFs, whole-stage codegen), so SQL ≡
    * Column by construction; `GraftExtensionsSpec` pins it anyway.
    * None of the names collides with a Spark built-in (Spark's URL
    * surface is parse_url/url_encode/url_decode/try_parse_url).
    */
  private def urlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import graft.functions.UrlFunctions
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression => expression}
    def col1(name: String, doc: String,
        f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      (FunctionIdentifier(name), info(name, doc),
        (args: Seq[Expression]) => {
          arity(args, 1, name, "(url)")
          expression(f(column(args(0))))
        })
    Seq(
      col1("domain", "domain(url) - host without userinfo/port (ClickHouse domain)",
        UrlFunctions.domain),
      col1("netloc", "netloc(url) - user:pw@host:port authority (ClickHouse netloc)",
        UrlFunctions.netloc),
      col1("domainWithoutWWW", "domainWithoutWWW(url) - domain with one leading www. label stripped",
        UrlFunctions.domainWithoutWWW),
      col1("cutWWW", "cutWWW(url) - URL with the host's leading www. stripped in place",
        UrlFunctions.cutWWW),
      col1("topLevelDomain", "topLevelDomain(url) - last host label; '' for IPv4/dot-less hosts",
        UrlFunctions.topLevelDomain),
      col1("firstSignificantSubdomain", "firstSignificantSubdomain(url) - registrable label (example in example.co.uk)",
        UrlFunctions.firstSignificantSubdomain),
      col1("cutToFirstSignificantSubdomain", "cutToFirstSignificantSubdomain(url) - host from the first significant subdomain down ('' for IPv4/dot-less)",
        UrlFunctions.cutToFirstSignificantSubdomain),
      col1("path", "path(url) - path without query/fragment; '/' for bare authority (ClickHouse path)",
        UrlFunctions.path),
      col1("queryString", "queryString(url) - query without '?' or fragment; '' if none",
        UrlFunctions.queryString),
      col1("fragment", "fragment(url) - fragment without '#'; '' if none",
        UrlFunctions.fragment),
      col1("cutQueryStringAndFragment", "cutQueryStringAndFragment(url) - URL with query string and fragment removed",
        UrlFunctions.cutQueryStringAndFragment),
      col1("URLHierarchy", "URLHierarchy(url) - array of drill-down prefixes: scheme://host/, each path level, query level last (fragment excluded)",
        UrlFunctions.urlHierarchy),
      col1("URLPathHierarchy", "URLPathHierarchy(url) - array of path levels, root '/' excluded",
        UrlFunctions.urlPathHierarchy),
      (FunctionIdentifier("extractURLParameter"),
        info("extractURLParameter", "extractURLParameter(url, name) - value of the FIRST name= pair; '' if absent; name must be a [A-Za-z0-9_]+ literal"),
        (args: Seq[Expression]) => {
          arity(args, 2, "extractURLParameter", "(url, name)")
          expression(UrlFunctions.extractURLParameter(
            column(args(0)), strLit(args(1), "extractURLParameter")))
        }),
      // r17 additions: the remaining URL accessors CH dashboards use
      col1("protocol", "protocol(url) - scheme without '://'; '' when scheme-less (ClickHouse protocol)",
        UrlFunctions.protocol),
      col1("pathFull", "pathFull(url) - path WITH the query string, fragment excluded; '/' for bare authority (ClickHouse pathFull)",
        UrlFunctions.pathFull),
      col1("cutQueryString", "cutQueryString(url) - URL with the query string removed (including '?'), fragment kept",
        UrlFunctions.cutQueryString),
      col1("cutFragment", "cutFragment(url) - URL with the fragment removed (including '#')",
        UrlFunctions.cutFragment),
      col1("extractURLParameters", "extractURLParameters(url) - all name=value pairs of the query string in document order; [] when none",
        UrlFunctions.extractURLParameters),
      (FunctionIdentifier("decodeURLComponent"),
        info("decodeURLComponent", "decodeURLComponent(s) - percent-decoding (rewrites to url_decode; malformed sequences read NULL under the non-ANSI session where CH throws)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "decodeURLComponent", "(s)")
          org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq("url_decode"), args, isDistinct = false)
        }),
      (FunctionIdentifier("encodeURLComponent"),
        info("encodeURLComponent", "encodeURLComponent(s) - percent-encoding (rewrites to url_encode; DEVIATION: spaces encode as '+', the application/x-www-form-urlencoded rule - CH emits %20)"),
        (args: Seq[Expression]) => {
          arity(args, 1, "encodeURLComponent", "(s)")
          org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq("url_encode"), args, isDistinct = false)
        }))
  }

  /** Numeric-or-dotted-string ip argument: a numeric input passes
    * through `try_cast` untouched; a dotted string falls back to the
    * octet parse (ClickHouse accepts the string form; this engine's q73
    * convention keeps addresses numeric).
    */
  private def ipArg(e: Expression): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Coalesce, EvalMode}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression}
    import org.apache.spark.sql.types.{LongType, StringType}
    // TRY-mode cast: a numeric input passes through, a dotted string
    // reads NULL (never throws, even under ANSI sessions) and falls to
    // the octet parse
    val asNum = Cast(e, LongType, None, EvalMode.TRY)
    val asStr = eagerExpression(
      graft.functions.IpFunctions.ipv4StringToNum(
        column(Cast(e, StringType))))
    column(Coalesce(Seq(asNum, asStr)))
  }

  private def ipNumToString(name: String) =
    (FunctionIdentifier(name),
      info(name, s"$name(ip) - ClickHouse IPv4NumToString: dotted-quad render of a numeric UInt32-in-BIGINT address"),
      (args: Seq[Expression]) => {
        arity(args, 1, name, "(ip)")
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression}
        eagerExpression(graft.functions.IpFunctions.ipv4NumToString(
          column(Cast(args(0), org.apache.spark.sql.types.LongType))))
      })

  private def ipStringToNum(name: String) =
    (FunctionIdentifier(name),
      info(name, s"$name(s) - ClickHouse IPv4StringToNum/toIPv4: numeric UInt32-in-BIGINT address of a dotted-quad string"),
      (args: Seq[Expression]) => {
        arity(args, 1, name, "(s)")
        import org.apache.spark.sql.catalyst.expressions.Cast
        import org.apache.spark.sql.graftbridge.ColumnBridge.{column, eagerExpression}
        eagerExpression(graft.functions.IpFunctions.ipv4StringToNum(
          column(Cast(args(0), org.apache.spark.sql.types.StringType))))
      })

  /** Shared builder for the sequence-pattern aggregates: same
    * (pattern, ts, id, conds…) → (t, id, bitmask) input plumbing as
    * graft_window_funnel.
    */
  private def seqPatternAgg(args: Seq[Expression], fn: String,
      mk: (String, Int) => org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Long), _, _]): Expression = {
    if (args.size < 4) throw new IllegalArgumentException(
      s"$fn expects (pattern, ts, id, cond1, ...)")
    val n = args.size - 3
    val (t, id) = (tsExpr(args(1)), idExpr(args(2)))
    val mask = maskExpr(args.drop(3), 0 until n)
    org.apache.spark.sql.graftbridge.ColumnBridge.scalaAggregator(
      mk(strLit(args(0), fn), n),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Long, Long, Long)](),
      fn, Seq(t, id, mask))
  }

  private val rules: Seq[Rule[LogicalPlan]] = Seq(TopKPerKeyRewrite, DedupProjectParse)

  /** Gives `spark` the engine's SQL surface: every function of
    * [[functions]], the optimizer rules [[TopKPerKeyRewrite]] then
    * [[DedupProjectParse]], and the [[TopKPerKeyStrategy]] planner strategy.
    * [[graft.GraftSession]] calls it on each session it builds and
    * [[graft.SparkEntry.queries]] before each entry builds, so a query plans
    * the same whatever ran before it. The rules ride the `experimental`
    * hooks because those bind to a running session. The lock makes two
    * concurrent calls add each rule once; a session that holds the rules
    * and the strategy already is left as it is.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val hooks = spark.experimental
    if (!(rules.forall(hooks.extraOptimizations.contains) &&
        hooks.extraStrategies.contains(TopKPerKeyStrategy))) {
      functions.foreach { case (id, inf, builder) =>
        ColumnBridge.registerFunction(spark, id, inf, builder)
      }
      hooks.extraOptimizations = hooks.extraOptimizations.filterNot(rules.contains) ++ rules
      hooks.extraStrategies =
        hooks.extraStrategies.filterNot(_ eq TopKPerKeyStrategy) :+ TopKPerKeyStrategy
    }
  }
}
