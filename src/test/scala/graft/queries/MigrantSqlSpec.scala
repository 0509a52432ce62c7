package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The migrant SQL smoke corpus (r15 verdict item 1, widened every
  * round since): 72 realistic ClickHouse statements — the shapes a
  * grower + ClickHouse deployment actually runs against its
  * events/access-log tables
  * (`/root/reference/migrations/sample_test.sql`: toYYYYMM rollups,
  * toStartOfHour series, status×date top-k, funnel + uniqExact +
  * quantileExact + domain() + JSONExtract combinations), plus the r18
  * dashboard batch (Grafana $timeSeries macro expansions, top-N
  * panels, double-quoted aliases, topK buckets, ASOF sessionization,
  * ANY-JOIN dims) — run VERBATIM through `spark.sql` on real testdata.
  * Buckets: 27 PASS verbatim, 38 GAP→PASS through `ChSqlRewriter.sql`
  * (raw-FAIL pinned AND rewritten-PASS asserted — one of them the bare
  * ANY JOIN spelling that raw Spark runs as a SILENT all-matches alias
  * trap), 1 named gap (no-STEP WITH FILL — deliberate), 6 pinned
  * silent traps:
  *
  *   - PASS: the unmodified text parses, runs, and returns rows — the
  *     r13–r16 name-surface investment proved end to end;
  *   - GAP: the text fails with a NAMED error; the documented rewrite
  *     is stated here and in MIGRATION.md (clause-level syntax Spark's
  *     parser owns: SAMPLE, WITH FILL, ASOF JOIN, PREWHERE, parametric
  *     `f(params)(args)` aggregates, zero-arg count(), quoted-unit
  *     dateDiff);
  *   - TRAP: the text parses and runs but means something DIFFERENT —
  *     the silent class, pinned so the deviation is load-bearing
  *     documentation (`position` swaps arguments, `FROM t FINAL` reads
  *     FINAL as a table alias, unquoted `dateDiff(DAY, …)` is elapsed
  *     units, `length` counts chars not bytes).
  *
  * The hash-matched end-to-end leg is q127_migrant_sql: one
  * multi-family statement in ClickHouse spellings against the DuckDB
  * oracle (its quantileExact term uses the flattened argument list —
  * the parametric syntax is the G1 gap below).
  */
class MigrantSqlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = graft.TestSpark.spark
    graft.sources.Tables.registerAll(s, "/root/testdata/sf0.001")
    s
  }

  /** One corpus statement: run verbatim, expect ≥ minRows rows. */
  private def pass(name: String, minRows: Int, sql: String): Unit =
    test(s"PASS $name") {
      val rows = spark.sql(sql).collect()
      assert(rows.length >= minRows,
        s"$name: ${rows.length} rows < $minRows\n$sql")
    }

  private def chain(t: Throwable): String =
    if (t == null) "" else t.toString + chain(t.getCause)

  /** A named gap: the verbatim text must FAIL with `fragment` somewhere
    * in the error chain, and the documented rewrite is part of the test
    * name (the spec IS the statement→gap table).
    */
  private def gap(name: String, fragment: String, rewrite: String,
      sql: String): Unit =
    test(s"GAP  $name [rewrite: $rewrite]") {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(chain(e).contains(fragment),
        s"$name: wanted '$fragment' in\n${chain(e)}")
    }

  /** A gap CLOSED by the r17 dialect pre-rewriter: the verbatim text
    * still FAILS raw (the parser-level gap is real and stays pinned),
    * and the SAME text PASSES through `ChSqlRewriter.sql` — the migrant
    * front door (`via` names the pass that closes it).
    */
  private def gapFlipped(name: String, fragment: String, via: String,
      minRows: Int, sql: String): Unit =
    test(s"GAP→PASS $name [via ChSqlRewriter: $via]") {
      val e = intercept[Exception](spark.sql(sql).collect())
      assert(chain(e).contains(fragment),
        s"$name: raw text no longer fails with '$fragment' in\n${chain(e)}")
      val rows = graft.plans.ChSqlRewriter.sql(spark, sql).collect()
      assert(rows.length >= minRows,
        s"$name rewritten: ${rows.length} rows < $minRows\n" +
          graft.plans.ChSqlRewriter.rewrite(sql))
    }

  // ---- PASS: the unmodified ClickHouse text runs ----------------------

  pass("hourly traffic series (toStartOfHour + uniq)", 1,
    """SELECT toStartOfHour(ts) AS hr, count(*) AS hits,
      |  uniq(user_id) AS visitors
      |FROM events GROUP BY hr ORDER BY hr LIMIT 24""".stripMargin)

  pass("status-style rollup with toDate filter", 1,
    """SELECT event_type, count(*) AS n, round(avg(value), 4) AS avg_v
      |FROM events WHERE toDate(ts) >= toDate('2020-01-01')
      |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin)

  pass("monthly partition rollup (toYYYYMM + uniqExact + countIf)", 1,
    """SELECT toYYYYMM(ts) AS ym, uniqExact(user_id) AS users,
      |  countIf(value > 0.5) AS hi
      |FROM events GROUP BY ym ORDER BY ym""".stripMargin)

  pass("day-of-week profile (Monday-1 toDayOfWeek)", 1,
    """SELECT toDayOfWeek(ts) AS dow, count(*) AS n
      |FROM events GROUP BY dow ORDER BY dow""".stripMargin)

  pass("last event per user (argMax)", 1,
    """SELECT user_id, argMax(event_type, ts) AS last_event
      |FROM events GROUP BY user_id ORDER BY user_id LIMIT 20""".stripMargin)

  pass("-If combinators with toInt64 cast names", 1,
    """SELECT sumIf(toInt64(floor(value * 100)),
      |            event_type = 'purchase') AS purchase_cents,
      |  avgIf(value, event_type = 'view') AS avg_view
      |FROM events""".stripMargin)

  pass("per-type p90 (flattened quantileExact, actual element)", 1,
    """SELECT event_type,
      |  quantileExact(toInt64(floor(value * 1000)), 0.9) AS p90
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  pass("props histogram (JSONExtractInt)", 1,
    """SELECT JSONExtractInt(props, 'k') AS k, count(*) AS n
      |FROM events GROUP BY k ORDER BY n DESC, k LIMIT 10""".stripMargin)

  pass("daily render (formatDateTime %F)", 1,
    """SELECT formatDateTime(ts, '%F') AS day, count(*) AS n
      |FROM events GROUP BY day ORDER BY day LIMIT 7""".stripMargin)

  pass("value banding (multiIf)", 2,
    """SELECT multiIf(value < 0.25, 'low', value < 0.75, 'mid', 'high')
      |  AS band, count(*) AS n
      |FROM events GROUP BY band ORDER BY band""".stripMargin)

  // NOTE: grouping directly BY an arrayJoin alias in the same SELECT
  // (CH allows it) does not resolve here — Spark places the generator
  // above the aggregate; the subquery form below runs on both engines
  // and is the documented shape (GraftExtensions arrayJoin docstring)
  pass("token explode (arrayJoin over splitByChar, subquery form)", 1,
    """SELECT tok, count(*) AS n FROM (
      |  SELECT arrayJoin(splitByChar('_', event_type)) AS tok
      |  FROM events)
      |GROUP BY tok ORDER BY n DESC, tok LIMIT 10""".stripMargin)

  pass("URL dimension (domain + cutToFirstSignificantSubdomain)", 1,
    """SELECT domain(concat('https://', source, '.example.com/p/',
      |    toString(doc_id % 50))) AS d,
      |  cutToFirstSignificantSubdomain(concat('https://', source,
      |    '.example.com/x')) AS site, count(*) AS n
      |FROM documents GROUP BY d, site ORDER BY d LIMIT 10""".stripMargin)

  pass("distinct-dow render (arrayStringConcat + arraySort + groupUniqArray)", 1,
    """SELECT event_type,
      |  arrayStringConcat(arraySort(groupUniqArray(
      |    toString(toDayOfWeek(ts)))), ',') AS dows
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  pass("CTE + HAVING on an output alias", 1,
    """WITH active AS (
      |  SELECT user_id, count(*) AS n FROM events
      |  GROUP BY user_id HAVING n > 3)
      |SELECT count(*) AS n_active, max(n) AS max_n FROM active""".stripMargin)

  pass("distinct-count ladder (uniq / uniqTheta / uniqExact)", 1,
    """SELECT uniq(user_id) AS u_hll, uniqTheta(user_id) AS u_theta,
      |  uniqExact(user_id) AS u_exact
      |FROM events""".stripMargin)

  pass("IPv4 render round-trip", 1,
    """SELECT IPv4NumToString(toUInt32(3232235777)) AS ip,
      |  IPv4StringToNum('192.168.1.1') AS n""".stripMargin)

  pass("weekly series (Sunday-based toStartOfWeek)", 1,
    """SELECT toStartOfWeek(ts) AS wk, count(*) AS n
      |FROM events GROUP BY wk ORDER BY wk""".stripMargin)

  pass("string helpers (notEmpty / has / empty)", 1,
    """SELECT countIf(notEmpty(props)) AS with_props,
      |  countIf(has(splitByChar(',', 'view,click'), event_type))
      |    AS in_list,
      |  countIf(empty(props)) AS no_props
      |FROM events""".stripMargin)

  pass("structural JSON probe (JSONHas / JSONLength / JSONType)", 1,
    """SELECT countIf(JSONHas(props, 'k')) AS n_k,
      |  max(JSONLength(props)) AS max_len,
      |  min(JSONType(props, 'k')) AS k_type
      |FROM events""".stripMargin)

  pass("windowed funnel via the engine aggregate (documented rewrite)", 1,
    """SELECT user_id,
      |  graft_window_funnel(3600000000, ts, event_id,
      |    event_type = 'view', event_type = 'click',
      |    event_type = 'purchase') AS level
      |FROM events GROUP BY user_id ORDER BY user_id LIMIT 20""".stripMargin)

  pass("15-minute interval series (toStartOfInterval) + lambda-first HOFs", 1,
    """SELECT toStartOfInterval(ts, INTERVAL 15 MINUTE) AS q, count(*) AS n,
      |  arrayStringConcat(arrayFilter(x -> x <> '',
      |    arraySort(groupUniqArray(event_type))), ',') AS types
      |FROM events GROUP BY q ORDER BY q LIMIT 5""".stripMargin)

  pass("rollup subtotals (WITH ROLLUP - same clause, both engines)", 2,
    """SELECT event_type, toDayOfWeek(ts) AS d, count(*) AS n
      |FROM events GROUP BY event_type, d WITH ROLLUP
      |ORDER BY event_type NULLS LAST, d NULLS LAST LIMIT 20""".stripMargin)

  pass("INTERVAL arithmetic (same syntax both engines) + typed JSONExtract", 1,
    """SELECT count(*) AS n,
      |  countIf(ts + INTERVAL 1 DAY > ts) AS all_rows,
      |  max(JSONExtract(props, 'k', 'Int64')) AS max_k,
      |  max(JSONExtract(props, 'k', 'String')) AS max_ks
      |FROM events""".stripMargin)

  pass("quantile ladder + anyLast + uniqHLL12", 1,
    """SELECT anyLast(event_type) AS a, uniqHLL12(user_id) AS u,
      |  quantile(value) AS med, quantile(value, 0.9) AS p90,
      |  quantileTDigest(toInt64(floor(value * 1000)), 0.99) AS p99
      |FROM events""".stripMargin)

  pass("r17 scalar batch verbatim (monthName + formatReadableSize + " +
    "bar + hasAny + arrayUniq)", 1,
    """SELECT monthName(ts) AS m, count(*) AS n,
      |  formatReadableSize(count(*) * 1024) AS vol,
      |  bar(count(*), 0, 100000, 20) AS b,
      |  countIf(hasAny(splitByChar('_', event_type),
      |    array('view', 'cart'))) AS n_vc,
      |  max(arrayUniq(splitByChar('e', event_type))) AS mx
      |FROM events GROUP BY m ORDER BY m""".stripMargin)

  pass("r17 batch-2 verbatim (dateName + roundDuration/roundAge + " +
    "uniqCombined64 + fromUnixTimestamp + sumArray)", 1,
    """SELECT dateName('weekday', ts) AS wd, count(*) AS n,
      |  sum(roundDuration(event_id % 4000)) AS rd,
      |  sum(roundAge(event_id % 90)) AS ra,
      |  uniqCombined64(user_id) AS uc,
      |  min(fromUnixTimestamp(86400)) AS epoch_day,
      |  sumArray(array(toInt64(event_id % 3), 1L)) AS sa
      |FROM events GROUP BY wd ORDER BY wd""".stripMargin)

  pass("r18 conversion-rate-by-hour dashboard panel (countIf ratio)", 1,
    """SELECT toHour(ts) AS h,
      |  round(countIf(event_type = 'purchase') / count(*), 4) AS conv,
      |  count(*) AS n
      |FROM events GROUP BY h ORDER BY h""".stripMargin)

  // ---- r18 dashboard-scale batch: the Grafana/ClickHouse-dashboard
  // idioms (time-series macros, top-N panels, quoted aliases, topK
  // buckets, ASOF sessionization, ANY-JOIN dims) run through the
  // front door in anger — exercising the r18 ASOF/ANY/INTERPOLATE
  // lowerings alongside the r17 passes. -------------------------------

  gapFlipped("Grafana $timeSeries macro expansion (intDiv bucket * 1000 " +
    "+ count())", "WRONG_NUM_ARGS", "count() pass (macro itself PASSES)", 2,
    """SELECT (intDiv(toUInt32(ts), 3600) * 3600) * 1000 AS t,
      |  count() AS hits
      |FROM events GROUP BY t ORDER BY t""".stripMargin)

  gapFlipped("top-N dimension panel (ORDER BY count() DESC)",
    "WRONG_NUM_ARGS", "count() pass in ORDER BY too", 3,
    """SELECT event_type, count() AS hits FROM events
      |GROUP BY event_type ORDER BY count() DESC LIMIT 5""".stripMargin)

  gapFlipped("table panel with double-quoted aliases + ordinal ORDER BY",
    "PARSE_SYNTAX_ERROR", "dq identifiers -> backquotes (tokenizer)", 3,
    """SELECT event_type AS "Type", count() AS "Count"
      |FROM events GROUP BY event_type ORDER BY 2 DESC""".stripMargin)

  gapFlipped("topK over day buckets (parametric inside a series panel)",
    "PARSE_SYNTAX_ERROR", "parametric pass -> graft_topk", 2,
    """SELECT toStartOfDay(ts) AS d, topK(3)(event_type) AS top_types,
      |  count() AS n
      |FROM events GROUP BY d ORDER BY d LIMIT 7""".stripMargin)

  gapFlipped("ASOF sessionization: events joined to each user's first " +
    "order (cohort rollup)", "PARSE_SYNTAX_ERROR", "ASOF lowering", 1,
    """SELECT toStartOfDay(o.first_order) AS cohort, count() AS n
      |FROM events e ASOF JOIN (
      |  SELECT o_custkey, min(o_orderdate) AS first_order
      |  FROM orders GROUP BY o_custkey) o
      |ON e.user_id = o.o_custkey AND e.ts >= o.first_order
      |GROUP BY cohort ORDER BY cohort""".stripMargin)

  test("GAP→PASS ASOF LEFT JOIN strict '>' keeps every left row " +
    "[via ChSqlRewriter: ASOF lowering]") {
    val sql =
      """SELECT count() AS n FROM events e ASOF LEFT JOIN (
        |  SELECT user_id AS u, min(ts) AS t0 FROM events
        |  GROUP BY user_id) f
        |ON e.user_id = f.u AND e.ts > f.t0""".stripMargin
    val e = intercept[Exception](spark.sql(sql).collect())
    assert(chain(e).contains("PARSE_SYNTAX_ERROR"))
    val n = graft.plans.ChSqlRewriter.sql(spark, sql)
      .collect().head.getLong(0)
    val plain = spark.sql("SELECT count(*) FROM events")
      .collect().head.getLong(0)
    assert(n == plain, s"LEFT ASOF changed multiplicity: $n != $plain")
  }

  gapFlipped("ASOF JOIN ... USING (CH's last-column->= shorthand)",
    "PARSE_SYNTAX_ERROR", "ASOF lowering (USING form)", 1,
    """SELECT e.event_id AS id FROM
      |  (SELECT event_id, user_id AS k, ts FROM events) e
      |ASOF JOIN
      |  (SELECT o_custkey AS k, CAST(o_orderdate AS TIMESTAMP) AS ts
      |   FROM orders) o
      |USING (k, ts)""".stripMargin)

  gapFlipped("ANY LEFT JOIN dimension enrich (latest-order idiom) + " +
    "uniqExact", "PARSE_SYNTAX_ERROR", "ANY LEFT lowering", 2,
    """SELECT o.o_orderpriority AS prio, uniqExact(e.user_id) AS buyers,
      |  count() AS n
      |FROM events e ANY LEFT JOIN orders o ON e.user_id = o.o_custkey
      |GROUP BY prio ORDER BY prio""".stripMargin)

  gapFlipped("ANY LEFT JOIN ... USING (renamed-key dim subquery)",
    "PARSE_SYNTAX_ERROR", "ANY LEFT lowering keeps USING", 1,
    """SELECT count() AS n FROM events e ANY LEFT JOIN (
      |  SELECT o_custkey AS user_id, o_orderstatus FROM orders) o
      |USING (user_id)""".stripMargin)

  test("GAP→PASS ANY INNER JOIN keeps at-most-one match per left row " +
    "and drops unmatched [via ChSqlRewriter: ANY lowering]; the BARE " +
    "'ANY JOIN' spelling is a pinned SILENT TRAP raw (Spark parses a " +
    "relation aliased 'any' + an ALL-matches join)") {
    val innerSql =
      """SELECT count(*) AS n FROM events e ANY INNER JOIN orders o
        |ON e.user_id = o.o_custkey""".stripMargin
    val e = intercept[Exception](spark.sql(innerSql).collect())
    assert(chain(e).contains("PARSE_SYNTAX_ERROR"))
    val n = graft.plans.ChSqlRewriter.sql(spark, innerSql)
      .collect().head.getLong(0)
    // ANY INNER = exactly the left rows whose key has >=1 right match
    val expected = spark.sql(
      """SELECT count(*) AS n FROM events e
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = e.user_id)""".stripMargin)
      .collect().head.getLong(0)
    assert(n == expected, s"ANY INNER multiplicity: $n != $expected")
    // the BARE spelling without a left alias PARSES raw - as an alias
    // named 'any' + a plain all-matches join (the silent trap) - and
    // the rewriter claims ClickHouse's first-match reading instead
    // (unqualified left key: raw Spark aliases events AS 'any', so the
    // original name could not qualify columns in the trap reading)
    val bare =
      """SELECT count(*) AS n FROM events ANY JOIN orders o
        |ON user_id = o.o_custkey""".stripMargin
    val rawN = spark.sql(bare).collect().head.getLong(0)
    assert(rawN > expected, "raw bare ANY JOIN is the all-matches trap")
    assert(graft.plans.ChSqlRewriter.sql(spark, bare)
      .collect().head.getLong(0) == expected)
  }

  gapFlipped("GLOBAL ANY LEFT JOIN (distributed-dim spelling)",
    "PARSE_SYNTAX_ERROR", "GLOBAL strip + ANY LEFT lowering", 1,
    """SELECT count() AS n FROM events e
      |GLOBAL ANY LEFT JOIN orders o ON e.user_id = o.o_custkey"""
      .stripMargin)

  gapFlipped("parametric sequenceMatch (view-then-purchase flag per user)",
    "PARSE_SYNTAX_ERROR", "parametric pass -> graft_sequence_match", 5,
    """SELECT user_id, sequenceMatch('(?1).*(?2)')(ts,
      |  event_type = 'view', event_type = 'purchase') AS matched
      |FROM events GROUP BY user_id ORDER BY user_id LIMIT 20"""
      .stripMargin)

  gapFlipped("Date-axis WITH FILL + INTERPOLATE carry (sparse-cohort " +
    "daily panel)", "PARSE_SYNTAX_ERROR",
    "sequence-axis join + carry-previous window", 2,
    """SELECT toDate(ts) AS d, count() AS n FROM events
      |WHERE user_id % 31 = 0 GROUP BY d
      |ORDER BY d WITH FILL STEP INTERVAL 1 DAY INTERPOLATE (n)"""
      .stripMargin)

  test("INTERPOLATE (c AS linear) brackets come from the SAME " +
    "observation when a NULL-valued observation intervenes (r18 ADVICE " +
    "medium fix: value+position bundled in one struct window)") {
    // observations at x = 0 (v=0), 4 (v=NULL), 8 (v=80): the fill rows
    // and the NULL-valued row itself must interpolate on the 0→80 line
    // (10·x). The pre-fix form advanced the position bracket on the
    // NULL-valued observation but not the value bracket, so x=5..7
    // interpolated v from x=0 against h from x=4 — off every line.
    spark.sql(
      """SELECT * FROM VALUES (0, 0.0), (4, CAST(NULL AS DOUBLE)),
        |  (8, 80.0) AS t(x, v)""".stripMargin)
      .createOrReplaceTempView("mig_interp_null")
    val rows = graft.plans.ChSqlRewriter.sql(spark,
      """SELECT x, v FROM mig_interp_null
        |ORDER BY x WITH FILL STEP 1 INTERPOLATE (v AS linear)"""
        .stripMargin)
      .collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(rows(0) == 0.0 && rows(8) == 80.0)
    // source rows keep their own values, NULL included
    assert(rows(4) == null, s"observed NULL must survive: ${rows(4)}")
    // every FILL row lies on the 0→80 line: v = 10·x
    Seq(1, 2, 3, 5, 6, 7).foreach { x =>
      assert(rows(x) == 10.0 * x,
        s"fill row x=$x off the observation line: ${rows(x)}")
    }
  }

  gapFlipped("PREWHERE + LIMIT offset,n pagination",
    "PARSE_SYNTAX_ERROR", "PREWHERE merge + LIMIT n OFFSET m", 1,
    """SELECT event_id, event_type FROM events PREWHERE value > 0.9
      |ORDER BY event_id LIMIT 100, 10""".stripMargin)

  // ---- GAP: named failures with documented rewrites. 15 of the 17
  // r16 gaps are CLOSED by the ChSqlRewriter pre-pass (gapFlipped: raw
  // text still fails — the parser gap is real — and the same text runs
  // through the migrant front door); the 2 operator-shaped ones stay
  // named gaps, plus WITH FILL's no-STEP form (deliberate: CH's
  // implicit 1-second DateTime step is a silent row blow-up). --------

  gapFlipped("bracketed array literal [1, 2, 3]",
    "PARSE_SYNTAX_ERROR", "array-literal pass", 1,
    "SELECT [1, 2, 3] AS a")

  gapFlipped("CH any(x) on a non-boolean (Spark's any IS bool_or - " +
    "registry must not shadow it; the DIALECT pass may)",
    "any", "any_value pass", 1,
    "SELECT any(value) FROM events")

  gapFlipped("LIMIT n BY col (per-key top-n clause)",
    "PARSE_SYNTAX_ERROR", "row_number window rewrite", 4,
    """SELECT event_type, user_id, count(*) AS n FROM events
      |GROUP BY event_type, user_id ORDER BY n DESC
      |LIMIT 3 BY event_type""".stripMargin)

  gapFlipped("GROUP BY ... WITH TOTALS",
    "PARSE_SYNTAX_ERROR", "GROUPING SETS ((keys), ()) - NULL-key totals row", 3,
    """SELECT event_type, count(*) AS n FROM events
      |GROUP BY event_type WITH TOTALS""".stripMargin)

  gapFlipped("SETTINGS suffix",
    "PARSE_SYNTAX_ERROR", "settings-strip pass", 1,
    "SELECT count(*) FROM events SETTINGS max_threads = 4")

  gapFlipped("LEFT ARRAY JOIN",
    "PARSE_SYNTAX_ERROR", "LATERAL VIEW OUTER explode", 1,
    """SELECT event_type, tok FROM events
      |LEFT ARRAY JOIN splitByChar('_', event_type) AS tok""".stripMargin)

  gapFlipped("GLOBAL JOIN",
    "PARSE_SYNTAX_ERROR", "GLOBAL-strip (the planner owns distribution)", 1,
    """SELECT a.event_id FROM events a GLOBAL JOIN events b
      |ON a.user_id = b.user_id LIMIT 1""".stripMargin)

  gapFlipped("GLOBAL IN",
    "PARSE_SYNTAX_ERROR", "GLOBAL-strip", 1,
    """SELECT count(*) FROM events WHERE user_id GLOBAL IN
      |(SELECT user_id FROM events LIMIT 10)""".stripMargin)

  gapFlipped("parametric aggregate syntax quantileExact(0.9)(v)",
    "quantileExact", "flatten to quantileExact(v, 0.9)", 1,
    "SELECT quantileExact(0.9)(value) FROM events")

  gapFlipped("parametric topK(5)(x)",
    "topK", "graft_topk(x, 5)", 1,
    "SELECT topK(5)(event_type) FROM events")

  gapFlipped("parametric windowFunnel(w)(ts, conds...)",
    "windowFunnel", "graft_window_funnel(w*1e6 us, ts, ts, conds...)", 1,
    """SELECT windowFunnel(3600)(ts, event_type = 'view',
      |  event_type = 'click') FROM events GROUP BY user_id""".stripMargin)

  gapFlipped("zero-arg count()",
    "WRONG_NUM_ARGS", "count(*)", 1,
    "SELECT count() FROM events")

  gapFlipped("SAMPLE clause",
    "PARSE_SYNTAX_ERROR",
    "TABLESAMPLE (10 PERCENT) - DEVIATION: Bernoulli, not sampling-key", 1,
    "SELECT count(*) FROM events SAMPLE 0.1")

  gap("ORDER BY ... WITH FILL (no STEP)",
    "PARSE_SYNTAX_ERROR",
    "add STEP (rewriter lowers it) or TimeSeries.resampleFill - CH's implicit DateTime step is 1 SECOND, a silent blow-up",
    """SELECT toStartOfDay(ts) AS d, count(*) AS n FROM events
      |GROUP BY d ORDER BY d WITH FILL""".stripMargin)

  test("GAP→PASS ORDER BY ... WITH FILL STEP INTERVAL [via ChSqlRewriter: " +
    "sequence-axis LEFT JOIN; no-STEP form stays a NAMED error]") {
    val withStep =
      """SELECT toStartOfDay(ts) AS d, count(*) AS n FROM events
        |GROUP BY d ORDER BY d WITH FILL STEP INTERVAL 1 DAY""".stripMargin
    val e = intercept[Exception](spark.sql(withStep).collect())
    assert(chain(e).contains("PARSE_SYNTAX_ERROR"))
    val rows = graft.plans.ChSqlRewriter.sql(spark, withStep).collect()
    val plain = spark.sql(
      """SELECT toStartOfDay(ts) AS d, count(*) AS n FROM events
        |GROUP BY d""".stripMargin).collect()
    assert(rows.length >= plain.length, "fill never removes rows")
    // the axis is gap-free at 1-day steps
    val days = rows.map(_.getTimestamp(0).getTime).sorted
    days.sliding(2).foreach { case Array(a, b) =>
      assert(b - a == 86400000L, s"axis gap: $a -> $b")
    }
    // and the no-STEP form through the rewriter is the documented error
    val e2 = intercept[graft.plans.ChSqlRewriter.RewriteException](
      graft.plans.ChSqlRewriter.sql(spark,
        """SELECT toStartOfDay(ts) AS d, count(*) AS n FROM events
          |GROUP BY d ORDER BY d WITH FILL""".stripMargin))
    assert(e2.getMessage.contains("STEP"))
  }

  gapFlipped("select-list arrayJoin alias feeding GROUP BY (CH evaluates " +
    "aliases anywhere; Spark's generator sits above the aggregate)",
    "UNRESOLVED_COLUMN", "explode-in-subquery rewrite", 1,
    """SELECT arrayJoin(splitByChar('_', event_type)) AS tok,
      |  count(*) AS n FROM events GROUP BY tok ORDER BY n DESC, tok
      |LIMIT 10""".stripMargin)

  gapFlipped("ASOF JOIN (r17 verdict item 1: the q28 union+window " +
    "construction in pure SQL - one key shuffle, never a theta-join)",
    "PARSE_SYNTAX_ERROR", "ASOF lowering", 1,
    """SELECT a.event_id FROM events a ASOF JOIN events b
      |ON a.user_id = b.user_id AND a.ts >= b.ts""".stripMargin)

  gapFlipped("ANY LEFT JOIN (r17 verdict item 2: deterministic " +
    "right-side pre-aggregate - row multiplicity preserved)",
    "PARSE_SYNTAX_ERROR", "ANY LEFT lowering", 1,
    """SELECT e.event_type, o.o_orderstatus, count(*) AS n
      |FROM events e ANY LEFT JOIN orders o ON e.user_id = o.o_custkey
      |GROUP BY e.event_type, o.o_orderstatus
      |ORDER BY e.event_type, o.o_orderstatus""".stripMargin)

  test("GAP→PASS ANY LEFT JOIN preserves LEFT-side row multiplicity " +
    "(the property the r16 loud-failure contract protected)") {
    val joined = graft.plans.ChSqlRewriter.sql(spark,
      """SELECT count(*) AS n FROM events e
        |ANY LEFT JOIN orders o ON e.user_id = o.o_custkey""".stripMargin)
      .collect().head.getLong(0)
    val plain = spark.sql("SELECT count(*) AS n FROM events")
      .collect().head.getLong(0)
    assert(joined == plain,
      s"ANY LEFT changed row multiplicity: $joined != $plain")
    // while a plain LEFT JOIN against multi-order customers would not
    val allMatches = spark.sql(
      """SELECT count(*) AS n FROM events e
        |LEFT JOIN orders o ON e.user_id = o.o_custkey""".stripMargin)
      .collect().head.getLong(0)
    assert(allMatches > plain, "fixture lost its right-side duplicates")
  }

  test("GAP→PASS WITH FILL INTERPOLATE: (c) carries the previous value " +
    "onto fill rows; (c AS linear) interpolates [graft extension]") {
    val locf = graft.plans.ChSqlRewriter.sql(spark,
      """SELECT toStartOfDay(ts) AS d, count() AS n FROM events
        |WHERE event_type = 'purchase' GROUP BY d
        |ORDER BY d WITH FILL STEP INTERVAL 1 DAY
        |INTERPOLATE (n)""".stripMargin).collect()
    assert(locf.length >= 2)
    // gap-free daily axis and NO null n anywhere after the first row
    // (every fill row carries its predecessor)
    locf.sliding(2).foreach { case Array(a, b) =>
      assert(b.getTimestamp(0).getTime - a.getTimestamp(0).getTime ==
        86400000L)
    }
    assert(locf.drop(1).forall(!_.isNullAt(1)))
    val lin = graft.plans.ChSqlRewriter.sql(spark,
      """SELECT toStartOfDay(ts) AS d, count() AS n FROM events
        |WHERE event_type = 'purchase' GROUP BY d
        |ORDER BY d WITH FILL STEP INTERVAL 1 DAY
        |INTERPOLATE (n AS linear)""".stripMargin).collect()
    assert(lin.length == locf.length)
    // interior fill rows sit strictly between their brackets
    val vals = lin.map(r => (r.getTimestamp(0).getTime,
      if (r.isNullAt(1)) Double.NaN else r.getDouble(1)))
    assert(vals.forall(!_._2.isNaN))
  }

  gapFlipped("PREWHERE",
    "PARSE_SYNTAX_ERROR", "WHERE merge (Spark pushes predicates anyway)", 1,
    "SELECT count(*) FROM events PREWHERE event_type = 'view'")

  gapFlipped("quoted-unit dateDiff('day', a, b)",
    "unit", "graft_date_diff (boundary-crossing semantics)", 1,
    "SELECT dateDiff('day', min(ts), max(ts)) FROM events")

  test("GAP→PASS combined-stress statement: SAMPLE + PREWHERE + WHERE + " +
    "count() + parametric quantile + WITH TOTALS + LIMIT offset,n + " +
    "SETTINGS + FORMAT + ';' in ONE text [pass-interaction pin]") {
    val sql =
      """SELECT event_type, count() AS n,
        |  quantileExact(0.9)(toInt64(floor(value * 100))) AS p90
        |FROM events SAMPLE 1.0
        |PREWHERE value >= 0
        |WHERE event_type != ''
        |GROUP BY event_type WITH TOTALS
        |ORDER BY n DESC
        |LIMIT 0, 10
        |SETTINGS max_threads = 2
        |FORMAT JSON;""".stripMargin
    val e = intercept[Exception](spark.sql(sql).collect())
    assert(chain(e).contains("PARSE_SYNTAX_ERROR"))
    val rows = graft.plans.ChSqlRewriter.sql(spark, sql).collect()
    // per-type rows plus the NULL-key grand-total row (SAMPLE 1.0 keeps
    // every row, so totals n = sum of per-type n)
    assert(rows.length >= 3)
    val total = rows.filter(_.isNullAt(0))
    assert(total.length == 1, "exactly one totals row")
    assert(total.head.getLong(1) ==
      rows.filterNot(_.isNullAt(0)).map(_.getLong(1)).sum)
  }

  test("LIMIT n BY lowers to a PRE-EXCHANGE group-limit (TopKPerKey " +
    "heap when the graft strategy is installed, Spark's own " +
    "WindowGroupLimit partial+final otherwise) - never a bare " +
    "shuffle-everything Window") {
    val df = graft.plans.ChSqlRewriter.sql(spark,
      """SELECT event_type, user_id, count(*) AS n FROM events
        |GROUP BY event_type, user_id ORDER BY n DESC
        |LIMIT 3 BY event_type""".stripMargin)
    df.collect() // finalize the adaptive plan
    val phys = df.queryExecution.executedPlan.toString
    // the load-bearing property at 100 TB: per-key limiting happens on
    // the MAP side, before the event_type exchange - either operator
    // spelling proves it (q129's Bench-session fingerprint carries the
    // TopKPerKey pair; the stock session plans WindowGroupLimit
    // Partial -> Exchange -> Final)
    assert(phys.contains("TopKPerKey") ||
      (phys.contains("WindowGroupLimit") && phys.contains("Partial")),
      s"no pre-exchange group-limit in:\n$phys")
  }

  // ---- TRAP: parses but means something different — pinned ------------

  test("TRAP position(haystack, needle): Spark's argument order is " +
    "REVERSED (substr first) — same name, different answer") {
    // ClickHouse position('abcx', 'x') = 4; Spark reads 'abcx' as the
    // needle inside 'x' and returns 0. Never port position() calls
    // without swapping the arguments (or use locate/instr explicitly).
    val r = spark.sql("SELECT position('abcx', 'x') AS p").collect().head
    assert(r.getInt(0) == 0)
    assert(spark.sql("SELECT instr('abcx', 'x') AS p").collect()
      .head.getInt(0) == 4) // the correct port
  }

  test("TRAP FROM t FINAL: parses as a table ALIAS named 'final' — no " +
    "ReplacingMergeTree dedup happens") {
    // the full row count comes back (no version collapse); the port is
    // Cdc.compactChangelog / readSnapshot (q52)
    val n = spark.sql("SELECT count(*) AS n FROM events FINAL")
      .collect().head.getLong(0)
    val plain = spark.sql("SELECT count(*) AS n FROM events")
      .collect().head.getLong(0)
    assert(n == plain && n > 0)
  }

  test("TRAP unquoted dateDiff(DAY, a, b): Spark's ELAPSED-unit " +
    "timestampdiff, not ClickHouse's boundary crossing") {
    val r = spark.sql(
      """SELECT dateDiff(DAY, TIMESTAMP '2024-01-01 23:00:00',
        |  TIMESTAMP '2024-01-02 01:00:00') AS d""".stripMargin)
      .collect().head
    assert(r.getLong(0) == 0L) // CH would read 1 (midnight crossed)
  }

  test("TRAP length(s): characters here, BYTES in ClickHouse — " +
    "identical on ASCII, differs on multi-byte text") {
    val r = spark.sql("SELECT length('héllo') AS l").collect().head
    assert(r.getInt(0) == 5) // CH reads 6 (é is 2 bytes in UTF-8)
  }

  test("TRAP arr[i] subscript: ZERO-based here, ONE-based in ClickHouse " +
    "— same text, off-by-one values") {
    // CH ['a','b'][1] = 'a'; Spark reads the SECOND element. Port
    // subscripts as arrayElement(arr, i) (registered, 1-based, CH's
    // read) or shift the index.
    val r = spark.sql(
      "SELECT array('a', 'b')[1] AS sub, arrayElement(array('a', 'b'), 1)" +
        " AS ae").collect().head
    assert(r.getString(0) == "b") // CH would read 'a'
    assert(r.getString(1) == "a") // the correct port
  }

  test("TRAP round(x): HALF-UP here, BANKER'S (half-even) in ClickHouse " +
    "for floats — ties differ; roundBankers is the registered match") {
    val r = spark.sql(
      """SELECT round(2.5d) AS ru, roundBankers(2.5d) AS rb,
        |  roundBankers(3.5d) AS rb2,
        |  roundBankers(2.345d, 2) AS rbn""".stripMargin).collect().head
    assert(r.getDouble(0) == 3.0) // CH round(2.5) reads 2 (banker's)
    assert(r.getDouble(1) == 2.0) // the correct port (bround)
    assert(r.getDouble(2) == 4.0)
    assert(r.getDouble(3) == 2.34)
  }
}
