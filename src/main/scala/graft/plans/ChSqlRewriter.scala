package graft.plans

import scala.collection.mutable.ArrayBuffer

/** ClickHouse → Spark SQL dialect pre-rewriter (r16 verdict item 1).
  *
  * The r16 migrant smoke corpus (`MigrantSqlSpec`) measured 17 NAMED
  * clause-level gaps — ClickHouse grammar Spark's parser owns, where no
  * function registry can help (`SETTINGS`, `LIMIT n BY`, parametric
  * `f(params)(args)` aggregates, `SAMPLE`, bracketed array literals,
  * ...). This object closes the mechanical ones as a TOKEN-LEVEL text
  * pre-pass in front of `spark.sql` — deliberately NOT a parser fork:
  * each pass is a local rewrite over a lossless token stream, the
  * output is plain Spark SQL, and anything the passes don't recognize
  * flows through untouched (so valid Spark SQL is a fixed point except
  * for the CH-specific token patterns below, which are not valid Spark
  * SQL to begin with).
  *
  * Rewrites (dialect reference: the public ClickHouse SQL grammar the
  * reference's dashboards use, `migrations/sample_test.sql:1-19` being
  * exactly the toYYYYMM/status-rollup shapes):
  *
  *   - `SETTINGS k = v, ...` suffix — DROPPED (session confs are
  *     `SET key=value` in Spark; query-local settings have no
  *     equivalent). A trailing `FORMAT <name>` client suffix is
  *     likewise dropped.
  *   - `LIMIT offset, n` — `LIMIT n OFFSET offset` (Spark's grammar).
  *   - `GLOBAL JOIN` / `GLOBAL IN` / `GLOBAL NOT IN` — `GLOBAL`
  *     dropped (the planner owns distribution; broadcast-vs-shuffle is
  *     AQE's call, not the query author's). `ALL JOIN` drops the ALL
  *     (CH documents it ≡ the standard join); `ANY JOIN`
  *     (first-match-only) fails loudly — different row multiplicity.
  *   - `PREWHERE c` — `WHERE c`, merged as `WHERE (c) AND (w)` when a
  *     WHERE also exists (Spark pushes predicates to the scan — the
  *     optimization PREWHERE hand-states).
  *   - `count()` — `count(*)`.
  *   - `any(x)` / `anyHeavy(x)` — `any_value(x)` (Spark's `any` IS
  *     `bool_or`; CH's is "an arbitrary value" — same name, silently
  *     different, so the registry must not shadow it but a DIALECT
  *     pre-pass may).
  *   - `dateDiff('unit', a, b)` — `graft_date_diff('unit', a, b)`
  *     (boundary-crossing semantics; the quoted-unit CH spelling is a
  *     Spark parse error, and unquoted means ELAPSED — the pinned
  *     TRAP). Only the quoted-literal first argument form is touched.
  *   - parametric aggregates `f(params)(args)` — flattened onto the
  *     registered names: `quantileExact(0.9)(v)` →
  *     `quantileExact(v, 0.9)`, `topK(5)(x)` → `graft_topk(x, 5)`,
  *     `windowFunnel(w)(ts, conds...)` →
  *     `graft_window_funnel(w * 1000000, ts, ts, conds...)` (CH's
  *     window is seconds, the engine aggregate takes micros + an
  *     explicit (ts, id) tie order — ts doubles as the tiebreak, which
  *     CH leaves UNDEFINED, so any deterministic pick is a superset of
  *     the contract), `sequenceMatch(p)(ts, conds...)` →
  *     `graft_sequence_match(p, ts, ts, conds...)`,
  *     `largestTriangleThreeBuckets(n)(x, y)` → `(n, x, y)`,
  *     `histogram(n)(v)` → `graft_histogram(v, n)`,
  *     `uniqUpTo(n)(x)` → `graft_uniq_upto(x, n)`,
  *     `quantileExactWeighted(φ)(v, w)` →
  *     `graft_quantile_exact_weighted(v, w, φ)`,
  *     `topKWeighted(k)(x, w)` → `graft_topk_weighted(x, w, k)`,
  *     `meanZTest(vx, vy, conf)(x, y)` → `meanZTest(x, y, vx, vy)`
  *     (the confidence parameter drives CH's CI rendering — the
  *     registered aggregate documents it out).
  *   - `[e1, e2, ...]` array literals — `array(e1, e2, ...)`
  *     (subscripts `a[i]` are left alone: a `[` preceded by a value
  *     token is indexing, preceded by an operator/keyword/`(`/`,` is a
  *     literal).
  *   - `SAMPLE f` (fraction ≤ 1) — `TABLESAMPLE (f*100 PERCENT)`;
  *     `SAMPLE n` (integer > 1) — `TABLESAMPLE (n ROWS)`. DEVIATION:
  *     CH samples deterministically by the table's sampling key;
  *     Spark's TABLESAMPLE is a Bernoulli/row-count sample — same
  *     statistical read, different row identity. `SAMPLE k OFFSET m`
  *     is NOT taken (named error).
  *   - `[LEFT] ARRAY JOIN arr [AS alias]` —
  *     `LATERAL VIEW [OUTER] explode(arr) __graft_aj AS alias`
  *     (single-array form; the multi-array zip form is a named error).
  *   - `SELECT arrayJoin(x) AS t, agg(...) ... GROUP BY t` — explode in
  *     a subquery, aggregate outside (Spark's generator sits above the
  *     aggregate, so the alias is otherwise unresolved in GROUP BY).
  *   - `GROUP BY k1, ... WITH TOTALS` —
  *     `GROUP BY GROUPING SETS ((k1, ...), ())` — exactly the grand
  *     total, no intermediate subtotals. DEVIATION: the totals row
  *     carries NULL group keys (CH renders type defaults: 0 / '').
  *   - `ORDER BY ... LIMIT n BY k1, ... [LIMIT m]` — the row_number
  *     window rewrite (one PARTITION BY k ORDER BY <order> window ≤ n
  *     filter — plans onto one Exchange + Window, the same shape as
  *     the TopKPerKey operator's input). Top-level statements only;
  *     needs a derivable output-column list (see [[selectItemNames]]).
  *   - `ORDER BY axis WITH FILL [FROM a] [TO b] STEP s [LIMIT m]` — a
  *     sequence() axis FULL-OUTER-joined back to the query (the
  *     TimeSeries.resampleFill shape in pure SQL): fill rows add NULLs,
  *     off-grid / out-of-range source rows are KEPT (CH only ever ADDS
  *     rows), TO is EXCLUSIVE (CH's bound). STEP must be EXPLICIT
  *     (numeric or `INTERVAL n unit`): CH's default step is 1 SECOND
  *     for DateTime axes — a silent 86400× row blow-up on the daily
  *     series this clause is actually used for — so the no-STEP form
  *     stays a named error pointing here. DEVIATION: filled rows carry
  *     NULL in non-axis columns (CH renders type defaults), and the
  *     axis column leads the output schema.
  *
  *   - `l [AS] a [LEFT|INNER] ASOF JOIN r [AS] b ON a.k = b.k AND
  *     a.ts >= b.ts` (either keyword order, ≥1 equi key, EXACTLY one
  *     inequality among >=, >, <=, <) — lowered onto the q28
  *     union+running-window construction (`AsOfJoin.backward`'s shape
  *     in pure SQL): both sides tagged and unioned, one window
  *     partitioned by the equi keys ordered by (ts, side) carries the
  *     last right payload forward — ONE shuffle on the key, never the
  *     O(|L|·|R|) range-join intermediate. The join result exposes the
  *     two sides as STRUCT columns named by their aliases, so
  *     `a.x` / `b.y` references resolve unchanged; a bare top-level
  *     `SELECT *` is expanded to `a.*, b.*` (CH's flattened read).
  *     Unqualified outer references fail loudly (qualify them).
  *     `ASOF ... USING (k1, ..., ts)` lowers too — CH's contract: the
  *     LAST column is the >= inequality column (r18; the star stays
  *     unexpanded there, CH dedupes USING columns). Ties on
  *     (key, rightTs) are arbitrary — pre-dedup the right side for
  *     determinism (q28's rule). Right rows match inclusively/strictly
  *     per the operator.
  *   - `ANY [LEFT|INNER] JOIN` (either keyword order; bare `ANY JOIN`
  *     is CH's ANY INNER) — the right side is pre-aggregated to ONE
  *     row per join key (`min(struct(*))` — deterministic
  *     field-order-lexicographic first match, a refinement of CH's
  *     UNDEFINED "any" pick) and the join proceeds as a plain
  *     LEFT/INNER JOIN: row multiplicity now matches CH's modern ANY
  *     exactly. One keyed exchange of the right side with map-side
  *     partial min. `ANY RIGHT` stays a loud error (rare; mirror the
  *     construction by hand). NOTE on bare `ANY JOIN`: Spark would
  *     PARSE that text as a relation aliased `any` + a plain join —
  *     an ALL-matches silent multiplicity trap — so claiming CH's
  *     reading here is the safe direction for CH text (a Spark query
  *     genuinely aliasing a table `any` directly before JOIN is the
  *     one fixed-point exception, documented).
  *   - `WITH FILL ... INTERPOLATE (c)` (or `(c AS c)`) — CH's
  *     carry-previous-value fill for c on the FILL rows (source rows
  *     keep their values, NULL included, via a struct-wrapped running
  *     last). `INTERPOLATE (c AS linear)` — a documented graft
  *     EXTENSION (CH's iterated-expression INTERPOLATE cannot see the
  *     NEXT observation, so true linear interpolation is inexpressible
  *     there): linear between the bracketing observations, constant
  *     extension past the edges — `TimeSeries.resampleInterpolate`'s
  *     exact construction in SQL (c becomes DOUBLE). Any other
  *     `AS expr` is a named error (each fill row feeds the next in CH
  *     — recursive, not a window). Single column, derivable select
  *     names required; fill rows before the first observation stay
  *     NULL (CH renders type defaults — same documented deviation as
  *     the WITH FILL base rewrite). The interpolate form preserves the
  *     query's column order (no axis-first reordering).
  *
  * NOT rewritten (operator-shaped, not text-shaped — each has a named
  * error or a pinned TRAP in MigrantSqlSpec): `FROM t FINAL` (parses
  * as an alias; use `Cdc.readSnapshot`), `position(h, n)` argument
  * order, unquoted `dateDiff(DAY, ...)`, `length()` bytes-vs-chars.
  *
  * Scale note: every rewrite emits stock relational algebra — the
  * LIMIT BY window is one hash-partition exchange on the BY keys, the
  * WITH FILL axis is a two-row scalar-subquery broadcast + one join,
  * the ASOF lowering is one key exchange + one running window, the
  * ANY LEFT lowering one keyed partial-min exchange of the right side,
  * and everything else is expression-level. Nothing here changes the
  * 100 TB shuffle story of the plans it produces. (The INTERPOLATE
  * windows are global over the fill axis — bounded by the axis length,
  * the same class as the global ORDER BY the clause already implies.)
  */
object ChSqlRewriter {

  final class RewriteException(msg: String)
    extends IllegalArgumentException(msg)

  // ---- tokenizer -------------------------------------------------------

  /** kinds: ident, num, str (content WITHOUT quotes, unescaped), bq
    * (backquoted ident content), dq (double-quoted ident content),
    * punct (operators/parens/commas — one token each, multi-char ops
    * kept whole).
    */
  private[plans] final case class Tok(kind: String, text: String) {
    def is(k: String, t: String): Boolean =
      kind == k && (if (k == "ident") text.equalsIgnoreCase(t)
      else text == t)
    def kw(t: String): Boolean = is("ident", t)
    def p(t: String): Boolean = is("punct", t)
  }

  private[plans] def tokenize(sql: String): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = sql.length
    def peek(k: Int): Char = if (i + k < n) sql.charAt(i + k) else '\u0000'
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '-' && peek(1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && peek(1) == '*') {
        i += 2
        while (i + 1 < n && !(sql.charAt(i) == '*' && peek(1) == '/')) i += 1
        i = math.min(i + 2, n)
      } else if (c == '\'') {
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done && i < n) {
          val ch = sql.charAt(i)
          if (ch == '\\' && i + 1 < n) { sb.append(ch).append(peek(1)); i += 2 }
          else if (ch == '\'' && peek(1) == '\'') { sb.append("''"); i += 2 }
          else if (ch == '\'') { done = true; i += 1 }
          else { sb.append(ch); i += 1 }
        }
        if (!done) throw new RewriteException("unterminated string literal")
        out += Tok("str", sb.toString)
      } else if (c == '`' || c == '"') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        var done = false
        while (!done && i < n) {
          val ch = sql.charAt(i)
          if (ch == quote && peek(1) == quote) { sb.append(ch); i += 2 }
          else if (ch == quote) { done = true; i += 1 }
          else { sb.append(ch); i += 1 }
        }
        if (!done) throw new RewriteException("unterminated quoted identifier")
        out += Tok(if (quote == '`') "bq" else "dq", sb.toString)
      } else if (c.isDigit ||
          (c == '.' && peek(1).isDigit)) {
        val start = i
        while (i < n && (sql.charAt(i).isLetterOrDigit ||
          sql.charAt(i) == '.' ||
          ((sql.charAt(i) == '+' || sql.charAt(i) == '-') && i > start &&
            (sql.charAt(i - 1) == 'e' || sql.charAt(i - 1) == 'E')))) i += 1
        out += Tok("num", sql.substring(start, i))
      } else if (c.isLetter || c == '_' || c == '$') {
        val start = i
        while (i < n && (sql.charAt(i).isLetterOrDigit ||
          sql.charAt(i) == '_' || sql.charAt(i) == '$')) i += 1
        out += Tok("ident", sql.substring(start, i))
      } else {
        val two = if (i + 1 < n) sql.substring(i, i + 2) else ""
        if (Set("<=", ">=", "<>", "!=", "->", "||", "::").contains(two)) {
          out += Tok("punct", two); i += 2
        } else { out += Tok("punct", c.toString); i += 1 }
      }
    }
    out.toVector
  }

  private[plans] def render(toks: Seq[Tok]): String =
    toks.map {
      case Tok("str", t) => "'" + t + "'"
      case Tok("bq", t) => "`" + t + "`"
      case Tok("dq", t) => "`" + t + "`" // Spark: backquote identifiers
      case Tok(_, t) => t
    }.mkString(" ")

  /** index of the `)` matching the `(` at `open` (which must be a "("). */
  private def closeOf(toks: Vector[Tok], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      if (toks(i).p("(")) depth += 1
      else if (toks(i).p(")")) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    throw new RewriteException("unbalanced parentheses")
  }

  /** split `toks` at top-level (depth-0) commas. */
  private def splitTopLevel(toks: Vector[Tok]): Vector[Vector[Tok]] = {
    val out = ArrayBuffer.empty[Vector[Tok]]
    var depth = 0
    var start = 0
    toks.zipWithIndex.foreach { case (t, i) =>
      if (t.p("(") || t.p("[")) depth += 1
      else if (t.p(")") || t.p("]")) depth -= 1
      else if (t.p(",") && depth == 0) { out += toks.slice(start, i); start = i + 1 }
    }
    out += toks.slice(start, toks.length)
    out.toVector
  }

  // ---- simple token passes ---------------------------------------------

  /** drop a trailing `FORMAT <name>` (the CH client output-format
    * suffix — `FORMAT JSON`, `FORMAT TabSeparated` — pasted into
    * migrant SQL constantly; output format is the caller's concern
    * here). Only at the very end of the statement, only a bare
    * identifier: anything else flows through and fails loudly.
    */
  private def stripFormat(toks: Vector[Tok]): Vector[Tok] =
    if (toks.length >= 2 && toks(toks.length - 2).kw("FORMAT") &&
        toks.last.kind == "ident" &&
        !sqlKeywords.contains(toks.last.text.toUpperCase))
      toks.dropRight(2)
    else toks

  /** `LIMIT offset, n` (CH/MySQL form) → `LIMIT n OFFSET offset`
    * (Spark's grammar). `LIMIT n BY k` is handled by [[rewriteLimitBy]]
    * — this pass skips a LIMIT whose comma form is followed by BY.
    */
  private def rewriteLimitOffset(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      if (toks(i).kw("LIMIT") && i + 3 < toks.length &&
          toks(i + 1).kind == "num" && toks(i + 2).p(",") &&
          toks(i + 3).kind == "num" &&
          !(i + 4 < toks.length && toks(i + 4).kw("BY"))) {
        out ++= Seq(Tok("ident", "LIMIT"), toks(i + 3),
          Tok("ident", "OFFSET"), toks(i + 1))
        i += 4
      } else { out += toks(i); i += 1 }
    }
    out.toVector
  }

  /** drop `SETTINGS k = v[, k = v]*` (CH puts it at statement end;
    * consume exactly the k=v list so anything stranger fails loudly
    * downstream rather than being silently eaten).
    */
  private def stripSettings(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      if (toks(i).kw("SETTINGS") && i + 2 < toks.length &&
          toks(i + 1).kind == "ident" && toks(i + 2).p("=")) {
        i += 1
        var more = true
        while (more && i + 1 < toks.length && toks(i).kind == "ident" &&
            toks(i + 1).p("=")) {
          i += 2 // key =
          // value: optional sign + one literal/ident token
          if (i < toks.length && (toks(i).p("-") || toks(i).p("+"))) i += 1
          if (i < toks.length) i += 1
          if (i < toks.length && toks(i).p(",")) i += 1 else more = false
        }
      } else { out += toks(i); i += 1 }
    }
    out.toVector
  }

  private val afterGlobal = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL",
    "CROSS", "ANY", "ALL", "SEMI", "ANTI", "IN", "NOT")

  private def stripGlobal(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.filterNot { case (t, i) =>
      t.kw("GLOBAL") && i + 1 < toks.length &&
        toks(i + 1).kind == "ident" &&
        afterGlobal.contains(toks(i + 1).text.toUpperCase)
    }.map(_._1)

  private val joinish = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL")

  /** CH's `ALL [INNER|LEFT|...] JOIN` is documented ≡ the standard join
    * (ALL = keep every match, the default) — drop the ALL. `ANY JOIN`
    * (first-match-only) means something Spark's joins do NOT; it is
    * deliberately left to fail loudly (a dialect pass must never
    * silently change row multiplicity).
    */
  private def stripAllJoin(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.filterNot { case (t, i) =>
      t.kw("ALL") && i + 1 < toks.length &&
        toks(i + 1).kind == "ident" &&
        joinish.contains(toks(i + 1).text.toUpperCase) &&
        // not UNION ALL JOIN-less contexts: UNION ALL is followed by
        // SELECT, so this arm never matches it, but keep the guard
        // that ALL must not itself follow UNION
        !(i > 0 && toks(i - 1).kw("UNION"))
    }.map(_._1)

  /** PREWHERE → WHERE; when a WHERE exists at the same depth, merge to
    * `WHERE (p) AND (w)`.
    */
  private def rewritePrewhere(toks: Vector[Tok]): Vector[Tok] = {
    val i = toks.indexWhere(_.kw("PREWHERE"))
    if (i < 0) return toks
    var depth = 0
    toks.take(i).foreach { t =>
      if (t.p("(")) depth += 1 else if (t.p(")")) depth -= 1
    }
    val pDepth = depth
    // find a WHERE at the same depth after it
    var j = i + 1
    var d = pDepth
    var whereAt = -1
    while (j < toks.length && whereAt < 0 && d >= pDepth) {
      val t = toks(j)
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == pDepth && t.kw("WHERE")) whereAt = j
      else if (d == pDepth && t.kind == "ident" &&
        Set("GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "WINDOW")
          .contains(t.text.toUpperCase)) j = toks.length
      j += 1
    }
    val rewritten =
      if (whereAt < 0)
        toks.updated(i, Tok("ident", "WHERE"))
      else {
        // end of the WHERE predicate: next clause keyword at pDepth, or
        // the paren closing pDepth, or end of statement
        var k = whereAt + 1
        var dd = pDepth
        var end = toks.length
        while (k < toks.length && end == toks.length) {
          val t = toks(k)
          if (t.p("(")) dd += 1
          else if (t.p(")")) { dd -= 1; if (dd < pDepth) end = k }
          else if (dd == pDepth && t.kind == "ident" &&
            Set("GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "WINDOW",
              "SETTINGS").contains(t.text.toUpperCase)) end = k
          k += 1
        }
        val pre = toks.slice(i + 1, whereAt)
        val whr = toks.slice(whereAt + 1, end)
        toks.take(i) ++
          (Vector(Tok("ident", "WHERE"), Tok("punct", "(")) ++ pre ++
            Vector(Tok("punct", ")"), Tok("ident", "AND"),
              Tok("punct", "(")) ++ whr ++ Vector(Tok("punct", ")"))) ++
          toks.drop(end)
      }
    rewritePrewhere(rewritten) // more PREWHEREs (other subqueries)
  }

  private def rewriteCountEmpty(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      if (toks(i).kw("count") && i + 2 < toks.length && toks(i + 1).p("(") &&
          toks(i + 2).p(")")) {
        out ++= Seq(Tok("ident", "count"), Tok("punct", "("),
          Tok("punct", "*"), Tok("punct", ")"))
        i += 3
      } else { out += toks(i); i += 1 }
    }
    out.toVector
  }

  private def rewriteAny(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.map { case (t, i) =>
      if ((t.kw("any") || t.kw("anyHeavy")) && i + 1 < toks.length &&
          toks(i + 1).p("(")) Tok("ident", "any_value")
      else t
    }

  private def rewriteDateDiff(toks: Vector[Tok]): Vector[Tok] =
    toks.zipWithIndex.map { case (t, i) =>
      if ((t.kw("dateDiff") || t.kw("date_diff")) && i + 2 < toks.length &&
          toks(i + 1).p("(") && toks(i + 2).kind == "str")
        Tok("ident", "graft_date_diff")
      else t
    }

  // ---- parametric aggregates f(params)(args) ----------------------------

  /** name → (target, combine(params, args) => argument token groups). */
  private val parametric: Map[String, (String,
      (Vector[Vector[Tok]], Vector[Vector[Tok]]) => Vector[Vector[Tok]])] = {
    def append(ps: Vector[Vector[Tok]], as: Vector[Vector[Tok]]) = as ++ ps
    def prepend(ps: Vector[Vector[Tok]], as: Vector[Vector[Tok]]) = ps ++ as
    Map(
      "quantile" -> ("quantile", append _),
      "quantileexact" -> ("quantileExact", append _),
      "quantileexactinclusive" -> ("quantileExactInclusive", append _),
      "quantiletdigest" -> ("quantileTDigest", append _),
      "quantileexactweighted" -> ("graft_quantile_exact_weighted", append _),
      "topk" -> ("graft_topk", append _),
      "topkweighted" -> ("graft_topk_weighted", append _),
      "uniqupto" -> ("graft_uniq_upto", append _),
      "histogram" -> ("graft_histogram", append _),
      "largesttrianglethreebuckets" ->
        ("largestTriangleThreeBuckets", prepend _),
      "meanztest" -> ("meanZTest", (ps: Vector[Vector[Tok]],
          as: Vector[Vector[Tok]]) => as ++ ps.take(2)),
      "windowfunnel" -> ("graft_window_funnel", (ps: Vector[Vector[Tok]],
          as: Vector[Vector[Tok]]) => {
        if (ps.isEmpty || as.isEmpty)
          throw new RewriteException("windowFunnel(window)(ts, conds...)")
        // CH window is in ts units (seconds for DateTime) → micros,
        // folded HERE (the aggregate takes a literal); the ts column
        // doubles as the deterministic tiebreak id
        val w = ps.head match {
          case Vector(Tok("num", v)) =>
            Vector(Tok("num",
              math.round(v.toDouble * 1000000.0).toString))
          case other => throw new RewriteException(
            "windowFunnel window must be a numeric literal, got " +
              render(other))
        }
        Vector(w, as.head, as.head) ++ as.tail
      }),
      "sequencematch" -> ("graft_sequence_match", (ps: Vector[Vector[Tok]],
          as: Vector[Vector[Tok]]) => {
        if (ps.isEmpty || as.isEmpty)
          throw new RewriteException("sequenceMatch(pattern)(ts, conds...)")
        Vector(ps.head, as.head, as.head) ++ as.tail
      }))
  }

  private def rewriteParametric(toks: Vector[Tok]): Vector[Tok] = {
    var i = 0
    var cur = toks
    while (i < cur.length) {
      val t = cur(i)
      if (t.kind == "ident" &&
          parametric.contains(t.text.toLowerCase) &&
          i + 1 < cur.length && cur(i + 1).p("(")) {
        val pClose = closeOf(cur, i + 1)
        if (pClose + 1 < cur.length && cur(pClose + 1).p("(")) {
          val aClose = closeOf(cur, pClose + 1)
          val (target, combine) = parametric(t.text.toLowerCase)
          val params = splitTopLevel(cur.slice(i + 2, pClose))
          val args = splitTopLevel(cur.slice(pClose + 2, aClose))
          val groups = combine(params, args)
          val flat = Vector(Tok("ident", target), Tok("punct", "(")) ++
            groups.zipWithIndex.flatMap { case (g, gi) =>
              if (gi == 0) g else Tok("punct", ",") +: g
            } ++ Vector(Tok("punct", ")"))
          cur = cur.take(i) ++ flat ++ cur.drop(aClose + 1)
          // re-scan from i: nested parametrics inside args still pending
        } else i += 1
      } else i += 1
    }
    cur
  }

  // ---- bracketed array literals -----------------------------------------

  private val sqlKeywords = Set(
    "SELECT", "FROM", "WHERE", "AND", "OR", "NOT", "IN", "AS", "ON", "BY",
    "GROUP", "ORDER", "HAVING", "LIMIT", "JOIN", "INNER", "LEFT", "RIGHT",
    "FULL", "CROSS", "UNION", "ALL", "DISTINCT", "CASE", "WHEN", "THEN",
    "ELSE", "END", "LIKE", "BETWEEN", "IS", "NULL", "INTERVAL", "EXISTS",
    "ANY", "SOME", "WITH", "VALUES", "USING", "ASC", "DESC", "NULLS",
    "FIRST", "LAST", "OVER", "PARTITION", "ROWS", "RANGE", "CAST",
    "OFFSET", "ARRAY", "ELSEIF", "IF", "RETURN", "THEN", "SEMI", "ANTI")

  /** `[` is a subscript iff the previous token can END a value
    * (identifier-that-isn't-a-keyword, `)`, `]`, string, number);
    * otherwise it opens an array literal → `array(...)`.
    */
  private def rewriteArrayLiteral(toks: Vector[Tok]): Vector[Tok] = {
    // map each literal '[' and its matching ']' to array( / )
    val opens = ArrayBuffer.empty[Int] // stack of '[' indices
    val isLiteral = ArrayBuffer.fill(toks.length)(false)
    toks.zipWithIndex.foreach { case (t, i) =>
      if (t.p("[")) {
        val subscript = i > 0 && {
          val p = toks(i - 1)
          (p.kind == "ident" && !sqlKeywords.contains(p.text.toUpperCase)) ||
            p.kind == "bq" || p.kind == "dq" || p.kind == "str" ||
            p.kind == "num" || p.p(")") || p.p("]")
        }
        opens += i
        if (!subscript) isLiteral(i) = true
      } else if (t.p("]") && opens.nonEmpty) {
        val o = opens.remove(opens.length - 1)
        if (isLiteral(o)) isLiteral(i) = true
      }
    }
    toks.zipWithIndex.flatMap { case (t, i) =>
      if (t.p("[") && isLiteral(i))
        Vector(Tok("ident", "array"), Tok("punct", "("))
      else if (t.p("]") && isLiteral(i)) Vector(Tok("punct", ")"))
      else Vector(t)
    }
  }

  // ---- SAMPLE -----------------------------------------------------------

  private def rewriteSample(toks: Vector[Tok]): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    while (i < toks.length) {
      if (toks(i).kw("SAMPLE") && i + 1 < toks.length &&
          toks(i + 1).kind == "num" && i > 0 &&
          (toks(i - 1).kind == "ident" || toks(i - 1).kind == "bq" ||
            toks(i - 1).p(")"))) {
        if (i + 2 < toks.length && toks(i + 2).kw("OFFSET"))
          throw new RewriteException(
            "SAMPLE k OFFSET m has no TABLESAMPLE equivalent - use " +
              "Sampling.hashSplit for coordinated offsets")
        val k = toks(i + 1).text
        val frac = k.toDouble
        if (frac <= 1.0) {
          val pct = frac * 100.0
          val pctText =
            if (pct == math.rint(pct)) pct.toLong.toString else pct.toString
          out ++= Seq(Tok("ident", "TABLESAMPLE"), Tok("punct", "("),
            Tok("num", pctText), Tok("ident", "PERCENT"), Tok("punct", ")"))
        } else {
          out ++= Seq(Tok("ident", "TABLESAMPLE"), Tok("punct", "("),
            Tok("num", frac.toLong.toString), Tok("ident", "ROWS"),
            Tok("punct", ")"))
        }
        i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toVector
  }

  // ---- ARRAY JOIN -------------------------------------------------------

  private val clauseKw = Set("WHERE", "PREWHERE", "GROUP", "HAVING",
    "ORDER", "LIMIT", "SETTINGS", "UNION", "WINDOW", "INNER", "LEFT",
    "RIGHT", "FULL", "CROSS", "JOIN", "LATERAL")

  private def rewriteArrayJoin(toks: Vector[Tok]): Vector[Tok] = {
    // find [LEFT] ARRAY JOIN (ARRAY not preceded by a value token —
    // distinguishes from `arr ARRAY JOIN`? CH grammar: ARRAY JOIN is a
    // clause, LEFT ARRAY JOIN the outer form)
    var i = 0
    var cur = toks
    while (i < cur.length) {
      val isArrayJoin = cur(i).kw("ARRAY") && i + 1 < cur.length &&
        cur(i + 1).kw("JOIN")
      if (isArrayJoin) {
        val hasLeft = i > 0 && cur(i - 1).kw("LEFT")
        val start = if (hasLeft) i - 1 else i
        // expression: from after JOIN to AS/clause-keyword at this depth
        var j = i + 2
        var d = 0
        var asAt = -1
        var end = cur.length
        while (j < cur.length && end == cur.length && asAt < 0) {
          val t = cur(j)
          if (t.p("(")) d += 1
          else if (t.p(")")) { d -= 1; if (d < 0) end = j }
          else if (d == 0 && t.kw("AS")) asAt = j
          else if (d == 0 && t.kind == "ident" &&
            clauseKw.contains(t.text.toUpperCase)) end = j
          else if (d == 0 && t.p(",")) throw new RewriteException(
            "multi-array ARRAY JOIN (zip form) is not rewritten - " +
              "explode each array or use arrays_zip + LATERAL VIEW")
          j += 1
        }
        val (exprEnd, alias) =
          if (asAt >= 0) {
            if (asAt + 1 >= cur.length || cur(asAt + 1).kind != "ident")
              throw new RewriteException("ARRAY JOIN ... AS <alias> expected")
            (asAt, cur(asAt + 1).text)
          } else {
            // no alias: CH exposes the array under its own column name —
            // only a simple column reference supports that
            val expr = cur.slice(i + 2, end)
            if (expr.length == 1 && expr(0).kind == "ident")
              (end, expr(0).text)
            else throw new RewriteException(
              "ARRAY JOIN over an expression needs AS <alias>")
          }
        val expr = cur.slice(i + 2, exprEnd)
        val tail = if (asAt >= 0) cur.drop(asAt + 2) else cur.drop(exprEnd)
        if (tail.headOption.exists(_.p(","))) throw new RewriteException(
          "multi-array ARRAY JOIN (zip form) is not rewritten - " +
            "explode each array or use arrays_zip + LATERAL VIEW")
        val lv = Vector(Tok("ident", "LATERAL"), Tok("ident", "VIEW")) ++
          (if (hasLeft) Vector(Tok("ident", "OUTER")) else Vector.empty) ++
          Vector(Tok("ident", "explode"), Tok("punct", "(")) ++ expr ++
          Vector(Tok("punct", ")"), Tok("ident", "__graft_aj"),
            Tok("ident", "AS"), Tok("ident", alias))
        cur = cur.take(start) ++ lv ++ tail
        i = start + lv.length
      } else i += 1
    }
    cur
  }

  // ---- ASOF JOIN / ANY LEFT JOIN -----------------------------------------

  /** tokenize a trusted scaffolding fragment (never user text). */
  private def T(s: String): Vector[Tok] = tokenize(s)

  /** one relation reference: `ident [[AS] alias]` or `( ... ) [AS]
    * alias`. Returns (relation tokens WITHOUT the alias, alias token).
    * Must consume exactly [start, end) — anything else (chained joins,
    * comma lists, qualified `db.t` names) is a named error.
    */
  private def parseRef(toks: Vector[Tok], start: Int, end: Int,
      what: String): (Vector[Tok], Tok) = {
    def bad() = throw new RewriteException(
      s"$what: expected a single table reference or (subquery) [AS] " +
        s"alias, got '${render(toks.slice(start, end))}'")
    if (start >= end) bad()
    if (toks(start).p("(")) {
      val close = closeOf(toks, start)
      if (close >= end) bad()
      val rel = toks.slice(start, close + 1)
      var i = close + 1
      if (i < end && toks(i).kw("AS")) i += 1
      if (i >= end || (toks(i).kind != "ident" && toks(i).kind != "bq"))
        throw new RewriteException(s"$what: a subquery side needs an alias")
      val alias = toks(i)
      if (i + 1 != end) bad()
      (rel, alias)
    } else if (toks(start).kind == "ident" || toks(start).kind == "bq") {
      val rel = Vector(toks(start))
      var i = start + 1
      var alias = toks(start)
      if (i < end && toks(i).kw("AS")) {
        i += 1
        if (i >= end) bad()
      }
      if (i < end && (toks(i).kind == "ident" || toks(i).kind == "bq")) {
        alias = toks(i); i += 1
      }
      if (i != end) bad()
      (rel, alias)
    } else bad()
  }

  /** split on top-level AND. */
  private def splitAnd(toks: Vector[Tok]): Vector[Vector[Tok]] = {
    val out = ArrayBuffer.empty[Vector[Tok]]
    var depth = 0
    var start = 0
    toks.zipWithIndex.foreach { case (t, i) =>
      if (t.p("(")) depth += 1
      else if (t.p(")")) depth -= 1
      else if (depth == 0 && t.kw("AND")) {
        out += toks.slice(start, i); start = i + 1
      }
    }
    out += toks.slice(start, toks.length)
    out.toVector
  }

  /** strip redundant wrapping parens: `( x )` → `x`. */
  private def unwrap(toks: Vector[Tok]): Vector[Tok] =
    if (toks.length >= 2 && toks.head.p("(") &&
        closeOf(toks, 0) == toks.length - 1)
      unwrap(toks.slice(1, toks.length - 1))
    else toks

  private val asofCmp = Set("=", ">=", ">", "<=", "<")
  private val fromStopKw = Set("WHERE", "PREWHERE", "GROUP", "HAVING",
    "ORDER", "LIMIT", "SETTINGS", "UNION", "WINDOW", "FORMAT")
  private val chainJoinKw = Set("JOIN", "INNER", "LEFT", "RIGHT", "FULL",
    "CROSS", "LATERAL", "ASOF", "ANY", "SEMI", "ANTI")

  /** `l [AS] a [LEFT|INNER] ASOF JOIN r [AS] b ON equi... AND one
    * inequality` → the q28 union + running-window construction in pure
    * SQL. The two sides come back as STRUCT columns named `a` and `b`
    * (so qualified references resolve unchanged); a bare top-level
    * `SELECT *` is expanded to `a.*, b.*`. One shuffle on the equi
    * keys — the scale story of `AsOfJoin.backward`
    * (`AsOfJoin.scala:13-21`), never a theta-join.
    */
  private def rewriteAsofJoin(toks: Vector[Tok]): Vector[Tok] = {
    val i = toks.indexWhere(_.kw("ASOF"))
    if (i < 0) return toks
    // join type on either side of ASOF: ASOF [LEFT|INNER] JOIN or
    // [LEFT|INNER] ASOF JOIN (both CH spellings)
    var jt = "INNER"
    var joinStart = i
    var jEnd = -1
    if (i + 1 < toks.length && toks(i + 1).kw("JOIN")) jEnd = i + 2
    else if (i + 2 < toks.length && toks(i + 2).kw("JOIN") &&
        (toks(i + 1).kw("LEFT") || toks(i + 1).kw("INNER"))) {
      jt = toks(i + 1).text.toUpperCase; jEnd = i + 3
    } else if (i + 2 < toks.length && toks(i + 2).kw("JOIN") &&
        (toks(i + 1).kw("RIGHT") || toks(i + 1).kw("FULL")))
      throw new RewriteException(
        "ASOF JOIN supports INNER and LEFT only (ClickHouse's contract)")
    else throw new RewriteException(
      "ASOF must be followed by [LEFT|INNER] JOIN")
    if (i > 0 && jEnd == i + 2 &&
        (toks(i - 1).kw("LEFT") || toks(i - 1).kw("INNER"))) {
      jt = toks(i - 1).text.toUpperCase; joinStart = i - 1
    } else if (i > 0 && (toks(i - 1).kw("RIGHT") || toks(i - 1).kw("FULL")))
      throw new RewriteException(
        "ASOF JOIN supports INNER and LEFT only (ClickHouse's contract)")
    // depth at the join
    var depth = 0
    toks.take(joinStart).foreach { t =>
      if (t.p("(")) depth += 1 else if (t.p(")")) depth -= 1
    }
    val base = depth
    // the FROM owning the left side, scanning back at this depth
    var j = joinStart - 1
    var d = base
    var fromAt = -1
    while (j >= 0 && fromAt < 0) {
      val t = toks(j)
      if (t.p(")")) d += 1
      else if (t.p("(")) d -= 1
      else if (d == base && t.kw("FROM")) fromAt = j
      j -= 1
    }
    if (fromAt < 0) throw new RewriteException("ASOF JOIN without a FROM")
    val (lRel, la) = parseRef(toks, fromAt + 1, joinStart,
      "ASOF JOIN left side")
    // right side runs to the ON (or USING) at this depth
    j = jEnd; d = base
    var onAt = -1
    var usingAt = -1
    while (j < toks.length && onAt < 0 && usingAt < 0) {
      val t = toks(j)
      if (t.p("(")) d += 1
      else if (t.p(")")) {
        d -= 1
        if (d < base) throw new RewriteException("ASOF JOIN needs ON")
      } else if (d == base && t.kw("USING")) usingAt = j
      else if (d == base && t.kw("ON")) onAt = j
      j += 1
    }
    if (onAt < 0 && usingAt < 0)
      throw new RewriteException("ASOF JOIN needs ON or USING")
    val refEnd = if (onAt >= 0) onAt else usingAt
    val (rRel, ra) = parseRef(toks, jEnd, refEnd, "ASOF JOIN right side")
    var equi = Vector.empty[(Tok, Tok)] // (left col, right col)
    var ineq: Option[(Tok, Tok, String)] = None
    var end = toks.length
    if (usingAt >= 0) {
      // CH's ASOF USING form: the LAST column is the inequality column
      // with >= (backward-inclusive) semantics; the rest are equi keys
      // shared by name on both sides
      if (usingAt + 1 >= toks.length || !toks(usingAt + 1).p("("))
        throw new RewriteException("ASOF USING needs a column list")
      val close = closeOf(toks, usingAt + 1)
      val cols = splitTopLevel(toks.slice(usingAt + 2, close)).map { it =>
        if (it.length == 1 && (it(0).kind == "ident" || it(0).kind == "bq"))
          it(0)
        else throw new RewriteException(
          s"ASOF USING: plain column names only, got '${render(it)}'")
      }
      if (cols.length < 2) throw new RewriteException(
        "ASOF USING needs at least (key, ts) - the LAST column is the " +
          ">= inequality column (ClickHouse's contract)")
      equi = cols.dropRight(1).map(c => (c, c))
      ineq = Some((cols.last, cols.last, ">="))
      end = close + 1
    } else {
    // ON conjunction ends at the next clause keyword / closing paren;
    // a chained join around the ASOF pair is a named error (isolate it)
    j = onAt + 1; d = base
    while (j < toks.length && end == toks.length) {
      val t = toks(j)
      if (t.p("(")) d += 1
      else if (t.p(")")) { d -= 1; if (d < base) end = j }
      else if (d == base && t.kind == "ident" &&
        fromStopKw.contains(t.text.toUpperCase)) end = j
      else if (d == base && (t.p(",") || (t.kind == "ident" &&
        chainJoinKw.contains(t.text.toUpperCase))))
        throw new RewriteException(
          "chained joins around ASOF JOIN are not rewritten - isolate " +
            "the ASOF pair in a subquery")
      j += 1
    }
    // conjuncts: `alias.col OP alias.col`, ≥1 equi, exactly 1 inequality
    def qcol(v: Vector[Tok]): Option[(String, Tok)] = {
      val u = unwrap(v)
      if (u.length == 3 && u(0).kind == "ident" && u(1).p(".") &&
        (u(2).kind == "ident" || u(2).kind == "bq"))
        Some((u(0).text, u(2)))
      else None
    }
    splitAnd(toks.slice(onAt + 1, end)).map(unwrap).foreach { c =>
      var d2 = 0
      var opAt = -1
      c.zipWithIndex.foreach { case (t, k) =>
        if (t.p("(")) d2 += 1
        else if (t.p(")")) d2 -= 1
        else if (d2 == 0 && t.kind == "punct" && asofCmp.contains(t.text)) {
          if (opAt >= 0) throw new RewriteException(
            s"ASOF ON: one comparison per conjunct, got '${render(c)}'")
          opAt = k
        }
      }
      if (opAt < 0) throw new RewriteException(
        s"ASOF ON: unsupported condition '${render(c)}'")
      (qcol(c.take(opAt)), qcol(c.drop(opAt + 1))) match {
        case (Some((q1, c1)), Some((q2, c2))) =>
          val op0 = c(opAt).text
          val (lc, rc, op) =
            if (q1.equalsIgnoreCase(la.text) && q2.equalsIgnoreCase(ra.text))
              (c1, c2, op0)
            else if (q1.equalsIgnoreCase(ra.text) &&
              q2.equalsIgnoreCase(la.text))
              (c2, c1, op0 match {
                case ">=" => "<="; case "<=" => ">="
                case ">" => "<"; case "<" => ">"; case o => o
              })
            else throw new RewriteException(
              s"ASOF ON: qualify both sides with the join aliases " +
                s"(${la.text}, ${ra.text}): '${render(c)}'")
          if (op == "=") equi :+= ((lc, rc))
          else {
            if (ineq.isDefined) throw new RewriteException(
              "ASOF ON: exactly one inequality expected")
            ineq = Some((lc, rc, op))
          }
        case _ => throw new RewriteException(
          "ASOF ON: conditions must be '<alias>.<col> <op> " +
            s"<alias>.<col>', got '${render(c)}'")
      }
    }
    }
    if (equi.isEmpty) throw new RewriteException(
      "ASOF JOIN needs at least one equality key in ON")
    val (lts, rts, op) = ineq.getOrElse(throw new RewriteException(
      "ASOF JOIN needs exactly one inequality (>=, >, <=, <) in ON"))
    // >= / > match backward (greatest right ts before left ts): time
    // ascending. <= / < match forward: time descending. Inclusive ops
    // sort right rows first at equal ts (side 0 < 1) so the equal-ts
    // right row is visible to the running last; strict ops sort them
    // after (DESC) so it is not.
    val dirTs = if (op == ">=" || op == ">") "" else " DESC"
    val dirSide = if (op == ">=" || op == "<=") "" else " DESC"
    val keys = equi.indices.map(k => s"__graft_k$k")
    val sb = Vector.newBuilder[Tok]
    sb ++= T("( SELECT __graft_l AS")
    sb += la
    sb ++= T(", __graft_r AS")
    sb += ra
    sb ++= T("FROM ( SELECT __graft_side , __graft_l , " +
      "last ( __graft_r , true ) OVER ( PARTITION BY " +
      keys.mkString(" , ") +
      s" ORDER BY __graft_ts$dirTs , __graft_side$dirSide " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW ) AS __graft_r " +
      "FROM ( SELECT")
    equi.zipWithIndex.foreach { case ((lc, _), k) =>
      sb += la; sb += Tok("punct", "."); sb += lc
      sb ++= T(s"AS __graft_k$k ,")
    }
    sb += la; sb += Tok("punct", "."); sb += lts
    sb ++= T("AS __graft_ts , 1 AS __graft_side , " +
      "struct ( * ) AS __graft_l , NULL AS __graft_r FROM")
    sb ++= lRel
    sb ++= T("AS"); sb += la
    sb ++= T("UNION ALL SELECT")
    equi.foreach { case (_, rc) =>
      sb += ra; sb += Tok("punct", "."); sb += rc; sb += Tok("punct", ",")
    }
    sb += ra; sb += Tok("punct", "."); sb += rts
    sb ++= T(", 0 , NULL , struct ( * ) FROM")
    sb ++= rRel
    sb ++= T("AS"); sb += ra
    sb ++= T(") ) WHERE __graft_side = 1")
    if (jt == "INNER") sb ++= T("AND __graft_r IS NOT NULL")
    sb ++= T(")")
    var out = toks.take(fromAt + 1) ++ sb.result() ++ toks.drop(end)
    // a bare `SELECT *` directly over the lowered pair: the TOP-LEVEL
    // ON form expands to a.*, b.* (CH's flattened reading) below; every
    // OTHER bare star — the USING form (CH additionally DEDUPES the
    // shared columns, which this lowering cannot reproduce) and any
    // subquery-level star — is a NAMED ERROR (r18 ADVICE low fix:
    // previously those silently projected the two STRUCT columns, a
    // silent schema divergence in a module whose policy is loud errors)
    // find the owning SELECT (same depth, scanning back from the FROM),
    // then any top-level bare-star SELECT ITEM between it and the FROM —
    // `SELECT *`, `SELECT DISTINCT *`, `SELECT x, *` (r20 ADVICE fix:
    // the old detector required the star to sit IMMEDIATELY after
    // SELECT, so a modifier-prefixed star like DISTINCT * still slipped
    // through to the silent two-STRUCT projection). A select-item star
    // is a `*` at this depth whose previous token is
    // SELECT/DISTINCT/ALL/',' — a multiplication star is preceded by an
    // operand, a qualified star by '.'.
    var s2 = fromAt - 1
    var d2 = base
    var selAt = -1
    while (s2 >= 0 && selAt < 0) {
      val t = toks(s2)
      if (t.p(")")) d2 += 1
      else if (t.p("(")) d2 -= 1
      else if (d2 == base && t.kw("SELECT")) selAt = s2
      s2 -= 1
    }
    var bareStarAt = -1
    if (selAt >= 0) {
      var q = selAt + 1
      var dq = base
      while (q < fromAt) {
        val t = toks(q)
        if (t.p("(")) dq += 1
        else if (t.p(")")) dq -= 1
        else if (dq == base && t.p("*") && {
          val p = toks(q - 1)
          p.kw("SELECT") || p.kw("DISTINCT") || p.kw("ALL") || p.p(",")
        }) bareStarAt = q
        q += 1
      }
    }
    val bareStar = bareStarAt >= 0
    val expandable = bareStar && onAt >= 0 && base == 0 && fromAt == 2 &&
      bareStarAt == 1 && toks.headOption.exists(_.kw("SELECT"))
    if (bareStar && !expandable) throw new RewriteException(
      "SELECT * over a lowered ASOF JOIN " +
        (if (onAt < 0)
          "(USING form: ClickHouse dedupes the shared columns, which " +
            "this lowering cannot reproduce)"
        else "inside a subquery or behind a modifier (DISTINCT/ALL)") +
        s" - qualify ${la.text} . * / ${ra.text} . * or list the columns")
    if (base == 0 && onAt >= 0 && out.headOption.exists(_.kw("SELECT")) &&
        fromAt == 2 && out(1).p("*")) {
      out = Vector(out(0), la, Tok("punct", "."), Tok("punct", "*"),
        Tok("punct", ","), ra, Tok("punct", "."), Tok("punct", "*")) ++
        out.drop(2)
    }
    rewriteAsofJoin(out)
  }

  /** `l ANY [LEFT|INNER] JOIN r [AS] b ON equi.../USING (keys)` (either
    * keyword order; bare `ANY JOIN` is CH's ANY INNER) → the right side
    * pre-aggregated to ONE row per join key (`min(struct(*))` — the
    * deterministic field-order-lexicographic first match; CH leaves the
    * "any" pick UNDEFINED, so any deterministic choice refines the
    * contract) and a plain LEFT/INNER JOIN. Row multiplicity now
    * matches CH's modern ANY exactly (at most one right match per left
    * row; INNER additionally drops unmatched left rows). DEVIATION
    * (named): pre-19.x servers running the deprecated
    * `any_join_distinct_right_table_keys=1` legacy mode gave ANY INNER
    * different (both-side-dedup) semantics — this lowering is the
    * CURRENT documented contract. `ANY RIGHT` stays a loud parse error
    * downstream (rare; mirror the construction by hand if needed) —
    * multiplicity must never change silently.
    */
  private def rewriteAnyLeftJoin(toks: Vector[Tok]): Vector[Tok] = {
    var at = -1
    var jEnd = -1
    var jt = "LEFT"
    var k = 0
    while (k + 1 < toks.length && at < 0) {
      val threeKw = k + 2 < toks.length && toks(k + 2).kw("JOIN")
      if (threeKw &&
        ((toks(k).kw("ANY") && toks(k + 1).kw("LEFT")) ||
          (toks(k).kw("LEFT") && toks(k + 1).kw("ANY")))) {
        at = k; jEnd = k + 3; jt = "LEFT"
      } else if (threeKw &&
        ((toks(k).kw("ANY") && toks(k + 1).kw("INNER")) ||
          (toks(k).kw("INNER") && toks(k + 1).kw("ANY")))) {
        at = k; jEnd = k + 3; jt = "INNER"
      } else if (toks(k).kw("ANY") && toks(k + 1).kw("JOIN") &&
          // bare ANY JOIN = ANY INNER; but `RIGHT/FULL ANY JOIN` must
          // NOT fall into the bare arm (RIGHT stays loud, and the
          // LEFT/INNER spellings matched one token earlier)
          !(k > 0 && toks(k - 1).kind == "ident" &&
            Set("RIGHT", "FULL", "CROSS", "SEMI", "ANTI")
              .contains(toks(k - 1).text.toUpperCase))) {
        at = k; jEnd = k + 2; jt = "INNER"
      }
      k += 1
    }
    if (at < 0) return toks
    var depth = 0
    toks.take(at).foreach { t =>
      if (t.p("(")) depth += 1 else if (t.p(")")) depth -= 1
    }
    val base = depth
    // right ref ends at ON or USING at this depth
    var j = jEnd
    var d = base
    var onAt = -1
    var usingAt = -1
    while (j < toks.length && onAt < 0 && usingAt < 0) {
      val t = toks(j)
      if (t.p("(")) d += 1
      else if (t.p(")")) {
        d -= 1
        if (d < base) throw new RewriteException(
          "ANY LEFT JOIN needs ON or USING")
      } else if (d == base && t.kw("ON")) onAt = j
      else if (d == base && t.kw("USING")) usingAt = j
      j += 1
    }
    if (onAt < 0 && usingAt < 0) throw new RewriteException(
      "ANY LEFT JOIN needs ON or USING")
    val refEnd = if (onAt >= 0) onAt else usingAt
    val (rRel, ra) = parseRef(toks, jEnd, refEnd, "ANY LEFT JOIN right side")
    // join keys: the right-side columns of the equi conjuncts / the
    // USING list — they drive the pre-aggregate's GROUP BY
    val keyCols: Vector[Tok] =
      if (usingAt >= 0) {
        if (usingAt + 1 >= toks.length || !toks(usingAt + 1).p("("))
          throw new RewriteException("USING needs a column list")
        val close = closeOf(toks, usingAt + 1)
        splitTopLevel(toks.slice(usingAt + 2, close)).map { item =>
          if (item.length == 1 &&
            (item(0).kind == "ident" || item(0).kind == "bq")) item(0)
          else throw new RewriteException(
            s"USING: plain column names only, got '${render(item)}'")
        }
      } else {
        // conjunction ends at the next clause keyword / closing paren /
        // a chained join (which is fine for ANY - the ON stays in place)
        j = onAt + 1; d = base
        var end = toks.length
        while (j < toks.length && end == toks.length) {
          val t = toks(j)
          if (t.p("(")) d += 1
          else if (t.p(")")) { d -= 1; if (d < base) end = j }
          else if (d == base && ((t.kind == "ident" &&
            (fromStopKw.contains(t.text.toUpperCase) ||
              chainJoinKw.contains(t.text.toUpperCase))) || t.p(",")))
            end = j
          j += 1
        }
        splitAnd(toks.slice(onAt + 1, end)).map(unwrap).map { c =>
          var d2 = 0
          var eqAt = -1
          c.zipWithIndex.foreach { case (t, m) =>
            if (t.p("(")) d2 += 1
            else if (t.p(")")) d2 -= 1
            else if (d2 == 0 && t.p("=")) {
              if (eqAt >= 0) throw new RewriteException(
                s"ANY LEFT ON: one '=' per conjunct, got '${render(c)}'")
              eqAt = m
            }
          }
          if (eqAt < 0) throw new RewriteException(
            "ANY LEFT JOIN: equi conditions only (first-match over a " +
              s"non-equi match is not lowered), got '${render(c)}'")
          def rside(v: Vector[Tok]): Option[Tok] = {
            val u = unwrap(v)
            if (u.length == 3 && u(0).kind == "ident" &&
              u(0).text.equalsIgnoreCase(ra.text) && u(1).p(".") &&
              (u(2).kind == "ident" || u(2).kind == "bq")) Some(u(2))
            else None
          }
          def mentionsRa(v: Vector[Tok]): Boolean =
            v.zipWithIndex.exists { case (t, m) =>
              t.kind == "ident" && t.text.equalsIgnoreCase(ra.text) &&
                m + 1 < v.length && v(m + 1).p(".")
            }
          (rside(c.take(eqAt)), rside(c.drop(eqAt + 1))) match {
            case (Some(rc), None) if !mentionsRa(c.drop(eqAt + 1)) => rc
            case (None, Some(rc)) if !mentionsRa(c.take(eqAt)) => rc
            case _ => throw new RewriteException(
              "ANY LEFT ON: each conjunct needs exactly one side that " +
                s"is a plain '${ra.text}.<col>' reference, got " +
                s"'${render(c)}'")
          }
        }
      }
    val distinctKeys = keyCols.foldLeft(Vector.empty[Tok]) { (acc, t) =>
      if (acc.exists(_.text.equalsIgnoreCase(t.text))) acc else acc :+ t
    }
    val sb = Vector.newBuilder[Tok]
    sb ++= T((if (jt == "LEFT") "LEFT JOIN" else "JOIN") +
      " ( SELECT __graft_any . * FROM ( " +
      "SELECT min ( struct ( * ) ) AS __graft_any FROM")
    sb ++= rRel
    sb ++= T("GROUP BY")
    distinctKeys.zipWithIndex.foreach { case (t, m) =>
      if (m > 0) sb += Tok("punct", ",")
      sb += t
    }
    sb ++= T(") ) AS")
    sb += ra
    val out = toks.take(at) ++ sb.result() ++ toks.drop(refEnd)
    rewriteAnyLeftJoin(out)
  }

  // ---- select-list arrayJoin feeding GROUP BY ---------------------------

  /** CH allows `SELECT arrayJoin(x) AS t, count(*) FROM e GROUP BY t` —
    * Spark places the generator ABOVE the aggregate, so the alias is
    * unresolved in GROUP BY (the documented registry caveat). When a
    * top-level select has exactly ONE `arrayJoin(...) AS name` item and
    * the GROUP BY references the name, explode in a subquery and
    * aggregate outside — the exact manual rewrite the registry
    * docstring prescribes:
    * `SELECT name, ... FROM (SELECT *, arrayJoin(x) AS name FROM ...
    * [WHERE ...]) GROUP BY ...`. The FROM/WHERE section must not
    * reference the alias (CH's evaluate-aliases-anywhere would; named
    * error), and multiple arrayJoins (CH's cartesian form) are a named
    * error too.
    */
  private def rewriteSelectArrayJoin(toks: Vector[Tok]): Vector[Tok] = {
    if (!toks.headOption.exists(_.kw("SELECT"))) return toks
    var d = 0
    var fromAt = -1
    var groupAt = -1
    toks.zipWithIndex.foreach { case (t, i) =>
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && fromAt < 0 && t.kw("FROM")) fromAt = i
      else if (d == 0 && groupAt < 0 && t.kw("GROUP") &&
        i + 1 < toks.length && toks(i + 1).kw("BY")) groupAt = i
    }
    if (fromAt < 0 || groupAt < 0) return toks
    val items = splitTopLevel(toks.slice(1, fromAt))
    def isAj(item: Vector[Tok]): Boolean =
      item.length >= 5 && item(0).kw("arrayJoin") && item(1).p("(") &&
        item(item.length - 2).kw("AS") && item.last.kind == "ident" &&
        closeOf(item, 1) == item.length - 3
    val ajCount = items.count(isAj)
    if (ajCount == 0) return toks
    if (ajCount > 1) throw new RewriteException(
      "multiple select-list arrayJoin items (ClickHouse's cartesian " +
        "form) are not rewritten - chain selects, one explode each")
    val aj = items.find(isAj).get
    val name = aj.last.text
    // GROUP BY must actually reference the alias, else leave alone
    val groupTail = toks.drop(groupAt)
    if (!groupTail.exists(t => t.kind == "ident" &&
      t.text.equalsIgnoreCase(name))) return toks
    val fromSection = toks.slice(fromAt, groupAt)
    if (fromSection.exists(t => t.kind == "ident" &&
      t.text.equalsIgnoreCase(name))) throw new RewriteException(
      s"arrayJoin alias '$name' referenced in FROM/WHERE - ClickHouse " +
        "evaluates aliases anywhere; hoist the predicate to HAVING or " +
        "use the subquery form")
    def p(s: String): Tok = Tok("punct", s)
    def kw(s: String): Tok = Tok("ident", s)
    val outerItems = items.map { it =>
      if (isAj(it)) Vector(Tok("ident", name)) else it
    }
    val sb = Vector.newBuilder[Tok]
    sb += kw("SELECT")
    outerItems.zipWithIndex.foreach { case (it, i) =>
      if (i > 0) sb += p(",")
      sb ++= it
    }
    sb ++= Vector(kw("FROM"), p("("), kw("SELECT"), p("*"), p(","))
    sb ++= aj
    sb ++= fromSection
    sb += p(")")
    sb ++= groupTail
    sb.result()
  }

  // ---- WITH TOTALS ------------------------------------------------------

  private def rewriteWithTotals(toks: Vector[Tok]): Vector[Tok] = {
    var i = 0
    var cur = toks
    while (i + 1 < cur.length) {
      if (cur(i).kw("WITH") && cur(i + 1).kw("TOTALS")) {
        // scan back at this depth for GROUP BY
        var depth = 0
        cur.take(i).foreach { t =>
          if (t.p("(")) depth += 1 else if (t.p(")")) depth -= 1
        }
        val myDepth = depth
        var j = i - 1
        var d = myDepth
        var groupAt = -1
        while (j >= 0 && groupAt < 0) {
          val t = cur(j)
          if (t.p(")")) d += 1
          else if (t.p("(")) d -= 1
          else if (d == myDepth && t.kw("BY") && j > 0 &&
            cur(j - 1).kw("GROUP")) groupAt = j - 1
          j -= 1
        }
        if (groupAt < 0) throw new RewriteException(
          "WITH TOTALS without a GROUP BY clause")
        val keys = cur.slice(groupAt + 2, i)
        cur = cur.take(groupAt) ++
          Vector(Tok("ident", "GROUP"), Tok("ident", "BY"),
            Tok("ident", "GROUPING"), Tok("ident", "SETS"),
            Tok("punct", "("), Tok("punct", "(")) ++ keys ++
          Vector(Tok("punct", ")"), Tok("punct", ","), Tok("punct", "("),
            Tok("punct", ")"), Tok("punct", ")")) ++
          cur.drop(i + 2)
        i = groupAt
      } else i += 1
    }
    cur
  }

  // ---- LIMIT n BY -------------------------------------------------------

  /** output-column names of a select list (token groups between SELECT
    * and FROM): `expr AS name` → name; bare `col` → col; `a.b` → b;
    * `expr name` (implicit alias) → name. `*` or an unaliased
    * expression is a named error — the rewrite must project the
    * original schema back out over the window subquery.
    */
  private def selectItemNames(items: Vector[Vector[Tok]]): Vector[String] =
    items.map { item =>
      val asAt = {
        var d = 0
        var at = -1
        item.zipWithIndex.foreach { case (t, i) =>
          if (t.p("(") || t.p("[")) d += 1
          else if (t.p(")") || t.p("]")) d -= 1
          else if (d == 0 && t.kw("AS")) at = i
        }
        at
      }
      if (asAt >= 0 && asAt + 1 < item.length &&
        (item(asAt + 1).kind == "ident" || item(asAt + 1).kind == "bq"))
        item(asAt + 1).text
      else if (item.length == 1 && item(0).kind == "ident") item(0).text
      else if (item.length == 3 && item(1).p(".") &&
        item(2).kind == "ident") item(2).text
      else if (item.length >= 2 && item.last.kind == "ident" &&
        !sqlKeywords.contains(item.last.text.toUpperCase) &&
        (item(item.length - 2).p(")") || item(item.length - 2).p("]")))
        item.last.text
      else throw new RewriteException(
        s"LIMIT n BY: cannot derive an output name for select item " +
          s"'${render(item)}' - alias it (expr AS name) or use " +
          "TopKPerKey.topKPerKey directly")
    }

  /** `SELECT ... [ORDER BY o] LIMIT n BY k1,... [LIMIT m]` (top level)
    * → row_number window. Statement-level only by design: subquery
    * LIMIT BY stays a named parse error.
    */
  private def rewriteLimitBy(toks: Vector[Tok]): Vector[Tok] = {
    // find top-level LIMIT <num> BY
    var d = 0
    var at = -1
    toks.zipWithIndex.foreach { case (t, i) =>
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && at < 0 && t.kw("LIMIT") &&
        i + 2 < toks.length && toks(i + 1).kind == "num" &&
        toks(i + 2).kw("BY")) at = i
    }
    if (at < 0) return toks
    val n = toks(at + 1).text
    // BY list: to next top-level LIMIT or end
    var j = at + 3
    d = 0
    var byEnd = toks.length
    var trailingLimit = Vector.empty[Tok]
    while (j < toks.length && byEnd == toks.length) {
      val t = toks(j)
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && t.kw("LIMIT")) {
        byEnd = j
        trailingLimit = toks.drop(j)
      }
      j += 1
    }
    val byKeys = toks.slice(at + 3, byEnd)
    // ORDER BY clause at top level before the LIMIT
    var orderAt = -1
    d = 0
    toks.take(at).zipWithIndex.foreach { case (t, i) =>
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && t.kw("ORDER") && i + 1 < at &&
        toks(i + 1).kw("BY")) orderAt = i
    }
    val (body, orderClause) =
      if (orderAt >= 0) (toks.take(orderAt), toks.slice(orderAt + 2, at))
      else (toks.take(at), Vector.empty[Tok])
    // output names from the top-level select list
    if (!body.headOption.exists(_.kw("SELECT")))
      throw new RewriteException(
        "LIMIT n BY is rewritten for top-level SELECT statements only")
    var fromAt = -1
    d = 0
    body.zipWithIndex.foreach { case (t, i) =>
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && fromAt < 0 && t.kw("FROM")) fromAt = i
    }
    if (fromAt < 0) throw new RewriteException("LIMIT n BY needs a FROM")
    val names = selectItemNames(splitTopLevel(body.slice(1, fromAt)))
    val windowOrder =
      if (orderClause.nonEmpty) orderClause
      else byKeys // degenerate: CH picks "first n in read order"; pin a
    // deterministic order on the keys instead of block order
    val sb = Vector.newBuilder[Tok]
    def kw(s: String): Tok = Tok("ident", s)
    def p(s: String): Tok = Tok("punct", s)
    sb += kw("SELECT")
    names.zipWithIndex.foreach { case (nm, i) =>
      if (i > 0) sb += p(",")
      sb += Tok("ident", nm)
    }
    sb ++= Vector(kw("FROM"), p("("), kw("SELECT"), p("*"), p(","),
      kw("row_number"), p("("), p(")"), kw("OVER"), p("("),
      kw("PARTITION"), kw("BY"))
    sb ++= byKeys
    sb ++= Vector(kw("ORDER"), kw("BY"))
    sb ++= windowOrder
    sb ++= Vector(p(")"), kw("AS"), kw("__graft_limit_by"), kw("FROM"),
      p("("))
    sb ++= body
    sb ++= Vector(p(")"), p(")"), kw("WHERE"), kw("__graft_limit_by"),
      p("<="), Tok("num", n))
    if (orderClause.nonEmpty) {
      sb ++= Vector(kw("ORDER"), kw("BY"))
      sb ++= orderClause
    }
    sb ++= trailingLimit
    sb.result()
  }

  // ---- WITH FILL --------------------------------------------------------

  /** `... ORDER BY axis WITH FILL [FROM a] [TO b] STEP s [LIMIT m]`
    * (top level, single ORDER BY key, explicit STEP) → sequence() axis
    * FULL-OUTER-joined back to the query: fill rows add NULLs, and
    * existing rows OFF the fill grid (or outside [FROM, TO)) are KEPT —
    * CH's rule (WITH FILL only adds rows, never removes). TO is
    * EXCLUSIVE (CH's bound); FROM/TO default to the query's min/max.
    */
  private def rewriteWithFill(toks: Vector[Tok]): Vector[Tok] = {
    var d = 0
    var at = -1
    toks.zipWithIndex.foreach { case (t, i) =>
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && at < 0 && t.kw("WITH") && i + 1 < toks.length &&
        toks(i + 1).kw("FILL")) at = i
    }
    if (at < 0) return toks
    // the ORDER BY immediately before it
    var orderAt = -1
    d = 0
    toks.take(at).zipWithIndex.foreach { case (t, i) =>
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && t.kw("ORDER") && i + 1 < at &&
        toks(i + 1).kw("BY")) orderAt = i
    }
    if (orderAt < 0) throw new RewriteException(
      "WITH FILL without an ORDER BY clause")
    val axisToks = toks.slice(orderAt + 2, at)
    if (!(axisToks.length == 1 && axisToks(0).kind == "ident"))
      throw new RewriteException(
        "WITH FILL is rewritten for a single plain ORDER BY column - " +
          "use TimeSeries.resampleFill for anything richer")
    val axis = axisToks(0).text
    // optional FROM expr / TO expr, then the mandatory STEP expr; each
    // clause runs to the next clause keyword / top-level LIMIT / end.
    // INTERPOLATE (col [AS col|linear]) is parsed here too (CH puts it
    // after the fill modifiers, before LIMIT).
    var j = at + 2
    d = 0
    var trailing = Vector.empty[Tok]
    var fromExpr = Vector.empty[Tok]
    var toExpr = Vector.empty[Tok]
    var step = Vector.empty[Tok]
    var interpItems: Option[Vector[Vector[Tok]]] = None
    var curKw = ""
    var curStart = -1
    def closeClause(end: Int): Unit = if (curKw.nonEmpty) {
      val e = toks.slice(curStart, end)
      curKw match {
        case "FROM" => fromExpr = e
        case "TO" => toExpr = e
        case "STEP" => step = e
      }
    }
    var scanEnd = toks.length
    while (j < scanEnd) {
      val t = toks(j)
      if (t.p("(")) d += 1
      else if (t.p(")")) d -= 1
      else if (d == 0 && (t.kw("FROM") || t.kw("TO") || t.kw("STEP"))) {
        closeClause(j)
        curKw = t.text.toUpperCase
        curStart = j + 1
      } else if (d == 0 && t.kw("INTERPOLATE")) {
        closeClause(j)
        curKw = ""
        if (j + 1 >= toks.length || !toks(j + 1).p("("))
          throw new RewriteException(
            "INTERPOLATE without a column list is not rewritten - name " +
              "the column: INTERPOLATE (col) or INTERPOLATE (col AS linear)")
        val close = closeOf(toks, j + 1)
        interpItems = Some(splitTopLevel(toks.slice(j + 2, close)))
        j = close // skip the balanced (...) - depth unchanged
      } else if (d == 0 && t.kw("LIMIT")) {
        closeClause(j)
        curKw = ""
        trailing = toks.drop(j)
        scanEnd = j
      }
      j += 1
    }
    closeClause(scanEnd)
    if (trailing.exists(_.kw("INTERPOLATE"))) throw new RewriteException(
      "INTERPOLATE must precede LIMIT (ClickHouse's clause order)")
    // interpolation mode: (c) / (c AS c) = CH's carry-previous-value;
    // (c AS linear) = the graft linear extension (CH's INTERPOLATE
    // cannot see the NEXT observation, so true linear interpolation is
    // inexpressible there - this names TimeSeries.resampleInterpolate's
    // construction); any other expression is a named error because CH
    // evaluates it ITERATIVELY (each fill row feeds the next) - that is
    // a recursion, not a window.
    val interp: Option[(Tok, Boolean)] = interpItems.map { items =>
      if (items.length != 1) throw new RewriteException(
        "INTERPOLATE: exactly one column is rewritten - split the " +
          "query or use TimeSeries.resampleInterpolate")
      val it = items.head
      if (it.length == 1 && (it(0).kind == "ident" || it(0).kind == "bq"))
        (it(0), false)
      else if (it.length >= 3 && it(1).kw("AS") &&
          (it(0).kind == "ident" || it(0).kind == "bq")) {
        if (it.length == 3 && it(2).kind == "ident" &&
          it(2).text.equalsIgnoreCase(it(0).text)) (it(0), false)
        else if (it.length == 3 && it(2).kind == "ident" &&
          it(2).text.equalsIgnoreCase("linear")) (it(0), true)
        else throw new RewriteException(
          "INTERPOLATE (col AS expr): ClickHouse's iterated-expression " +
            "fill is not rewritten (each fill row feeds the next - a " +
            "recursion, not a window) - use INTERPOLATE (col) [carry " +
            "previous value], INTERPOLATE (col AS linear) [graft " +
            "extension: linear between brackets], or " +
            "TimeSeries.resampleInterpolate")
      } else throw new RewriteException(
        "INTERPOLATE: use INTERPOLATE (col) [carry previous value] or " +
          "INTERPOLATE (col AS linear) [graft extension], or " +
          "TimeSeries.resampleInterpolate")
    }
    interp.foreach { case (c, _) =>
      if (c.text.equalsIgnoreCase(axis)) throw new RewriteException(
        "INTERPOLATE over the fill axis itself is meaningless - the " +
          "axis is generated")
    }
    if (step.isEmpty)
      throw new RewriteException(
        "WITH FILL needs an EXPLICIT STEP here (ClickHouse's implicit " +
          "step is 1 SECOND for DateTime axes - a silent row blow-up); " +
          "add STEP n / STEP INTERVAL n unit, or use " +
          "TimeSeries.resampleFill")
    val body = toks.take(orderAt) // query without ORDER BY ... WITH FILL
    def kw(s: String): Tok = Tok("ident", s)
    def p(s: String): Tok = Tok("punct", s)
    // the interpolate forms need the query's output names (the fill
    // column is re-projected through the bracket windows)
    val names: Vector[String] = if (interp.isDefined) {
      if (!body.headOption.exists(_.kw("SELECT")))
        throw new RewriteException(
          "WITH FILL INTERPOLATE is rewritten for top-level SELECT " +
            "statements only")
      var fa = -1
      var dd = 0
      body.zipWithIndex.foreach { case (t, ix) =>
        if (t.p("(")) dd += 1
        else if (t.p(")")) dd -= 1
        else if (dd == 0 && fa < 0 && t.kw("FROM")) fa = ix
      }
      if (fa < 0) throw new RewriteException(
        "WITH FILL INTERPOLATE needs a FROM")
      selectItemNames(splitTopLevel(body.slice(1, fa)))
    } else Vector.empty
    interp.foreach { case (c, _) =>
      if (!names.exists(_.equalsIgnoreCase(c.text)))
        throw new RewriteException(
          s"INTERPOLATE column '${c.text}' is not an output column of " +
            "the SELECT")
      if (!names.exists(_.equalsIgnoreCase(axis)))
        throw new RewriteException(
          s"WITH FILL INTERPOLATE: the axis '$axis' must be an output " +
            "column of the SELECT")
    }
    def bound(expr: Vector[Tok], agg: String): Vector[Tok] =
      if (expr.nonEmpty) (p("(") +: expr) :+ p(")")
      else Vector(p("("), kw("SELECT"), kw(agg), p("("),
        Tok("ident", axis), p(")"), kw("FROM"), kw("__graft_src"), p(")"))
    val sb = Vector.newBuilder[Tok]
    sb ++= Vector(kw("WITH"), kw("__graft_src"), kw("AS"), p("("))
    if (interp.isDefined) {
      // tag source rows: INTERPOLATE touches FILL rows only (source
      // rows keep their own values, NULL included)
      sb ++= Vector(kw("SELECT"), p("*"), p(","), Tok("num", "1"),
        kw("AS"), kw("__graft_obs"), kw("FROM"), p("("))
      sb ++= body
      sb += p(")")
    } else sb ++= body
    sb ++= Vector(p(")"), p(","), kw("__graft_axis"), kw("AS"), p("("),
      kw("SELECT"), Tok("ident", axis), kw("FROM"), p("("),
      kw("SELECT"), kw("explode"), p("("), kw("sequence"), p("("))
    sb ++= bound(fromExpr, "min")
    sb += p(",")
    sb ++= bound(toExpr, "max")
    sb += p(",")
    sb ++= step
    sb ++= Vector(p(")"), p(")"), kw("AS"), Tok("ident", axis), p(")"))
    if (toExpr.nonEmpty) {
      // CH's TO bound is EXCLUSIVE: generate through TO, keep < TO
      sb ++= Vector(kw("WHERE"), Tok("ident", axis), p("<"), p("("))
      sb ++= toExpr
      sb += p(")")
    }
    // FULL OUTER: fill rows add NULLs, and source rows OFF the grid or
    // outside [FROM, TO) are KEPT - CH only ever ADDS rows
    sb += p(")")
    interp match {
      case None =>
        sb ++= Vector(
          kw("SELECT"), p("*"), kw("FROM"), kw("__graft_axis"),
          kw("FULL"), kw("OUTER"), kw("JOIN"), kw("__graft_src"),
          kw("USING"), p("("), Tok("ident", axis), p(")"),
          kw("ORDER"), kw("BY"), Tok("ident", axis))
      case Some((c, linear)) =>
        // bracket windows over the joined grid, then a named projection
        // that preserves the query's column order. Windows are GLOBAL
        // over the fill axis - bounded by the axis length, the same
        // class as the global ORDER BY this clause already implies.
        val runFrame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        def obsCase(inner: Vector[Tok]): Vector[Tok] =
          (T("CASE WHEN __graft_obs IS NOT NULL THEN") ++ inner) :+
            kw("END")
        def lastOver(inner: Vector[Tok], desc: Boolean,
            as: String): Vector[Tok] =
          T("last (") ++ inner ++ T(", true ) OVER ( ORDER BY") ++
            Vector(Tok("ident", axis)) ++
            (if (desc) T("DESC") else Vector.empty) ++
            T(runFrame + " ) AS " + as)
        val cDouble = T("CAST (") ++ Vector(c) ++ T("AS DOUBLE )")
        val axisDouble =
          T("CAST (") ++ Vector(Tok("ident", axis)) ++ T("AS DOUBLE )")
        // linear brackets bundle VALUE AND POSITION in one struct per
        // window (r19, the r18 ADVICE medium fix): the previous form
        // carried pv (last ignoreNulls over CASE WHEN obs THEN value)
        // and ph (same window over the axis) SEPARATELY, and an
        // observation whose value was NULL advanced ph but not pv — a
        // fill row after it interpolated a value from one observation
        // against a position from another, landing on no line between
        // actual observations. Bundled, the bracket comes from the last
        // (next) observation whose value is NON-NULL, so v and h always
        // name the same row; a NULL-valued observation simply does not
        // form a bracket. (Also 4 windows → 2.)
        def bracketStruct: Vector[Tok] =
          (T("CASE WHEN __graft_obs IS NOT NULL AND") ++ Vector(c) ++
            T("IS NOT NULL THEN named_struct ( 'v' ,") ++ cDouble ++
            T(", 'h' ,") ++ axisDouble ++ T(")")) :+ kw("END")
        val windowCols: Vector[Tok] =
          if (linear)
            (lastOver(bracketStruct, desc = false, "__graft_p") :+
              p(",")) ++
              lastOver(bracketStruct, desc = true, "__graft_n")
          else
            // struct-wrapped so an observed NULL is CARRIED as NULL
            // (CH repeats the previous VALUE, whatever it is) instead
            // of being skipped by ignoreNulls
            lastOver(obsCase(T("struct (") ++ Vector(c) ++ T(")")),
              desc = false, "__graft_pc")
        val fillExpr: Vector[Tok] =
          if (linear)
            T("CASE WHEN __graft_obs IS NOT NULL THEN") ++ cDouble ++
              T("WHEN __graft_p IS NOT NULL AND __graft_n IS NOT " +
                "NULL THEN __graft_p . v + ( __graft_n . v - " +
                "__graft_p . v ) * ( (") ++ axisDouble ++
              T("- __graft_p . h ) / ( __graft_n . h - __graft_p . h ) " +
                ") ELSE coalesce ( __graft_p . v , __graft_n . v ) END")
          else
            T("CASE WHEN __graft_obs IS NOT NULL THEN") ++ Vector(c) ++
              T("ELSE __graft_pc .") ++ Vector(c) ++ T("END")
        sb += kw("SELECT")
        names.zipWithIndex.foreach { case (nm, ix) =>
          if (ix > 0) sb += p(",")
          if (nm.equalsIgnoreCase(c.text)) {
            sb ++= fillExpr
            sb ++= Vector(kw("AS"), c)
          } else sb += Tok("ident", nm)
        }
        sb ++= Vector(kw("FROM"), p("("), kw("SELECT"), p("*"), p(","))
        sb ++= windowCols
        sb ++= Vector(kw("FROM"), kw("__graft_axis"),
          kw("FULL"), kw("OUTER"), kw("JOIN"), kw("__graft_src"),
          kw("USING"), p("("), Tok("ident", axis), p(")"), p(")"),
          kw("ORDER"), kw("BY"), Tok("ident", axis))
    }
    sb ++= trailing
    sb.result()
  }

  // ---- entry points ------------------------------------------------------

  /** Rewrite one ClickHouse-dialect statement to Spark SQL text. */
  def rewrite(sql: String): String = {
    var t = tokenize(sql)
    while (t.lastOption.exists(_.p(";"))) t = t.dropRight(1) // pasted text
    if (t.exists(_.p(";"))) throw new RewriteException(
      "one statement at a time (interior ';' found) - split the script " +
        "and call sql() per statement")
    t = stripSettings(t)
    t = stripFormat(t)
    t = rewriteLimitOffset(t)
    t = stripGlobal(t)
    t = stripAllJoin(t)
    t = rewriteAsofJoin(t)
    t = rewriteAnyLeftJoin(t)
    t = rewritePrewhere(t)
    t = rewriteCountEmpty(t)
    t = rewriteAny(t)
    t = rewriteDateDiff(t)
    t = rewriteParametric(t)
    t = rewriteArrayLiteral(t)
    t = rewriteSample(t)
    t = rewriteArrayJoin(t)
    t = rewriteSelectArrayJoin(t)
    t = rewriteWithTotals(t)
    t = rewriteLimitBy(t)
    t = rewriteWithFill(t)
    render(t)
  }

  /** The migrant front door: rewrite + run (the session needs
    * [[GraftExtensions.install]] for the ClickHouse function names).
    */
  def sql(spark: org.apache.spark.sql.SparkSession,
      text: String): org.apache.spark.sql.DataFrame =
    spark.sql(rewrite(text))
}
