package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token statistics,
  * quality signals, heuristic language ID, content fingerprinting.
  *
  * All per-row, map-only column expressions (codegen'd; zero shuffle): at
  * 100 TB these run at scan speed and pipeline into whatever filter or
  * aggregation follows.
  *
  * Determinism: ratio metrics are emitted in integer basis points
  * (`floor(10000·a/b)`) — integer outputs hash-match across engines with
  * no float-rounding edge cases.
  */
object TextAnalysis {

  /** BPE-ish token pattern: letter runs, digit runs, single other glyphs. */
  val TokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      size(wsTokens(col(textCol))).as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(TokenPattern), lit(0))).as("n_bpe_tokens"),
      size(array_distinct(wsTokens(lower(col(textCol))))).as("n_distinct_tokens"))

  /** Basis points (0..10000) of a/b, as a stable integer. */
  private def bp(a: Column, b: Column): Column =
    floor(lit(10000.0) * a / b).cast("int")

  /** Quality signals per document: length, alpha/digit/punct/space ratios,
    * stopword ratio, mean token length — the standard cheap filters for
    * web-scale corpora (C4-style heuristics).
    *
    * All six counters come from ONE pass over the UTF-8 bytes
    * ([[graft.functions.TextExprs.TextQualityStats]], codegen'd,
    * zero-allocation) — the composed regex form costs 4 allocating regex
    * passes + an interpreted stopword lambda and is kept in the spec as
    * the bit-identity reference ([[qualityScoreComposed]]). The stats
    * struct is fenced so CollapseProject can't re-evaluate the pass once
    * per derived column.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val stats = graft.functions.OptimizerFence(
      graft.functions.TextExprs.textQualityStats(col(textCol), EnStopwords))
    val s = col("__stats")
    val nChars = s.getField("n_chars")
    val nAlpha = s.getField("n_alpha")
    val nSpace = s.getField("n_space")
    val nDigit = s.getField("n_digit")
    val nToks = s.getField("n_toks")
    val stopHits = s.getField("stop_hits")
    val nPunct = nChars - nAlpha - nDigit - nSpace
    docs.withColumn("__stats", stats).select(
      col(idCol),
      nChars.as("n_chars"),
      bp(nAlpha, nChars).as("alpha_bp"),
      bp(nDigit, nChars).as("digit_bp"),
      bp(nPunct, nChars).as("punct_bp"),
      bp(stopHits, nToks).as("stopword_bp"),
      bp(nChars - nSpace, nToks).as("mean_token_len_bp"),
      // composite keep-score: alpha-heavy, some stopwords, sane token len
      (bp(nAlpha, nChars) + bp(stopHits, nToks) * 2).as("quality_score"))
  }

  /** The pre-kernel composition of [[qualityScore]] — retained as the
    * executable specification the kernel is pinned against (and as the
    * portable form for engines without the custom expression).
    */
  def qualityScoreComposed(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val nAlpha = nChars - length(regexp_replace(t, "[A-Za-z]", ""))
    val nDigit = nChars - length(regexp_replace(t, "[0-9]", ""))
    val nSpace = nChars - length(regexp_replace(t, "\\s", ""))
    val nPunct = nChars - nAlpha - nDigit - nSpace
    val toks = wsTokens(lower(t))
    val nToks = size(toks)
    val stopHits = size(filter(toks, w => w.isin(EnStopwords: _*)))
    docs.select(
      col(idCol),
      nChars.as("n_chars"),
      bp(nAlpha, nChars).as("alpha_bp"),
      bp(nDigit, nChars).as("digit_bp"),
      bp(nPunct, nChars).as("punct_bp"),
      bp(stopHits, nToks).as("stopword_bp"),
      bp(nChars - nSpace, nToks).as("mean_token_len_bp"),
      (bp(nAlpha, nChars) + bp(stopHits, nToks) * 2).as("quality_score"))
  }

  val EnStopwords = Seq("the", "and", "of", "to", "a", "in", "is", "that", "for", "it")
  val EsStopwords = Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una")
  val FrStopwords = Seq("le", "la", "les", "des", "et", "du", "que", "une", "dans", "est")
  val DeStopwords = Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein")

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, w => w.isin(words: _*)))

  /** Heuristic language ID: stopword-hit voting over {en, es, fr, de} with
    * a CJK-codepoint fast path; deterministic tie-break order en>es>fr>de.
    * (The classic n-gram-profile method reduced to its cheapest shippable
    * form; a real deployment swaps in fastText via the Multimodal stub
    * pattern.)
    */
  def langId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = wsTokens(lower(col(textCol)))
    val en = hitCount(toks, EnStopwords)
    val es = hitCount(toks, EsStopwords)
    val fr = hitCount(toks, FrStopwords)
    val de = hitCount(toks, DeStopwords)
    val hasCjk = length(regexp_replace(col(textCol), "[^\\u4e00-\\u9fff]", "")) > 0
    val best = greatest(en, es, fr, de)
    docs.select(
      col(idCol),
      when(hasCjk, "zh")
        .when(best === 0, "und")
        .when(en === best, "en")
        .when(es === best, "es")
        .when(fr === best, "fr")
        .otherwise("de").as("lang_pred"),
      en.as("hits_en"), es.as("hits_es"), fr.as("hits_fr"), de.as("hits_de"))
  }

  /** Content fingerprint: md5 over aggressively normalized text (lowercase,
    * strip non-alphanumerics to single spaces) — stable under punctuation
    * and whitespace edits; the key for fuzzy-exact dedup.
    */
  def fingerprint(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol),
      md5(trim(regexp_replace(regexp_replace(lower(col(textCol)), "[^a-z0-9]+", " "), "\\s+", " ")))
        .as("fingerprint"))

  /** Repetition signals per document — the Gopher-style repetitiousness
    * filters (Rae et al., "Scaling Language Models: Methods, Analysis &
    * Insights from Training Gopher", 2021, App. A1.1): how much of the
    * document is its own most frequent unigram / 2-gram / 3-gram, and how
    * diverse the vocabulary is. High top-n-gram fractions flag boilerplate
    * and degenerate repetition; fractions are occurrence-based and emitted
    * as integer basis points.
    *
    * Shape: one explode + two-level aggregate per n (partial counts
    * map-side combine, so each shuffle carries at most one (doc, gram)
    * row per map partition), joined back on the doc id — scale-safe.
    */
  def repetitionSignals(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // one per-row kernel call (fenced): token/distinct/top-gram counts are
    // per-document statistics, so NOTHING shuffles — the exploded
    // composition this replaces ([[repetitionSignalsComposed]], kept for
    // the equivalence spec) paid six shuffles of raw gram rows
    val stats = graft.functions.OptimizerFence(
      graft.functions.TextExprs.repetitionStats(Dedup.normalize(col(textCol))))
    val s = col("__rep")
    docs.withColumn("__rep", stats).select(
      col(idCol),
      s.getField("n_toks").as("n_toks"),
      bp(s.getField("top1"), s.getField("n_toks")).as("top1_bp"),
      bp(s.getField("top2"), greatest(s.getField("n_toks") - 1, lit(1))).as("top2_bp"),
      bp(s.getField("top3"), greatest(s.getField("n_toks") - 2, lit(1))).as("top3_bp"),
      bp(s.getField("n_distinct"), s.getField("n_toks")).as("distinct_bp"))
  }

  /** The pre-kernel composition of [[repetitionSignals]] — retained as the
    * readable reference implementation; `TextAnalysisSpec` pins the kernel
    * path bit-identical to it.
    */
  def repetitionSignalsComposed(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val withToks = docs.select(col(idCol).as("id"),
      graft.functions.OptimizerFence(
        split(Dedup.normalize(col(textCol)), " ")).as("toks"))
    def topCount(n: Int, alias: String): DataFrame =
      withToks.select(col("id"), explode(Dedup.shinglesFromToks(col("toks"), n)).as("g"))
        .groupBy(col("id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("id")).agg(max(col("c")).as(alias))
    val toks = col("toks")
    val base = withToks.select(col("id"),
      size(toks).as("n_toks"),
      size(array_distinct(toks)).as("n_distinct"))
    base
      .join(topCount(1, "top1"), "id")
      .join(topCount(2, "top2"), "id")
      .join(topCount(3, "top3"), "id")
      .select(col("id").as(idCol),
        col("n_toks"),
        bp(col("top1"), col("n_toks")).as("top1_bp"),
        bp(col("top2"), greatest(col("n_toks") - 1, lit(1))).as("top2_bp"),
        bp(col("top3"), greatest(col("n_toks") - 2, lit(1))).as("top3_bp"),
        bp(col("n_distinct"), col("n_toks")).as("distinct_bp"))
  }

  /** PII patterns for [[piiRedact]]: plain-ASCII regexes valid (and
    * identical in semantics) under both java.util.regex and RE2-family
    * engines — no lookarounds, no backrefs.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePattern = "\\b\\d{2,3}-\\d{3,4}-\\d{4}\\b"

  /** PII scrubbing: count then redact emails, phone numbers, and IPv4
    * addresses to typed placeholders. Map-only column expressions (three
    * regex passes per row, codegen'd) — redaction order is
    * email → phone → ip so a placeholder never partially re-matches a
    * later pattern. Counts are measured on the ORIGINAL text.
    */
  def piiRedact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")
    df.select(col(idCol),
      regexp_count(t, lit(EmailPattern)).cast("int").as("n_emails"),
      regexp_count(t, lit(PhonePattern)).cast("int").as("n_phones"),
      regexp_count(t, lit(Ipv4Pattern)).cast("int").as("n_ips"),
      redacted.as("redacted"))
  }

  /** Tracking-parameter names dropped by [[canonicalizeUrl]] — the
    * CommonCrawl/ad-tech set (utm_* campaign tags, click ids, bare ref).
    * Alternation of simple literals, engine-portable like the PII
    * patterns above.
    */
  val TrackingParamPattern: String =
    "^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)="

  /** URL canonicalization — the normalize-before-dedup step every
    * web-scrape pipeline runs ahead of exact/URL-level dedup (the same
    * page arrives as `HTTP://Site.com/a/?utm_source=x&b=1#top` and
    * `http://site.com/a?b=1`): drop the fragment, lowercase scheme and
    * host, strip explicit default ports (:80/:443), collapse repeated
    * trailing slashes (bare host → "/"), drop tracking parameters
    * ([[TrackingParamPattern]]) and empty pairs, SORT the surviving
    * query parameters, rejoin. Map-only column expressions (regex +
    * array HOFs, codegen'd, zero UDFs); every regex is the portable
    * subset (no lookarounds/backrefs) so the DuckDB oracle mirrors it
    * token-for-token.
    *
    * Contract: absolute `scheme://host...` URLs (the access-log /
    * crawl-frontier shape); pre-filter malformed rows — component
    * extraction on a URL with no scheme is not defined here.
    *
    * r19: the normalization runs as ONE codegen'd byte-scan kernel
    * ([[graft.functions.UrlKernels.canonicalize]]) instead of the ~7
    * regex passes + split/filter/sort HOF chain; the composition lives
    * on as [[canonicalizeUrlRef]] and `UrlKernelsSpec` pins the two
    * bit-identical (the t28/t29 oracle still mirrors the regex
    * semantics token-for-token).
    */
  def canonicalizeUrl(url: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.UrlKernels.CanonicalizeUrl(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(url)))

  /** The r15 regex/HOF composition [[canonicalizeUrl]]'s kernel must
    * match bit-for-bit — the spec's equivalence reference, never on the
    * hot path.
    */
  private[graft] def canonicalizeUrlRef(url: Column): Column = {
    val noFrag = regexp_replace(trim(url), "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    val host = regexp_replace(
      lower(regexp_extract(rest, "^([^/?]*)", 1)), ":(80|443)$", "")
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val rawPath = regexp_replace(
      regexp_extract(pathQ, "^([^?]*)", 1), "/+$", "")
    val path = when(rawPath === "", lit("/")).otherwise(rawPath)
    val query = regexp_extract(pathQ, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParamPattern))
    val q = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** Fill-in-the-middle (FIM) transformation — the infilling data prep of
    * Bavarian et al. 2022 ("Efficient Training of Language Models to Fill
    * in the Middle"): a deterministic fraction of documents is rewritten
    * from `prefix middle suffix` to the PSM order
    * `<PRE> prefix <SUF> suffix <MID> middle`, teaching the model to
    * infill; the rest pass through untouched. Production pipelines run
    * this over tokenized code/text corpora at full scale — it is strictly
    * map-only here (token split + two modular cuts + three slices, all
    * codegen'd; no UDF, no shuffle).
    *
    * Determinism contract (what lets d24-style SQL re-derivation
    * hash-match): the FIM gate is `doc_id % 2 = 0` (a 50% rate) and the
    * two cut points are `(doc_id · K) mod (n+1)` for two fixed odd
    * multipliers, sorted — pure integer arithmetic on the id, not RNG, so
    * the SAME document always gets the SAME split on every engine.
    * The id is pre-reduced mod (n+1) BEFORE multiplying (a ring
    * homomorphism, so the cut values are unchanged) — products then stay
    * < (n+1)·2^32, overflow-free by construction at any doc_id, where the
    * unreduced product would overflow 2^63 past doc_id ≈ 3.47·10⁹ (and
    * Spark wraps silently while DuckDB raises — a cross-engine
    * divergence);
    * documents shorter than `minToks` tokens pass through (an empty or
    * 1-token middle is fine — the paper's splits are uniform incl.
    * degenerate spans, but sub-minToks docs carry no useful infill
    * signal).
    *
    * Output: (doc_id, fim, n_toks, cut1, cut2, len_pre, len_mid, len_suf,
    * out_text) — span lengths always sum to n_toks (conservation is part
    * of the contract and the spec pins it).
    */
  def fimSplit(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", minToks: Int = 4): DataFrame = {
    val id = col(idCol)
    val toks = graft.functions.OptimizerFence(
      split(Dedup.normalize(col(textCol)), " "))
    val base = df.select(id.as("doc_id"), toks.as("toks"))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("fim",
        col("doc_id") % 2 === 0 && col("n_toks") >= minToks)
    val idRed = pmod(col("doc_id"), col("n_toks") + 1L)
    val h1 = pmod(idRed * lit(2654435761L), col("n_toks") + 1L)
    val h2 = pmod(idRed * lit(2246822519L), col("n_toks") + 1L)
    val cut = base
      .withColumn("cut1", when(col("fim"), least(h1, h2)).otherwise(0L))
      .withColumn("cut2", when(col("fim"), greatest(h1, h2))
        .otherwise(col("n_toks")))
    cut.select(col("doc_id"), col("fim"), col("n_toks"),
      col("cut1"), col("cut2"),
      col("cut1").as("len_pre"),
      (col("cut2") - col("cut1")).as("len_mid"),
      (col("n_toks") - col("cut2")).as("len_suf"),
      // plain concatenation, NOT concat_ws: Spark's concat_ws keeps empty
      // parts (double space on an empty span) while DuckDB's skips them —
      // `||` semantics are identical on both engines
      when(col("fim"), concat(
        lit("<PRE> "),
        array_join(slice(col("toks"), lit(1), col("cut1").cast("int")), " "),
        lit(" <SUF> "),
        array_join(slice(col("toks"), (col("cut2") + 1L).cast("int"),
          (col("n_toks") - col("cut2")).cast("int")), " "),
        lit(" <MID> "),
        array_join(slice(col("toks"), (col("cut1") + 1L).cast("int"),
          (col("cut2") - col("cut1")).cast("int")), " ")))
        .otherwise(array_join(col("toks"), " ")).as("out_text"))
  }

  /** Corpus vocabulary: top-k terms by total occurrences (tf) with
    * document frequency (df) — the corpus-statistics pass behind tokenizer
    * training, stopword induction, and IDF tables.
    *
    * One explode + a two-round aggregate (verified in the executed plan): the
    * mixed distinct/non-distinct aggregate plans Expand + partial hash
    * aggregate on (term, id) MAP-SIDE — the exploded token stream
    * compresses to per-partition (term, id) partials before anything
    * shuffles — then an exchange for the distinct dedup and one on term
    * for the rollup; both exchanges carry aggregated rows, never raw
    * tokens. Top-k plans as `TakeOrderedAndProject`; no global sort
    * materializes.
    */
  def vocabulary(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      topK: Int = 100): DataFrame =
    docs
      .select(col(idCol).as("id"),
        explode(split(Dedup.normalize(col(textCol)), " ")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), count_distinct(col("id")).as("df"))
      .orderBy(col("tf").desc, col("term")).limit(topK)

  /** Per-document top-k distinctive terms — the TF-IDF selection shape
    * with integer-exact ranking: terms appearing in more than
    * `dfNum/dfDen` of the corpus are dropped (the IDF cutoff; ubiquitous
    * terms carry no signal), survivors rank by in-document term frequency
    * with the term string as the deterministic tiebreak. Keeping the
    * ordering integral (tf, term) instead of a floating tf·ln(N/df) score
    * makes the result engine-portable bit-for-bit; a ranking by true
    * TF-IDF orders identically whenever df ties break by tf (and the
    * float score is one `log` call away for consumers who want it).
    *
    * Scale shape: ONE scan+explode feeds the (doc, term) tf aggregate
    * (map-side partial combine before its single exchange); df then falls
    * out of tf for free — a term's document frequency is its ROW COUNT in
    * tf, one row per (doc, term) — attached as a count window over term,
    * so the corpus is never re-read or re-exploded and no join or persist
    * is needed. Three key exchanges total ((doc,term) → term → doc), all
    * over aggregated rows, never raw tokens. The final per-doc top-k is
    * the `filter(row_number ≤ k)` window shape the custom heap top-k
    * operator ([[graft.plans.TopKPerKey]]) rewrites to map-side thinning.
    */
  def topTerms(docs: DataFrame, k: Int = 5, dfNum: Int = 1, dfDen: Int = 5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val n = docs.count() // one cheap driver-side scalar: the corpus size
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(Dedup.normalize(col(textCol)), " ")).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wTerm))
      .where(col("df") * dfDen <= lit(n) * dfNum)
      .withColumn("rn", row_number().over(wDoc))
      .where(col("rn") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rn"))
  }

  /** C4-style heuristic document filter — rule composition per Raffel et
    * al., "Exploring the Limits of Transfer Learning with a Unified
    * Text-to-Text Transformer" (JMLR 2020, §2.2) and the Gopher rules
    * (Rae et al. 2021, App. A): drop too-short docs, implausible mean
    * word lengths, docs without English stopword evidence, boilerplate
    * markers (`lorem ipsum`, code braces). Emits each rule verdict plus
    * the composite `keep` — map-only (one codegen'd stats kernel pass +
    * two substring probes per row), so the filter runs at scan speed at
    * any corpus size.
    */
  def c4Filters(docs: DataFrame, minToks: Int = 15,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val stats = graft.functions.OptimizerFence(
      graft.functions.TextExprs.textQualityStats(col(textCol), EnStopwords))
    val s = col("__stats")
    val nChars = s.getField("n_chars")
    val nSpace = s.getField("n_space")
    val nToks = s.getField("n_toks")
    val stopHits = s.getField("stop_hits")
    // mean token length in basis points: chars-per-token × 10000
    val meanLenBp = bp(nChars - nSpace, nToks)
    val lowText = lower(col(textCol))
    docs.withColumn("__stats", stats).select(
      col(idCol),
      nToks.as("n_toks"),
      (nToks < minToks).as("r_short"),
      (meanLenBp < 30000 || meanLenBp > 100000).as("r_word_len"),
      (stopHits < 2).as("r_no_stopwords"),
      lowText.contains("lorem ipsum").as("r_lorem"),
      lowText.contains("{").as("r_brace"))
      .withColumn("keep",
        !col("r_short") && !col("r_word_len") && !col("r_no_stopwords") &&
          !col("r_lorem") && !col("r_brace"))
  }

  /** Winnowing fingerprints — Schleimer, Wilkerson, Aiken, "Winnowing:
    * local algorithms for document fingerprinting" (SIGMOD 2003), the MOSS
    * scheme: hash every word k-gram in
    * document order, slide a window of `w` consecutive hashes, keep each
    * window's minimum, emit the distinct selected hashes as (id, fp) rows.
    * Guarantees: any shared run of ≥ w+k-1 tokens between two documents
    * shares a fingerprint — the local-match detector exact dedup and
    * whole-doc MinHash both miss.
    *
    * Shapes: shingle extraction is posexplode (ordered positions), the
    * hash is md5-derived (cross-engine reproducible, codegen'd on the
    * exploded column), the window minimum is a running frame per doc —
    * one shuffle on the doc id. Docs with fewer than w shingles yield the
    * minimum of what exists (one partial window).
    */
  def winnowing(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
    val shingled = docs
      .select(col(idCol).as("id"),
        graft.functions.OptimizerFence(
          split(Dedup.normalize(col(textCol)), " ")).as("toks"))
      .select(col("id"), posexplode(Dedup.shinglesFromToks(col("toks"), k)))
      .toDF("id", "pos", "shingle")
      .select(col("id"), col("pos"),
        conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h"))
    shingled
      .withColumn("wmin", min(col("h")).over(win.rowsBetween(0, w - 1)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .where(col("pos") <= greatest(col("n") - w, lit(0)))
      .select(col("id").as(idCol), col("wmin").as("fp"))
      .distinct()
  }

  /** Keyword retrieval: top-k documents for a fixed term set under a
    * BM25-SHAPED score (Robertson et al., TREC-3 Okapi) — the lookup
    * primitive behind curation workflows (pull every doc matching a
    * benchmark's keywords, audit what a dedup pass kept, seed a
    * decontamination review).
    *
    * DELIBERATE DEVIATION (the q51 rationale): classic BM25 weighs each
    * term by idf = ln((N - df + 0.5)/(df + 0.5)). `ln` is a libm
    * transcendental whose last bit is unspecified by IEEE 754 and varies
    * across engines, so this score uses the RAW RATIO (monotone under ln,
    * so per-term document ordering is preserved; the cross-term mixture
    * differs from log-BM25 and favors rare terms more strongly).
    * Per-term contributions are floored to integer ten-thousandths and
    * summed as integers — addition order can't perturb the result, and
    * the whole score is engine-exact: +, *, / on doubles are correctly
    * rounded, int→double conversion is exact, floor is exact.
    *
    * score(d) = Σ_t floor(10000 · (N-df_t+0.5)/(df_t+0.5)
    *                      · tf(k1+1) / (tf + k1(1-b+b·dl/avgdl)))
    * with k1 = 1.2, b = 0.75 (the standard Okapi constants).
    *
    * Scale shape: two map-only passes over the corpus, nothing else. Pass
    * 1 computes each doc's (dl, tf per term) from the in-row token array
    * (no explode — the term list is a handful of literals) and reduces to
    * ONE stats row (N, Σdl, df per term) via map-side partial combine;
    * pass 2 re-derives the same tiny projection and scores each row
    * against the driver-computed constant weights, feeding a global
    * TakeOrderedAndProject (heap top-k, no sort). The (doc, dl, tf…)
    * projection is cheap enough to compute twice that persisting it would
    * cost more than it saves; corpus text never shuffles either pass.
    */
  def keywordSearch(docs: DataFrame, terms: Seq[String], topK: Int = 10,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty && terms.size <= 32, "keywordSearch: 1..32 terms")
    val toks = graft.functions.OptimizerFence(
      split(Dedup.normalize(col(textCol)), " "))
    def proj = docs.withColumn("__toks", toks).select(
      col(idCol).as("doc_id") +: size(col("__toks")).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("__toks"), x => x === lit(t))).as(s"tf$i")
        }: _*)
    val aggCols = count(lit(1)).as("n") +: sum(col("dl")).as("sdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = proj.agg(aggCols.head, aggCols.tail: _*).head()
    val n = stats.getLong(0)
    // empty corpus: sum(dl) is NULL and avgdl would be 0/0 — the natural
    // result is an empty top-k, typed like the real one
    if (n == 0) return proj.select(col("doc_id"), lit(0L).as("score")).limit(0)
    val avgdl = stats.getLong(1).toDouble / n.toDouble
    val score = terms.indices.map { i =>
      val df = stats.getLong(2 + i)
      val w = (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5)
      floor((lit(10000.0) * lit(w)) * ((col(s"tf$i") * lit(2.2)) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) *
          (col("dl").cast("double") / lit(avgdl)))))).cast("long")
    }.reduce(_ + _)
    proj.select(col("doc_id"), score.as("score"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** Bigram-LM surprisal score with Stupid Backoff — rarityScore's (t13)
    * integer-exact construction lifted to a CONDITIONAL model, the next
    * step toward CCNet's n-gram-LM perplexity filter (Wenzek et al., LREC
    * 2020; backoff scheme from Brants et al., "Large Language Models in
    * Machine Translation", EMNLP 2007 — "Stupid Backoff": score a seen
    * bigram by its conditional frequency, an unseen one by the backoff
    * weight times the unigram frequency, no discounting). Per bigram
    * (w1, w2) the score is the INVERSE conditional probability,
    * quantized e4 and kept in BIGINT throughout (no libm — the t13/q51
    * cross-engine-exactness rationale):
    *
    *   seen  (corpus count c2 ≥ minCount):  (10000·c1(w1)) div c2(w1,w2)
    *   unseen, w2 in vocab:   10 · ((10000·N) div c1(w2))
    *   unseen, w2 OOV:        10 · ((10000·N) div minCount)
    *
    * The ×10 is Stupid Backoff's α in inverse space (α = 0.1 — harsher
    * than Brants' 0.4, chosen to keep the factor integral); the OOV
    * default is t13's minCount floor. Output per doc: bigram count `nb`,
    * summed inverse probability `surp_sum_e4`, integer mean
    * `surp_mean_e4` (0 for docs with fewer than two tokens — no bigrams
    * to score; callers treat them as unscoreable, as CCNet does with
    * too-short lines).
    *
    * Scale shape (t13's, with a second model): both models aggregate
    * map-side and are minCount-pruned — Zipf-bounded when minCount
    * scales with the corpus, so both broadcast; the exploded bigram
    * stream joins map-side and its per-doc sums combine map-side,
    * leaving one exchange of a row per doc. Corpus text never shuffles —
    * and since r20 the bigram COUNT exchange carries 64-bit pair hashes
    * instead of string pairs (see [[bigramModel]]).
    */
  def bigramSurprisal(docs: DataFrame, minCount: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    scoreBigramSurprisal(docs, bigramModel(docs, minCount, textCol),
      textCol, idCol)

  /** The trained half of [[bigramSurprisal]], reusable across corpora and
    * micro-batches: the pruned conditional table, the pruned vocabulary
    * backoff table, the per-gram knobs, and the OOV floor `oovE4`
    * (`10·((10000·N) div minCount)`, N = training token count). The floor
    * is its OWN scalar, not a column of the pruned uni table: with a
    * minCount above every unigram count, uni prunes EMPTY while the
    * corpus is not — a floor read off uni would silently collapse to 0
    * there, diverging from the documented formula (and the t15/p05
    * oracles, which derive it from n_tok by scalar subquery regardless).
    * Both tables are minCount-pruned (Zipf-small) and broadcast at
    * scoring time. Train on a REFERENCE corpus once, then score anything
    * — including a stream, one micro-batch at a time
    * ([[graft.streaming.StatefulOps]]).
    */
  final case class BigramModel(model: DataFrame, uni: DataFrame,
      minCount: Long, oovE4: Long)

  private def tokArray(textCol: String) = graft.functions.OptimizerFence(
    split(Dedup.normalize(col(textCol)), " "))

  private def bigramsOf(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  def bigramModel(docs: DataFrame, minCount: Long,
      textCol: String = "text"): BigramModel = {
    require(minCount >= 1, s"bigramModel: minCount must be ≥ 1, got $minCount")
    val base = docs.select(lit(0L).as("doc_id"), tokArray(textCol).as("toks"))
    val c1 = base.select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum(col("c1")).as("n_tok"))
    // (w1, w2) count + prune — r20 (guide §2.3/§8 "shuffle keys, not
    // payloads"): the count exchange used to carry BOTH STRINGS for every
    // distinct bigram per map partition — the dominant train-side shuffle
    // at corpus scale (the bigram tail is Zipf-unbounded). Now the
    // count+prune aggregation runs on a 64-bit xxhash64 pair key (16
    // bytes/row through the exchange), and the strings are re-attached by
    // re-counting ONLY the hash-surviving candidates:
    //   - no false negatives: count(hash) ≥ count(pair), so every pair
    //     with c2 ≥ minCount passes the hash prune;
    //   - no false positives in the OUTPUT: the second, string-keyed
    //     count over the (Zipf-head-small, broadcast) candidate set
    //     re-applies c2 ≥ minCount exactly, so a hash collision costs a
    //     few extra candidate rows, never a wrong count —
    // the model is provably identical and NO hash is mirrored in the
    // oracle. Cost: one extra tokenize pass over the corpus (map-only,
    // rides the scan — the §8 trade: move an extra cheap pass to shrink
    // the expensive exchange). minCount = 1 keeps the direct string
    // aggregation: the prune keeps everything, so the prefilter would
    // broadcast the full pair-hash domain for nothing.
    val pairCounts =
      if (minCount <= 1)
        bigramsOf(base).groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2"))
      else {
        val hk = xxhash64(col("w1"), col("w2"))
        val headKeys = bigramsOf(base).select(hk.as("hk"))
          .groupBy(col("hk")).agg(count(lit(1)).as("hc"))
          .where(col("hc") >= minCount)
          .select(col("hk"))
        bigramsOf(base)
          .join(broadcast(headKeys), hk === col("hk"), "left_semi")
          .groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2"))
      }
    // broadcast the pruned pair side into the c1 join: c1 (the full,
    // unpruned vocabulary — corpus-scale-bounded only by Zipf's long
    // tail) streams map-side and never re-shuffles for this join
    val model = c1.withColumnRenamed("term", "w1")
      .join(broadcast(pairCounts.where(col("c2") >= minCount)), Seq("w1"))
      .select(col("w1"), col("w2"), expr("(10000 * c1) div c2").as("r"))
    val uni = c1.where(col("c1") >= minCount)
      .crossJoin(tot)
      .select(col("term").as("w2"), expr("10 * ((10000 * n_tok) div c1)").as("rb"))
    // 1-row train-time pull (the same cost class as the old score-time
    // limit(1), paid once per MODEL instead of once per scoring call);
    // empty training corpus → N = 0 → floor 0, every gram scored 0
    val nTok = tot.collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).getOrElse(0L)
    BigramModel(model, uni, minCount, 10L * ((10000L * nTok) / minCount))
  }

  /** The scoring half of [[bigramSurprisal]]: every bigram of `docs`
    * scored against a (possibly foreign-corpus) model. The OOV default is
    * the model's train-time [[BigramModel.oovE4]] scalar (the model owns
    * its smoothing), so the scoring plan is pure broadcast joins — no
    * driver pull per call, and the floor survives a vocabulary that
    * prunes empty.
    */
  def scoreBigramSurprisal(docs: DataFrame, m: BigramModel,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), tokArray(textCol).as("toks"))
    val scored = bigramsOf(base)
      .join(broadcast(m.model), Seq("w1", "w2"), "left")
      .join(broadcast(m.uni.select(col("w2"), col("rb"))), Seq("w2"), "left")
      .select(col("doc_id"),
        coalesce(col("r"), col("rb"), lit(m.oovE4)).as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("r")).as("surp_sum_e4"))
    // docs with < 2 tokens produce no bigram rows — restore them as
    // unscoreable (nb = 0) so the output covers every input doc
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("surp_sum_e4"), lit(0L)).as("surp_sum_e4"),
        when(coalesce(col("nb"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("surp_sum_e4 div nb")).as("surp_mean_e4"))
  }

  /** Trigram-LM surprisal with two-level Stupid Backoff — one order up
    * from [[bigramSurprisal]] (Brants et al. 2007 chain: trigram →
    * bigram → unigram → OOV floor), the closest integer-exact step
    * toward CCNet's 5-gram KenLM filter. Per trigram (a, b, c):
    *
    *   c3(a,b,c) ≥ minCount:          (10000·c2(a,b)) div c3(a,b,c)
    *   else c2(b,c) ≥ minCount:  10 · ((10000·c1(b)) div c2(b,c))
    *   else c1(c) ≥ minCount:   100 · ((10000·N) div c1(c))
    *   else:                    100 · ((10000·N) div minCount)
    *
    * Every numerator the seen branch needs is guaranteed present in its
    * pruned model: a trigram with c3 ≥ minCount has a bigram prefix with
    * c2 ≥ c3 ≥ minCount, so the model join chain never dangles. All
    * BIGINT — the t13/t15 cross-engine-exactness rationale. Docs with
    * fewer than three tokens emit nb = 0 (unscoreable). Same scale shape
    * as t15 with a third broadcast model; corpus text never shuffles.
    */
  def trigramSurprisal(docs: DataFrame, minCount: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minCount >= 1, s"trigramSurprisal: minCount must be ≥ 1, got $minCount")
    val toks = graft.functions.OptimizerFence(
      split(Dedup.normalize(col(textCol)), " "))
    val base = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
    val terms = base.select(col("doc_id"), explode(col("toks")).as("term"))
    val c1 = terms.groupBy(col("term")).agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum(col("c1")).as("n_tok"))
    def grams(n: Int): DataFrame = {
      // clamp: a doc shorter than n tokens has a negative slice length,
      // which `slice` rejects (t15's n=2 case never goes below 0 because
      // normalize yields ≥1 token; n=3 can)
      val parts = (0 until n).map(i =>
        slice(col("toks"), lit(i + 1),
          greatest(lit(0), size(col("toks")) - (n - 1))))
      val zipped = parts.reduceLeft((acc, p) => zip_with(acc, p,
        (a, b) => concat(a, lit(" "), b))) // space-joined gram key:
      // unambiguous, since normalized tokens are split on spaces
      base.select(col("doc_id"), explode(
        if (n == 1) col("toks") else zipped).as("g"))
    }
    val bi = grams(2)
    val tri = grams(3)
    val c2 = bi.groupBy(col("g")).agg(count(lit(1)).as("c2"))
      .where(col("c2") >= minCount)
    val c3 = tri.groupBy(col("g")).agg(count(lit(1)).as("c3"))
      .where(col("c3") >= minCount)
    // model join keys derived from the trigram key by splitting the
    // NUL-joined parts — map-side expressions, no extra explode
    val split3 = split(col("g"), " ")
    val scored = tri
      .withColumn("g2_prefix", concat_ws(" ",
        element_at(split3, 1), element_at(split3, 2)))
      .withColumn("g2_suffix", concat_ws(" ",
        element_at(split3, 2), element_at(split3, 3)))
      .withColumn("w_last", element_at(split3, 3))
      .join(broadcast(c3.withColumnRenamed("g", "gk")), col("g") === col("gk"), "left")
      .join(broadcast(c2.select(col("g").as("gp"), col("c2").as("c2p"))),
        col("g2_prefix") === col("gp"), "left")
      .join(broadcast(c2.select(col("g").as("gs"), col("c2").as("c2s"))),
        col("g2_suffix") === col("gs"), "left")
      .join(broadcast(c1.where(col("c1") >= minCount)
        .select(col("term").as("wb"), col("c1").as("c1b"))),
        element_at(split3, 2) === col("wb"), "left")
      .join(broadcast(c1.where(col("c1") >= minCount)
        .select(col("term").as("wl"), col("c1").as("c1l"))),
        col("w_last") === col("wl"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("c3").isNotNull, expr("(10000 * c2p) div c3"))
          .when(col("c2s").isNotNull && col("c1b").isNotNull,
            expr("10 * ((10000 * c1b) div c2s)"))
          .when(col("c1l").isNotNull, expr("100 * ((10000 * n_tok) div c1l)"))
          .otherwise(expr(s"100 * ((10000 * n_tok) div $minCount)")).as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nb"), sum(col("r")).as("surp_sum_e4"))
    base.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nb"), lit(0L)).as("nb"),
        coalesce(col("surp_sum_e4"), lit(0L)).as("surp_sum_e4"),
        when(coalesce(col("nb"), lit(0L)) === 0, lit(0L))
          .otherwise(expr("surp_sum_e4 div nb")).as("surp_mean_e4"))
  }

  /** Unigram-LM rarity score — the CCNet/KenLM perplexity-filter SHAPE
    * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
    * from Web Crawl Data", LREC 2020: docs are ranked by language-model
    * perplexity and the tails dropped) with the corpus itself as the
    * unigram model. Per token, true surprisal is -ln(cnt/N); this score
    * uses the RAW INVERSE PROBABILITY `(10000·N) div cnt` instead — the
    * q51/t11 rationale: `ln` is a libm transcendental whose last bit
    * varies across engines, while integer multiply/divide are exact
    * everywhere, so the whole computation stays BIGINT and the DuckDB
    * oracle can pin every row. Monotone under ln, so per-token rarity
    * ORDERING is identical; the cross-token mixture weighs rare tokens
    * more strongly than log-surprisal would (fine for a filter whose use
    * is "drop the tails of the ranking").
    *
    * Tokens below `minCount` total occurrences are out-of-vocabulary and
    * charged the weight of a `minCount`-frequency token — a LOWER bound
    * on their true rarity, which keeps one pathological token from
    * dominating a doc's mean. Output per doc: token count `dl`, summed
    * rarity `rarity_sum_e4`, and the integer mean `rarity_mean_e4`
    * (ten-thousandths of N/cnt).
    *
    * Scale shape: the count pass explodes tokens but aggregates map-side
    * (only (term, partial) rows reach its exchange); the kept vocabulary
    * (cnt ≥ minCount — small by Zipf at any corpus size when minCount
    * scales with the corpus) broadcasts to a map-side join on the second
    * explode, whose per-doc sums also combine map-side, so the one
    * remaining exchange carries a row per doc. Corpus text never
    * shuffles.
    */
  def rarityScore(docs: DataFrame, minCount: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(minCount >= 1, s"rarityScore: minCount must be ≥ 1, got $minCount")
    val toks = graft.functions.OptimizerFence(
      split(Dedup.normalize(col(textCol)), " "))
    val terms = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("term"))
    val counts = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    // one scalar row (corpus token total), broadcast alongside the vocab
    val tot = counts.agg(sum(col("cnt")).as("n_tok"))
    val vocab = counts.where(col("cnt") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("term"), expr("(10000 * n_tok) div cnt").as("r"))
    terms
      .join(broadcast(vocab), Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        coalesce(col("r"), expr(s"(10000 * n_tok) div $minCount")).as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"), sum(col("r")).as("rarity_sum_e4"))
      .select(col("doc_id"), col("dl"), col("rarity_sum_e4"),
        expr("rarity_sum_e4 div dl").as("rarity_mean_e4"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke,
    * Buettcher, "Reciprocal Rank Fusion outperforms Condorcet and
    * individual rank learning methods", SIGIR 2009) of a lexical BM25
    * ranking ([[keywordSearch]]) and a semantic embedding-cosine ranking
    * ([[Similarity.bruteForceTopK]]) — the standard two-tower retrieval
    * shape behind RAG corpus curation and dedup-audit tooling.
    *
    * rrf(d) = Σ_lists 1/(rrfK + rank_list(d)), missing from a list → that
    * term is 0. Engine-exact by construction: ranks are integers, each
    * term is ONE correctly-rounded IEEE division, and the two-term sum is
    * mirrored in the oracle in the same order — no transcendentals
    * anywhere (the BM25 leg is already division-form).
    *
    * Scale shape: each leg is its own top-k (both global heap top-k
    * plans, k rows out); the fusion joins two k-row sets — driver-trivial
    * at any corpus size. The expensive parts scale as their own operators
    * do: keywordSearch is two map-only corpus passes, and the semantic
    * leg is a PARAMETER — `semLeg = "brute"` ([[Similarity.bruteForceTopK]],
    * the exact oracle-checkable default) or `semLeg = "ivf"`
    * ([[Similarity.ivfTopK]], the blocked 100 TB path: probes only
    * `nProbe` cells instead of scanning the corpus). Both legs share the
    * (query_id, rank, neighbor_id) contract, so fusion is identical;
    * the ivf variant trades exactness for scan cost exactly as s03 does
    * vs s01 (recall measured there).
    */
  def hybridSearch(docs: DataFrame, emb: DataFrame, terms: Seq[String],
      queryId: Long, k: Int = 20, topK: Int = 10, rrfK: Int = 60,
      semLeg: String = "brute",
      textCol: String = "text", idCol: String = "doc_id",
      vecCol: String = "embedding", embIdCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = keywordSearch(docs, terms, topK = k, textCol = textCol, idCol = idCol)
      .select(col("doc_id"), row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).as("rank_lex"))
    val queries = emb.where(col(embIdCol) === queryId)
    val semTopK = semLeg match {
      case "brute" =>
        Similarity.bruteForceTopK(emb, queries, k, vecCol = vecCol, idCol = embIdCol)
      case "ivf" =>
        Similarity.ivfTopK(emb, queries, k, vecCol = vecCol, idCol = embIdCol)
      case other => throw new IllegalArgumentException(
        s"hybridSearch: semLeg must be brute|ivf, got '$other'")
    }
    val sem = semTopK
      .select(col("neighbor_id").as("doc_id"), col("rank").as("rank_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_sem"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_sem")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(topK)
  }

  /** Rare-token `<unk>` rewrite — classic LM-vocabulary pruning: corpus
    * tokens whose total occurrence count falls below a threshold are
    * replaced by a sentinel, bounding the vocabulary before tokenizer
    * training / frequency-based filtering. Output per doc: the rewritten
    * text plus the replaced-token count.
    *
    * Scale shape: the count pass explodes tokens but aggregates map-side,
    * so only (token, partial-count) rows reach the single exchange; the
    * KEPT vocabulary (frequent tokens — small by Zipf's law at any corpus
    * size, unlike the unbounded rare tail) is collected into one array
    * row and broadcast; the rewrite is a map-only membership pass over
    * the in-row token arrays. Corpus text never shuffles. The membership
    * probe is `array_contains` (linear per token) — fine to ~1e4 kept
    * terms; a larger vocabulary would swap in a broadcast hash set via a
    * static-invoke kernel, same plan shape.
    */
  def unkRewrite(docs: DataFrame, minCount: Long, unk: String = "<unk>",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = graft.functions.OptimizerFence(
      split(Dedup.normalize(col(textCol)), " "))
    val withToks = docs.select(col(idCol).as("doc_id"), toks.as("toks"))
    val keep = withToks.select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .agg(sort_array(collect_list(col("term"))).as("keep"))
    withToks.crossJoin(broadcast(keep))
      .select(col("doc_id"),
        array_join(transform(col("toks"),
          t => when(array_contains(col("keep"), t), t).otherwise(lit(unk))), " ")
          .as("rewritten"),
        size(filter(col("toks"),
          t => !array_contains(col("keep"), t))).cast("long").as("n_unk"))
  }

  /** Multinomial Naive Bayes text classifier — the fastText-shaped
    * supervised filter production pipelines use for quality/domain
    * gating (e.g. the GPT-3/LLaMA "looks like reference corpus"
    * classifiers; Joulin et al. 2016 is the linear baseline this
    * approximates with count statistics instead of trained embeddings).
    * Train on a labeled subset, score every corpus document, emit the
    * argmax label.
    *
    * Integer form (the t13/t15 ln-free rationale): with V = |train
    * vocabulary|, N_l = tokens in label l, c(l,t) = count of t in l,
    * D/D_l = total/per-label doc counts, a doc scores, per label,
    *
    *   score(l) = (10000·D) div D_l                       [prior]
    *            + Σ_tokens (10000·(N_l + V)) div (c(l,t) + 1)   [add-one]
    *
    * and the prediction is the MINIMUM score (it is a surprisal — lower
    * = more likely), ties to the lexicographically smaller label, so the
    * output is fully deterministic and DuckDB-reproducible. Unseen
    * tokens hit the add-one floor per label (c = 0) — they still carry
    * signal because the floor scales with N_l, exactly as smoothed NB
    * prescribes. NOTE this is a LINEAR-space surprisal heuristic, not
    * log-space NB under a monotone transform: summing linear inverse
    * likelihoods weights rare tokens more aggressively than summing
    * their logs would (one very rare token can outvote several
    * moderately rare ones), so predictions can differ from true
    * multinomial NB on mixed-evidence docs. The tradeoff is deliberate —
    * exact cross-engine reproducibility (integer arithmetic, no
    * libm-dependent ln bits) over textbook posterior fidelity; a caller
    * needing calibrated NB probabilities wants a float log-space scorer,
    * not this gate.
    *
    * Output: (doc_id, pred_label, nb_score) for every corpus doc.
    *
    * Scale shape (100 TB corpus, bounded labels): the model is Zipf-small
    * (labels × vocabulary) and BROADCAST. Since r20 the batch scorer is
    * [[nbScorePivoted]] — the corpus-side plan explodes tokens map-side,
    * probes a per-token count ARRAY with one broadcast hash join (no
    * ×|labels| row fan-out), and aggregates |labels| per-doc sums with
    * map-side combine; the only corpus-side exchange carries ONE row per
    * doc, never tokens. Model training shuffles (label, token) count
    * pairs — vocabulary-bounded, not corpus-bounded.
    */
  def nbClassify(corpus: DataFrame, labeled: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      labelCol: String = "label"): DataFrame =
    nbScorePivoted(corpus, nbTrain(labeled, textCol, labelCol), textCol, idCol)

  /** The trained half of [[nbClassify]]: `lab` = one row per label
    * (prior + smoothing denominator), `model` = the (label, token) count
    * table — both Zipf-small and broadcast at score time. Train once,
    * score many (the [[graft.streaming.StatefulOps.classifyGateSink]]
    * contract; long-lived callers should persist both tables for the
    * model's lifetime, the d17/p03 rule).
    */
  final case class NbModel(lab: DataFrame, model: DataFrame)

  def nbTrain(labeled: DataFrame,
      textCol: String = "text", labelCol: String = "label"): NbModel = {
    val base = labeled.select(col(labelCol).as("label"), tokArray(textCol).as("toks"))
    val ltk = base.select(col("label"), explode(col("toks")).as("t"))
    val vocabV = ltk.agg(count_distinct(col("t")).as("v"))
    // one pass for BOTH per-label stats (doc count + token count); the
    // corpus total re-aggregates the ≤|labels|-row result instead of
    // re-scanning the labeled set
    val labStats = base.groupBy(col("label"))
      .agg(count(lit(1)).as("d_l"), sum(size(col("toks"))).as("n_l"))
    val model = ltk.groupBy(col("label"), col("t")).agg(count(lit(1)).as("c"))
    val lab = labStats
      .crossJoin(labStats.agg(sum(col("d_l")).as("d")))
      .crossJoin(vocabV)
      .select(col("label"), expr("(10000 * d) div d_l").as("prior"),
        (col("n_l") + col("v")).as("nv"))
    NbModel(lab, model)
  }

  /** The scoring half of [[nbClassify]]: every corpus doc argmin-scored
    * against a (possibly foreign-corpus) trained model — pure broadcast
    * joins on the corpus side.
    */
  def nbScore(corpus: DataFrame, m: NbModel,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val lab = m.lab
    val model = m.model
    val scored = corpus
      .select(col(idCol).as("doc_id"), tokArray(textCol).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .crossJoin(broadcast(lab))
      .join(broadcast(model), Seq("label", "t"), "left")
      .select(col("doc_id"), col("label"), col("prior"),
        expr("(10000 * nv) div (coalesce(c, 0) + 1)").as("s"))
      .groupBy(col("doc_id"), col("label"))
      .agg((max(col("prior")) + sum(col("s"))).as("total"))
      .groupBy(col("doc_id"))
      .agg(min(struct(col("total"), col("label"))).as("best"))
      .select(col("doc_id"), col("best.label").as("pred_label"),
        col("best.total").as("nb_score"))
    // zero-token docs produce no token rows — restore them with the
    // prior-only argmin so the output covers every input doc
    val priorBest = lab.agg(min(struct(col("prior"), col("label"))).as("pb"))
      .select(col("pb.label").as("p_label"), col("pb.prior").as("p_score"))
    corpus.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(priorBest))
      .select(col("doc_id"),
        coalesce(col("pred_label"), col("p_label")).as("pred_label"),
        coalesce(col("nb_score"), col("p_score")).as("nb_score"))
  }

  /** The BATCH scoring half of [[nbClassify]] — [[nbScore]]'s exact
    * semantics without its BroadcastNestedLoopJoin ×|labels| row
    * expansion (the r19 verdict's t17 item): instead of replicating
    * every corpus TOKEN row once per label and probing the (label,
    * token) model per copy, the label axis pivots into COLUMNS —
    *
    *   - the per-label (prior, nv) table collects to the driver (≤
    *     |labels| rows, the documented bounded-pull class; labels sort
    *     lexicographically so positions are deterministic),
    *   - the model pivots to ONE row per token carrying the per-label
    *     count array (a vocabulary-bounded aggregate, broadcast),
    *   - each token row computes its |labels| scores as |labels| sum
    *     aggregates of the SAME integer addends the row-expanded form
    *     summed (integer addition — order-free, exactly equal),
    *   - the argmin is `array_min` over (total, label) structs — the
    *     same (total asc, label asc) tie-break as min(struct(...)).
    *
    * The corpus-side exchange now carries ONE row per doc (|labels| long
    * columns) instead of |labels| rows per (doc, token). Equivalence to
    * [[nbScore]] is pinned by `TextAnalysisSpec` (randomized corpora,
    * ties, zero-token docs, empty labeled sets).
    *
    * [[nbScore]] itself keeps the pull-free DataFrame shape: the
    * streaming [[graft.streaming.StatefulOps.classifyGateSink]] contract
    * re-plans it per micro-batch against PERSISTED model tables, and a
    * driver pull there would re-run the label aggregation every batch if
    * the caller had not persisted. Batch callers that train-and-score in
    * one query (this method's caller [[nbClassify]] — entry t17) pay the
    * label pull once, where the old plan paid the same subplan as a
    * broadcast build anyway.
    */
  def nbScorePivoted(corpus: DataFrame, m: NbModel,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val labRows = m.lab.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    if (labRows.isEmpty) {
      // empty labeled set: nbScore emits NULL label/score for every doc
      // (empty lab ⇒ empty scored rows, prior-only aggregate over zero
      // rows ⇒ one all-NULL row) — mirror it without a plan
      return corpus.select(col(idCol).as("doc_id"),
        lit(null).cast("string").as("pred_label"),
        lit(null).cast("long").as("nb_score"))
    }
    val labels = labRows.map(_._1)
    // model pivot: one row per token, counts aligned with the sorted
    // label vector (vocabulary-bounded aggregate — never corpus-bounded)
    val modelP = m.model.groupBy(col("t"))
      .agg(array(labels.map(l =>
        max(when(col("label") === l, col("c")))): _*).as("cs"))
    val sums = labels.indices.map { i =>
      val nv = labRows(i)._3
      sum(expr(s"(10000 * ${nv}L) div (coalesce(element_at(cs, ${i + 1}), 0L) + 1L)"))
        .as(s"__s$i")
    }
    val scored = corpus
      .select(col(idCol).as("doc_id"), tokArray(textCol).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .join(broadcast(modelP), Seq("t"), "left")
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
    val best = array_min(array(labels.indices.map { i =>
      struct((lit(labRows(i)._2) + col(s"__s$i")).as("total"),
        lit(labels(i)).as("label"))
    }: _*))
    val argmin = scored.select(col("doc_id"),
      best.getField("label").as("pred_label"),
      best.getField("total").as("nb_score"))
    // zero-token docs produce no token rows — restore them with the
    // prior-only argmin (a literal now: same (prior asc, label asc) rule)
    val (pScore, pLabel) = labRows.map(r => (r._2, r._1)).min
    corpus.select(col(idCol).as("doc_id"))
      .join(argmin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("pred_label"), lit(pLabel)).as("pred_label"),
        coalesce(col("nb_score"), lit(pScore)).as("nb_score"))
  }

  /** Log template mining — the deterministic core of Drain-style log
    * parsing (He et al., ICWS 2017 use this masking as the preprocessing
    * step; the full tree adds similarity clustering for templates that
    * differ in non-numeric tokens): every whitespace-delimited token
    * containing a digit masks to `<*>`, and lines grouping to the same
    * masked string are one event template. On access/error logs the
    * variable parts (ids, ips, timestamps, sizes, durations) all carry
    * digits, so the mask alone recovers the template set — and unlike the
    * clustering step it is exactly reproducible (regexp_replace + one
    * hash aggregate), which is what lets the t26 entry hash-match a
    * DuckDB oracle.
    *
    * Output: (template, n, example) — example = lexicographic min line,
    * a deterministic witness. Shape: one map-side-combined aggregate on
    * the template; at 100 TB the exchange carries the TEMPLATE domain
    * (log-structure cardinality, typically thousands), never the lines.
    */
  def logTemplates(lines: DataFrame, lineCol: String = "value"): DataFrame =
    lines
      .select(regexp_replace(col(lineCol), "\\S*\\d\\S*", "<*>").as("template"),
        col(lineCol).as("line"))
      .groupBy(col("template"))
      .agg(count(lit(1)).as("n"), min(col("line")).as("example"))
}
