package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.GraftConfig
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.pipeline.Ingest
import graft.sources.Tables

/** Training-data-pipeline operators (dedup, similarity, text analysis,
  * multimodal, ingest-parity) as catalog entries over the driver testdata.
  * Entries without an oracle are non-SQL-expressible (probabilistic
  * signatures / binary plumbing) and get the driver's rows-only check;
  * their semantics are pinned by ScalaTest specs instead.
  */
object DataOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** documents/embeddings load spread over the session's cores: the
    * testdata ships each table as a single parquet split, which would pin
    * every downstream per-row pass (shingles, md5, dot products) to 1-3
    * threads. A real 100 TB table arrives as thousands of splits and needs
    * no such shuffle — r19 made the repartition CONDITIONAL on the scan's
    * natural split count (Tables.loadParallel), so the local-file fix no
    * longer costs an exchange at scale.
    */
  private def tp(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadParallel(s, dir, name)

  /** Ingest-parity config: 7-field nginx access-log format (native casts
    * only — remote_addr:String, time_local:DateTime, status:UInt16,
    * bytes_sent:UInt32, request_time:Float32).
    */
  val ingestConfig: GraftConfig = GraftConfig(
    logFormat = "$remote_addr - $remote_user [$time_local] \"$request\" $status $bytes_sent $request_time",
    columns = Seq("remote_addr", "remote_user", "time_local", "request",
      "status", "bytes_sent", "request_time").map(c => c -> c).toMap,
    logsTable = "access_log")

  /** Deterministically synthesize access-log lines from `events` (testdata
    * has no raw log file; the driver contract requires queries to read the
    * provided parquet only).
    *
    * Repartitioned to the session's parallelism: events.parquet is a
    * single file split, and ingest parity means NumCPU parallel workers
    * (`--parallelism` default, `cmd/filelog/main.go:49-54`) — raw lines are
    * tiny to shuffle, and every downstream stage then uses all cores.
    */
  def logLinesFor(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").repartition(s.sparkContext.defaultParallelism).select(concat(
      col("user_id").cast("string"), lit(" - - ["),
      date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss"), lit(" +0000] \"GET /p/"),
      col("event_id").cast("string"), lit(" HTTP/1.1\" "),
      (lit(200) + (col("event_id") % 3) * 100).cast("string"), lit(" "),
      (col("event_id") % 9973).cast("string"), lit(" "),
      col("value").cast("string")).as("value"))

  /** Near-dup test corpus: the documents plus, for each, a copy with the
    * two leading tokens dropped (ids offset by 100000) — a deterministic
    * perturbation whose shingle-Jaccard against its original is high, so
    * the probabilistic dedup operators have guaranteed-present positives at
    * every SF.
    */
  private def perturbed(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") + 100000).as("doc_id"),
      concat_ws(" ", slice(split(col("text"), " "), 3, Int.MaxValue)).as("text"))

  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = tp(s, dir, "documents").select("doc_id", "text")
    docs.unionByName(perturbed(docs))
  }

  /** DuckDB SQL fragments shared by the dedup oracles — each mirrors one
    * Spark-side building block exactly (see [[graft.operators.Dedup]]).
    */
  private val DupCorpusSql = // mirrors docsWithNearDups
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
      |  FROM documents""".stripMargin
  private val NormToksSql = // mirrors Dedup.normalize + split
    """string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"""
  private def shingleSqlN(n: Int) = // mirrors Dedup.shingles(_, n) as distinct string sets
    s"""CASE WHEN len(toks) >= $n
       |      THEN list_distinct([array_to_string(toks[i:i+${n - 1}], ' ')
       |                          FOR i IN generate_series(1, len(toks) - ${n - 1})])
       |      ELSE [array_to_string(toks, ' ')] END""".stripMargin
  private val ShingleSql = shingleSqlN(3)
  private def spanSqlN(n: Int) = // mirrors Dedup.shinglesFromToks (occurrences KEPT, no distinct)
    s"""CASE WHEN len(toks) >= $n
       |      THEN [array_to_string(toks[i:i+${n - 1}], ' ')
       |            FOR i IN generate_series(1, len(toks) - ${n - 1})]
       |      ELSE [array_to_string(toks, ' ')] END""".stripMargin
  private val Md5LongSql = // mirrors Sampling.idHash (salt appended pre-md5)
    "CAST(CONCAT('0x', SUBSTR(md5(%s), 1, 15)) AS BIGINT)"

  /** The d23 oracle, GENERATED from the same (maskBits, gear multiplier)
    * parameters [[Dedup.cdcChunks]] unrolls — the windowed Gear boundary
    * test is emitted term-for-term from one source of truth (the q78
    * geohashOracle pattern). Integer-only per position (codepoint ·
    * multiplier · 2^j sums stay < 2^60 — no DuckDB checked-arithmetic
    * overflow), so the cut set, chunk strings, and md5 keys are exact.
    */
  private def cdcOracle: String = {
    val m = 6
    val mask = (1L << m) - 1
    val mult = graft.operators.Dedup.CdcGearMult
    // windowed hash at 1-based char i: sum_j gear(c_{i-j}) << j, low m bits
    val hterms = (0 until m).map { j =>
      s"CASE WHEN i > $j THEN (ascii(substring(s, i - $j, 1)) * $mult) * ${1L << j} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH d2 AS ($DupCorpusSql),
       |nm AS (SELECT doc_id,
       |         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS s
       |       FROM d2),
       |ch AS (SELECT doc_id, s, length(s) AS n FROM nm WHERE length(s) > 0),
       |p AS (SELECT doc_id, s, n, unnest(generate_series(1, n)) AS i FROM ch),
       |hb AS (SELECT doc_id, i, substring(s, i, 1) AS c,
       |         CASE WHEN (($hterms) & $mask) = $mask
       |               AND i < n THEN 1 ELSE 0 END AS cut
       |       FROM p),
       |cid AS (SELECT doc_id, i, c,
       |          coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS k
       |        FROM hb),
       |chunks AS (SELECT doc_id, k,
       |             md5(string_agg(c, '' ORDER BY i)) AS chunk_md5,
       |             CAST(count(*) AS BIGINT) AS clen
       |           FROM cid GROUP BY doc_id, k)
       |SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs,
       |  count(*) AS n_occ, min(doc_id) AS first_doc,
       |  min(clen) AS min_len, max(clen) AS max_len
       |FROM chunks GROUP BY chunk_md5
       |HAVING count(DISTINCT doc_id) >= 2""".stripMargin
  }

  val all: Map[String, Q] = Map(

    // ---- ingest parity (the reference's whole pipeline, oracle-checked) --
    "i01_ingest_e2e" -> Q(
      (s, dir) => {
        val parsed = Ingest.parse(logLinesFor(s, dir), ingestConfig)
        parsed.groupBy(col("status"))
          .agg(count(lit(1)).as("n"),
            sum(col("bytes_sent")).as("sum_bytes"),
            min(col("time_local")).as("first_ts"),
            max(col("time_local")).as("last_ts"),
            round(sum(col("request_time")), 2).as("sum_req_time"))
      },
      Some("""WITH lines AS (
             |  SELECT concat(CAST(user_id AS VARCHAR), ' - - [',
             |    strftime(ts, '%d/%b/%Y:%H:%M:%S'), ' +0000] "GET /p/',
             |    CAST(event_id AS VARCHAR), ' HTTP/1.1" ',
             |    CAST(200 + (event_id % 3) * 100 AS VARCHAR), ' ',
             |    CAST(event_id % 9973 AS VARCHAR), ' ',
             |    CAST(value AS VARCHAR)) AS value
             |  FROM events),
             |parsed AS (
             |  SELECT
             |    CAST(regexp_extract(value, '^([^ ]*) - ([^ ]*) \[([^\]]*)\] "([^"]*)" ([^ ]*) ([^ ]*) ([^ ]*)', 5) AS INT) AS status,
             |    CAST(regexp_extract(value, '^([^ ]*) - ([^ ]*) \[([^\]]*)\] "([^"]*)" ([^ ]*) ([^ ]*) ([^ ]*)', 6) AS BIGINT) AS bytes_sent,
             |    strptime(regexp_extract(value, '^([^ ]*) - ([^ ]*) \[([^\]]*)\] "([^"]*)" ([^ ]*) ([^ ]*) ([^ ]*)', 3), '%d/%b/%Y:%H:%M:%S %z') AS time_local,
             |    CAST(regexp_extract(value, '^([^ ]*) - ([^ ]*) \[([^\]]*)\] "([^"]*)" ([^ ]*) ([^ ]*) ([^ ]*)', 7) AS REAL) AS request_time
             |  FROM lines)
             |SELECT status, count(*) AS n,
             |  CAST(sum(bytes_sent) AS BIGINT) AS sum_bytes,
             |  CAST(min(time_local) AS TIMESTAMP) AS first_ts,
             |  CAST(max(time_local) AS TIMESTAMP) AS last_ts,
             |  round(sum(request_time), 2) AS sum_req_time
             |FROM parsed GROUP BY status""".stripMargin),
      "reference pipeline end-to-end: template parse → project → cast → agg"),

    // ---- deduplication ---------------------------------------------------
    "d01_exact_dedup_groups" -> Q(
      (s, dir) => Dedup.exactGroups(tp(s, dir, "documents")),
      Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
             |  CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_docs
             |FROM documents GROUP BY 1""".stripMargin),
      "exact dedup: hash-groupBy on content hash; only (hash,id) shuffles"),

    "d02_exact_dedup_survivors" -> Q(
      (s, dir) => Dedup.exactDedup(tp(s, dir, "documents"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      Some("""SELECT doc_id, lang, source, n_chars FROM documents
             |WHERE doc_id IN (
             |  SELECT min(doc_id) FROM documents
             |  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))""".stripMargin)),

    // Oracle note (d03): at threshold 0.8 with 24 bands × 4 rows the LSH
    // candidate-miss probability for a qualifying pair is (1-0.8⁴)²⁴ ≈ 3e-6
    // — zero misses on the fixed testdata (checked) — so the verified
    // output equals the exact all-pairs Jaccard result, which DuckDB
    // computes directly (hash-set Jaccard == shingle-string-set Jaccard
    // modulo 64-bit collisions). The length-ratio prejoin (5·|A| ≥ 4·|B|,
    // integer-exact) only prunes pairs that can never reach 0.8.
    "d03_minhash_neardups" -> Q(
      (s, dir) => Dedup.minhashNearDups(docsWithNearDups(s, dir),
        shingleSize = 3, numHashes = 96, rowsPerBand = 4, threshold = 0.8)
        .select("a", "b"),
      Some(s"""WITH d2 AS ($DupCorpusSql),
             |f AS (
             |  SELECT doc_id, $ShingleSql AS sh
             |  FROM (SELECT doc_id, $NormToksSql AS toks FROM d2))
             |SELECT a.doc_id AS a, b.doc_id AS b
             |FROM f a JOIN f b
             |  ON a.doc_id < b.doc_id
             | AND 5 * len(a.sh) >= 4 * len(b.sh)
             | AND 5 * len(b.sh) >= 4 * len(a.sh)
             |WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |       / len(list_distinct(list_concat(a.sh, b.sh)))) >= 0.8""".stripMargin),
      "MinHash+LSH: per-row signatures, band-bucket join, exact-Jaccard verify"),

    "d04_simhash" -> Q(
      (s, dir) => Dedup.simhashNearDups(tp(s, dir, "documents"), maxDist = 16)
        .select("a", "b", "dist"),
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    CAST(list_sum([CASE WHEN 2 * list_sum([CAST((h >> i) & 1 AS BIGINT) FOR h IN hs]) > len(hs)
             |                   THEN (1::BIGINT << i) ELSE 0::BIGINT END
             |                   FOR i IN generate_series(0, 59)]) AS BIGINT) AS fp
             |  FROM (SELECT doc_id,
             |          [CAST(CONCAT('0x', SUBSTR(md5(t), 1, 15)) AS BIGINT)
             |           FOR t IN string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')] AS hs
             |        FROM documents))
             |SELECT a.doc_id AS a, b.doc_id AS b,
             |       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS dist
             |FROM f a JOIN f b ON (a.fp >> 44) = (b.fp >> 44) AND a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.fp, b.fp)) <= 16""".stripMargin),
      "SimHash 60-bit fingerprint (md5 token hash) + prefix-blocked Hamming pairs"),

    "d05_ngram_jaccard" -> Q(
      (s, dir) => Dedup.ngramJaccardPairs(
        docsWithNearDups(s, dir)
          .withColumn("blk", pmod(col("doc_id") % 100000, lit(20)).cast("int")),
        blockCol = "blk", shingleSize = 3, threshold = 0.5)
        .select("a", "b"),
      Some(s"""WITH d2 AS ($DupCorpusSql),
             |f AS (
             |  SELECT doc_id, (doc_id % 100000) % 20 AS blk, $ShingleSql AS sh
             |  FROM (SELECT doc_id, $NormToksSql AS toks FROM d2))
             |SELECT a.doc_id AS a, b.doc_id AS b
             |FROM f a JOIN f b ON a.blk = b.blk AND a.doc_id < b.doc_id
             |WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |       / len(list_distinct(list_concat(a.sh, b.sh)))) >= 0.5""".stripMargin),
      "exact n-gram Jaccard within a blocking key"),

    "d07_dup_clusters" -> Q(
      (s, dir) => Dedup.duplicateClusters(
        Dedup.minhashNearDups(docsWithNearDups(s, dir),
          shingleSize = 3, numHashes = 96, rowsPerBand = 4, threshold = 0.8)
          .select("a", "b")),
      // connected components in SQL: transitive closure over the
      // bidirected d03 pair list (recursive CTE), label = min reachable id
      Some(s"""WITH RECURSIVE d2 AS ($DupCorpusSql),
             |f AS (
             |  SELECT doc_id, $ShingleSql AS sh
             |  FROM (SELECT doc_id, $NormToksSql AS toks FROM d2)),
             |pairs AS (
             |  SELECT a.doc_id AS a, b.doc_id AS b
             |  FROM f a JOIN f b
             |    ON a.doc_id < b.doc_id
             |   AND 5 * len(a.sh) >= 4 * len(b.sh)
             |   AND 5 * len(b.sh) >= 4 * len(a.sh)
             |  WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |         / len(list_distinct(list_concat(a.sh, b.sh)))) >= 0.8),
             |edges AS (
             |  SELECT a AS src, b AS dst FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
             |SELECT src AS node, least(src, min(dst)) AS cluster
             |FROM reach GROUP BY src""".stripMargin),
      "transitive dup clusters: connected components (min-label propagation) over near-dup pairs"),

    // Oracle note (d08): same zero-miss LSH argument as d03 — at J ≥ 0.8
    // with 24 bands × 4 rows the per-pair candidate-miss probability is
    // ≈3e-6, so the LSH-filtered survivors equal the exact NOT-EXISTS
    // result. The oracle's length prejoin (5·min ≥ 4·max, integer-exact at
    // t = 4/5) only prunes pairs that can never reach 0.8.
    "d08_cross_corpus" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select("doc_id", "text")
        Dedup.crossCorpusSurvivors(perturbed(docs), docs,
          shingleSize = 3, numHashes = 96, rowsPerBand = 4, threshold = 0.8)
          .select("doc_id")
      },
      Some(s"""WITH newd AS (
             |  SELECT doc_id + 100000 AS doc_id,
             |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
             |  FROM documents),
             |fc AS (
             |  SELECT doc_id, $ShingleSql AS sh
             |  FROM (SELECT doc_id, $NormToksSql AS toks FROM documents)),
             |fn AS (
             |  SELECT doc_id, $ShingleSql AS sh
             |  FROM (SELECT doc_id, $NormToksSql AS toks FROM newd))
             |SELECT n.doc_id FROM fn n WHERE NOT EXISTS (
             |  SELECT 1 FROM fc c
             |  WHERE 5 * len(c.sh) >= 4 * len(n.sh)
             |    AND 5 * len(n.sh) >= 4 * len(c.sh)
             |    AND (CAST(len(list_intersect(n.sh, c.sh)) AS DOUBLE)
             |         / len(list_distinct(list_concat(n.sh, c.sh)))) >= 0.8)""".stripMargin),
      "incremental dedup: new batch LSH-joined against corpus bands, exact verify, anti-join"),

    // Character-level near-dup detection: the length prejoin is implied by
    // the distance bound (|len(a)-len(b)| ≤ d), so the oracle can omit it;
    // Spark additionally passes the bound to levenshtein's threshold form,
    // which runs the banded O(len·d) DP instead of the full O(len²) table.
    "d10_editdist" -> Q(
      (s, dir) => {
        val d = docsWithNearDups(s, dir)
          .withColumn("blk", pmod(col("doc_id") % 100000, lit(20)).cast("int"))
        val a = d.select(col("blk"), col("doc_id").as("a"), col("text").as("ta"))
        val b = d.select(col("blk"), col("doc_id").as("b"), col("text").as("tb"))
        a.join(b, "blk").where(col("a") < col("b") &&
            abs(length(col("ta")) - length(col("tb"))) <= 20)
          .withColumn("dist", levenshtein(col("ta"), col("tb"), 20))
          .where(col("dist") >= 0)
          .select(col("a"), col("b"), col("dist"))
      },
      Some(s"""WITH d2 AS ($DupCorpusSql)
             |SELECT a.doc_id AS a, b.doc_id AS b,
             |  CAST(levenshtein(a.text, b.text) AS INT) AS dist
             |FROM d2 a JOIN d2 b
             |  ON (a.doc_id % 100000) % 20 = (b.doc_id % 100000) % 20
             | AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.text, b.text) <= 20""".stripMargin),
      "edit-distance near-dups: blocked pairs, banded-threshold levenshtein"),

    // Guaranteed positives: every perturbed doc shares all its 8-token
    // spans with its original, so ≥1 duplicated span per (orig, copy)
    // pair exists at every SF; the ~30-word synthetic vocabulary makes
    // accidental cross-doc 8-gram collisions absent (and deterministic +
    // oracle-mirrored if one ever appeared).
    "d11_dup_spans" -> Q(
      (s, dir) => Dedup.duplicatedSpans(docsWithNearDups(s, dir), k = 8),
      Some(s"""WITH d2 AS ($DupCorpusSql),
             |sp AS (
             |  SELECT doc_id, md5(unnest(spans)) AS span_md5 FROM (
             |    SELECT doc_id, ${spanSqlN(8)} AS spans
             |    FROM (SELECT doc_id, $NormToksSql AS toks FROM d2)))
             |SELECT span_md5, count(DISTINCT doc_id) AS n_docs,
             |  count(*) AS n_occ, min(doc_id) AS first_doc
             |FROM sp GROUP BY span_md5 HAVING count(DISTINCT doc_id) >= 2""".stripMargin),
      "duplicated-span inventory: overlapping 8-token spans present in ≥2 docs " +
        "(the exact-substring dedup signal; span strings never shuffle, only md5)"),

    // d11b: the same inventory keyed by the positional 64-bit span-hash
    // kernel (no span strings, no md5 — the 100 TB default; d11 keeps the
    // md5 identity as the harness). The hash itself is engine-side, so the
    // catalog output drops it: the (n_docs, n_occ, first_doc) multiset is
    // hash-identical to the string-grouped inventory iff the kernel's
    // span identity is exact — which makes this a REAL oracle over the
    // kernel path, not a rows-only entry.
    "d11b_dup_spans_fast" -> Q(
      (s, dir) => Dedup.duplicatedSpansFast(docsWithNearDups(s, dir), k = 8)
        .select("n_docs", "n_occ", "first_doc"),
      Some(s"""WITH d2 AS ($DupCorpusSql),
             |sp AS (
             |  SELECT doc_id, unnest(spans) AS span FROM (
             |    SELECT doc_id, ${spanSqlN(8)} AS spans
             |    FROM (SELECT doc_id, $NormToksSql AS toks FROM d2)))
             |SELECT count(DISTINCT doc_id) AS n_docs,
             |  count(*) AS n_occ, min(doc_id) AS first_doc
             |FROM sp GROUP BY span HAVING count(DISTINCT doc_id) >= 2""".stripMargin),
      "duplicated-span inventory on the positional span-hash kernel: spans " +
        "hashed in place (8-byte keys), counts oracle-checked vs string grouping"),

    // d17: the REMOVAL step behind d11's span inventory (ExactSubstr
    // scrubbing): duplicated 8-token spans are cut from every doc except
    // the span's min-id first document; unique prose survives.
    "d17_span_scrub" -> Q(
      (s, dir) => Dedup.scrubDuplicatedSpans(docsWithNearDups(s, dir), k = 8),
      Some(s"""WITH d2 AS ($DupCorpusSql),
             |tk AS (SELECT doc_id, $NormToksSql AS toks FROM d2),
             |sp AS (
             |  SELECT doc_id, n, unnest(sps, recursive := true) FROM (
             |    SELECT doc_id, len(toks) AS n,
             |      CASE WHEN len(toks) >= 8
             |        THEN [{'pos': i, 'm': md5(array_to_string(toks[i:i+7], ' '))}
             |              FOR i IN generate_series(1, len(toks) - 7)]
             |        ELSE [{'pos': 1, 'm': md5(array_to_string(toks, ' '))}]
             |      END AS sps
             |    FROM tk)),
             |dup AS (
             |  SELECT m, min(doc_id) AS first_doc FROM sp
             |  GROUP BY m HAVING count(DISTINCT doc_id) >= 2),
             |cuts AS (
             |  SELECT s.doc_id, unnest(generate_series(s.pos, least(s.pos + 7, s.n))) AS j
             |  FROM sp s JOIN dup d USING (m)
             |  WHERE s.doc_id <> d.first_doc),
             |cutset AS (SELECT doc_id, list(DISTINCT j) AS cut FROM cuts GROUP BY doc_id)
             |SELECT t.doc_id,
             |  coalesce(array_to_string([t.toks[j] FOR j IN generate_series(1, len(t.toks))
             |                   IF NOT list_contains(coalesce(c.cut, []), j)], ' '), '') AS clean_text,
             |  CAST(coalesce(len(c.cut), 0) AS BIGINT) AS n_removed
             |FROM tk t LEFT JOIN cutset c USING (doc_id)""".stripMargin),
      "ExactSubstr span scrubbing: duplicated 8-token spans removed from all " +
        "but the first document; per-doc clean text + removed-token count"),

    // d19: near-dedup the way production pipelines actually pick
    // survivors — keep the BEST-quality member of each duplicate cluster
    // (not the min id). Clusters from the d03/d07 MinHash pair list;
    // ranking by t02's integer quality score, ties to the smaller id.
    "d19_quality_survivors" -> Q(
      (s, dir) => {
        val corpus = docsWithNearDups(s, dir)
        Dedup.bestQualitySurvivors(
          corpus,
          Dedup.minhashNearDups(corpus,
            shingleSize = 3, numHashes = 96, rowsPerBand = 4, threshold = 0.8)
            .select("a", "b"),
          TextAnalysis.qualityScore(corpus).select("doc_id", "quality_score"))
          .select("doc_id")
      },
      Some(s"""WITH RECURSIVE d2 AS ($DupCorpusSql),
             |f AS (
             |  SELECT doc_id, $ShingleSql AS sh
             |  FROM (SELECT doc_id, $NormToksSql AS toks FROM d2)),
             |pairs AS (
             |  SELECT a.doc_id AS a, b.doc_id AS b
             |  FROM f a JOIN f b
             |    ON a.doc_id < b.doc_id
             |   AND 5 * len(a.sh) >= 4 * len(b.sh)
             |   AND 5 * len(b.sh) >= 4 * len(a.sh)
             |  WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |         / len(list_distinct(list_concat(a.sh, b.sh)))) >= 0.8),
             |edges AS (
             |  SELECT a AS src, b AS dst FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             |clusters AS (
             |  SELECT src AS node, least(src, min(dst)) AS cluster
             |  FROM reach GROUP BY src),
             |qual AS (
             |  SELECT doc_id,
             |    CAST(CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / length(text)) AS INT)
             |       + CAST(floor(10000.0 * len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             |           w -> w IN ('the','and','of','to','a','in','is','that','for','it')))
             |           / len(string_split_regex(trim(lower(text)), '\\s+'))) AS INT) * 2 AS INT) AS score
             |  FROM d2),
             |members AS (
             |  SELECT c.node, c.cluster, q.score
             |  FROM clusters c JOIN qual q ON c.node = q.doc_id),
             |best AS (SELECT cluster, max(score) AS mx FROM members GROUP BY cluster),
             |reps AS (
             |  SELECT m.cluster, min(m.node) AS rep
             |  FROM members m JOIN best b ON m.cluster = b.cluster AND m.score = b.mx
             |  GROUP BY m.cluster),
             |losers AS (
             |  SELECT m.node FROM members m JOIN reps r ON m.cluster = r.cluster
             |  WHERE m.node <> r.rep)
             |SELECT doc_id FROM d2
             |WHERE doc_id NOT IN (SELECT node FROM losers)""".stripMargin),
      "near-dup survivors keeping the best-quality cluster member (quality-ranked dedup)"),

    // d20: intra-document span dedup (k=3 — the synthetic corpus has ~27
    // docs with internal 3-gram repeats at sf0.01). Span identity is the
    // positional hash kernel on the Spark side and span strings in the
    // oracle: cut POSITIONS agree modulo 2^-64 collisions, the d17
    // contract.
    "d20_intradoc_scrub" -> Q(
      (s, dir) => Dedup.scrubIntraDocSpans(tp(s, dir, "documents"), k = 3),
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |m AS (
             |  SELECT doc_id, toks, len(toks) AS n,
             |    CASE WHEN len(toks) >= 3
             |      THEN [array_to_string(toks[i:i+2], ' ')
             |            FOR i IN generate_series(1, len(toks) - 2)]
             |      ELSE [array_to_string(toks, ' ')] END AS spans
             |  FROM tk),
             |c AS (
             |  SELECT doc_id, toks, n,
             |    list_distinct(flatten(
             |      [[j FOR j IN generate_series(i, least(i + 2, n))]
             |       FOR i IN generate_series(1, len(spans))
             |       IF list_position(spans, spans[i]) < i])) AS cut
             |  FROM m)
             |SELECT doc_id,
             |  coalesce(array_to_string([toks[i] FOR i IN generate_series(1, n)
             |                            IF NOT list_contains(coalesce(cut, []), i)], ' '), '')
             |    AS clean_text,
             |  CAST(coalesce(len(cut), 0) AS BIGINT) AS n_removed
             |FROM c""".stripMargin),
      "intra-doc span dedup (Gopher-style self-repetition removal): later " +
        "occurrences of a repeated 3-token span cut, first kept; map-only"),

    // d22: CCNet/RefinedWeb corpus-level paragraph dedup. The synthetic
    // corpus has no newline structure (and no exact-duplicate documents at
    // sf0.01), so the paragraph unit is the 12-token block proxy and the
    // test corpus plants guaranteed duplicates: every third document gets
    // a companion (id+100000) made of its first 24 normalized tokens —
    // block-aligned, so the companion's two paragraphs are exact copies of
    // the original's first two and must be cut (keeper = smaller doc_id).
    "d22_paragraph_dedup" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select("doc_id", "text")
        val copies = docs.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat_ws(" ",
              slice(split(Dedup.normalize(col("text")), " "), 1, 24)).as("text"))
        Dedup.paragraphDedup(docs.unionByName(copies), block = 12, joinWith = " ")
      },
      Some(s"""WITH d2 AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 100000 AS doc_id,
             |         array_to_string(($NormToksSql)[1:24], ' ') AS text
             |  FROM documents WHERE doc_id % 3 = 0),
             |tk AS (SELECT doc_id, $NormToksSql AS toks FROM d2),
             |pa AS (SELECT doc_id,
             |        [p FOR p IN
             |          [array_to_string(toks[(i-1)*12+1:i*12], ' ')
             |           FOR i IN generate_series(1,
             |             greatest(CAST(ceil(len(toks)/12.0) AS INT), 1))]
             |         IF p <> ''] AS paras
             |       FROM tk),
             |occ AS (SELECT doc_id, unnest(ps, recursive := true) FROM (
             |        SELECT doc_id, [{'pos': i - 1, 'para': paras[i]}
             |                        FOR i IN generate_series(1, len(paras))] AS ps
             |        FROM pa)),
             |dup AS (SELECT para, min([doc_id, pos]) AS first FROM occ
             |        GROUP BY para HAVING count(*) > 1),
             |cuts AS (SELECT o.doc_id, list(DISTINCT o.pos) AS cut
             |         FROM occ o JOIN dup d USING (para)
             |         WHERE NOT (o.doc_id = d.first[1] AND o.pos = d.first[2])
             |         GROUP BY o.doc_id)
             |SELECT a.doc_id,
             |  coalesce(array_to_string(
             |    [a.paras[i] FOR i IN generate_series(1, len(a.paras))
             |     IF NOT list_contains(coalesce(c.cut, []), i - 1)], ' '), '')
             |    AS clean_text,
             |  CAST(coalesce(len(c.cut), 0) AS BIGINT) AS n_removed
             |FROM pa a LEFT JOIN cuts c USING (doc_id)""".stripMargin),
      "corpus-level paragraph dedup (CCNet §3.1): every paragraph repeated " +
        "anywhere in the corpus cut except its globally-first occurrence; " +
        "only (hash, id, pos) shuffles"),

    // d23: content-defined chunking dedup (Gear hash / FastCDC family) —
    // the exact-substring member that catches SHIFTED duplication: the
    // perturbed corpus drops two leading tokens, so d11's aligned k-token
    // spans and this entry's chunks both re-find the copies, but CDC does
    // it with boundaries that re-synchronize ~2^6 chars after ANY edit
    // (insertions/reflow included, where fixed token grids break).
    // Inventory mirrors d11: chunks present in ≥2 docs, plus min/max
    // chunk length per key (same-md5 ⇒ same string, so min=max — a free
    // content-identity pin in the oracle).
    "d23_cdc_chunks" -> Q(
      (s, dir) => Dedup.cdcChunks(docsWithNearDups(s, dir), maskBits = 6)
        .groupBy(col("chunk_md5"))
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).as("first_doc"),
          min(col("len")).cast("long").as("min_len"),
          max(col("len")).cast("long").as("max_len"))
        .where(col("n_docs") >= 2),
      Some(cdcOracle),
      "content-defined chunking (FastCDC Gear hash as a bounded-window " +
        "expression — no UDF, no sequential state): duplicated-chunk " +
        "inventory over shifted near-dup corpus; boundaries re-sync " +
        "past edits, only 16-byte chunk keys shuffle"),

    // d24: boilerplate stripping (CCNet §3.1 / RefinedWeb line-wise
    // filtering) — the REMOVAL complement of d22's dedup: a paragraph in
    // ≥ minDocs distinct documents is cut from every document, first
    // occurrence included. Synthetic corpus: every even doc gains a
    // newsletter footer paragraph (ubiquitous → stripped everywhere);
    // docs 1 and 3 share a rare paragraph (2 docs < minDocs=3 →
    // SURVIVES) — the differential that separates strip from dedup.
    "d24_boilerplate_strip" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 2 === 0,
              lit("\n\nSubscribe to our newsletter for DAILY updates"))
              .otherwise(lit("")),
            when(col("doc_id").isin(1, 3),
              lit("\n\nRare promo paragraph")).otherwise(lit("")))
            .as("text"))
        Dedup.boilerplateStrip(docs, minDocs = 3)
      },
      Some("""WITH d2 AS (
             |  SELECT doc_id, text ||
             |    CASE WHEN doc_id % 2 = 0
             |      THEN chr(10)||chr(10)||'Subscribe to our newsletter for DAILY updates'
             |      ELSE '' END ||
             |    CASE WHEN doc_id IN (1, 3)
             |      THEN chr(10)||chr(10)||'Rare promo paragraph'
             |      ELSE '' END AS text
             |  FROM documents),
             |pa AS (SELECT doc_id,
             |        [q FOR q IN
             |          [trim(regexp_replace(lower(p), '\s+', ' ', 'g'))
             |           FOR p IN regexp_split_to_array(text, '\n{2,}')]
             |         IF q <> ''] AS paras
             |       FROM d2),
             |occ AS (SELECT doc_id, unnest(ps, recursive := true) FROM (
             |        SELECT doc_id, [{'pos': i - 1, 'para': paras[i]}
             |                        FOR i IN generate_series(1, len(paras))] AS ps
             |        FROM pa)),
             |ubiq AS (SELECT para FROM occ
             |         GROUP BY para HAVING count(DISTINCT doc_id) >= 3),
             |cuts AS (SELECT o.doc_id, list(DISTINCT o.pos) AS cut
             |         FROM occ o JOIN ubiq u USING (para)
             |         GROUP BY o.doc_id)
             |SELECT a.doc_id,
             |  coalesce(array_to_string(
             |    [a.paras[i] FOR i IN generate_series(1, len(a.paras))
             |     IF NOT list_contains(coalesce(c.cut, []), i - 1)],
             |    chr(10)||chr(10)), '') AS clean_text,
             |  CAST(coalesce(len(c.cut), 0) AS BIGINT) AS n_removed
             |FROM pa a LEFT JOIN cuts c USING (doc_id)""".stripMargin),
      "boilerplate stripping (CCNet/RefinedWeb): paragraphs in >= minDocs " +
        "distinct docs cut from every doc, first occurrence included; " +
        "rare shared paragraphs survive; only (hash, id, pos) shuffles"),

    // d21: DSIR-shaped importance weights (see Sampling.dsirWeights for
    // the ln-free integer form). Target = every 7th doc (offset 3) — a
    // deterministic "trusted set" slice whose bigram profile the rest of
    // the corpus is scored against. buckets=256 exercises real hash
    // collisions at the sf0.01 vocabulary (~31 tokens → ~900 bigrams).
    "d21_dsir_weights" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        graft.operators.Sampling.dsirWeights(docs, docs.where(col("doc_id") % 7 === 3),
          n = 2, buckets = 256)
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |sg AS (
             |  SELECT doc_id,
             |    CAST(CONCAT('0x', SUBSTR(md5(g), 1, 15)) AS BIGINT) % 256 AS b
             |  FROM (SELECT doc_id, unnest(${spanSqlN(2)}) AS g FROM tk)),
             |sm AS (SELECT b, count(*) AS cnt FROM sg GROUP BY b),
             |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM sm),
             |ps AS (SELECT b, (1000000000 * (cnt + 1)) // (tot + 1) AS ps FROM sm, st),
             |tm AS (SELECT b, count(*) AS cnt FROM sg WHERE doc_id % 7 = 3 GROUP BY b),
             |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM tm),
             |pt AS (SELECT b, (1000000000 * (cnt + 1)) // (tot + 1) AS pt FROM tm, tt),
             |r AS (
             |  SELECT ps.b,
             |    (10000 * coalesce(pt.pt, 0)) // (CASE WHEN ps.ps > 0 THEN ps.ps ELSE 1 END) AS r
             |  FROM ps LEFT JOIN pt USING (b))
             |SELECT doc_id, n_grams, w_sum_e4, w_sum_e4 // n_grams AS w_mean_e4
             |FROM (
             |  SELECT sg.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |    CAST(sum(coalesce(r.r, 0)) AS BIGINT) AS w_sum_e4
             |  FROM sg LEFT JOIN r USING (b) GROUP BY sg.doc_id)""".stripMargin),
      "DSIR-shaped importance weights: hashed-bigram target/source ratio " +
        "models in integer parts-per-1e9, engine-exact; model broadcasts"),

    // Decontamination demo corpus: eval = perturbed copies of every 25th
    // document (an eval set that genuinely overlaps 1/25th of train), so
    // the 8-gram overlap flags exactly those originals. The synthetic
    // vocabulary is ~30 words, so 8-grams are long enough that accidental
    // (non-copy) overlap is absent at every SF — checked, and any
    // accidental hit would be deterministic and mirrored by the oracle.
    "d09_decontaminate" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select("doc_id", "text")
        Dedup.decontaminate(docs, perturbed(docs.where(col("doc_id") % 25 === 0)), n = 8)
          .select("doc_id")
      },
      Some(s"""WITH ev AS (
             |  SELECT doc_id + 100000 AS doc_id,
             |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
             |  FROM documents WHERE doc_id % 25 = 0),
             |eg AS (
             |  SELECT DISTINCT unnest(sh) AS g FROM (
             |    SELECT ${shingleSqlN(8)} AS sh
             |    FROM (SELECT $NormToksSql AS toks FROM ev))),
             |tg AS (
             |  SELECT doc_id, unnest(sh) AS g FROM (
             |    SELECT doc_id, ${shingleSqlN(8)} AS sh
             |    FROM (SELECT doc_id, $NormToksSql AS toks FROM documents)))
             |SELECT doc_id FROM documents
             |WHERE doc_id NOT IN (
             |  SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON t.g = e.g)""".stripMargin),
      "benchmark decontamination: drop train docs sharing any 8-gram with the eval set"),

    // d16: the audit companion of d09 — WHICH eval doc leaked into WHICH
    // train doc, with the distinct-shared-8-gram count (integer outputs:
    // fully hash-checkable).
    "d16_contamination_report" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select("doc_id", "text")
        Dedup.contaminationReport(docs, perturbed(docs.where(col("doc_id") % 25 === 0)), n = 8)
      },
      Some(s"""WITH ev AS (
             |  SELECT doc_id + 100000 AS doc_id,
             |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
             |  FROM documents WHERE doc_id % 25 = 0),
             |eg AS (
             |  SELECT DISTINCT doc_id AS eval_id, unnest(sh) AS g FROM (
             |    SELECT doc_id, ${shingleSqlN(8)} AS sh
             |    FROM (SELECT doc_id, $NormToksSql AS toks FROM ev))),
             |tg AS (
             |  SELECT DISTINCT doc_id AS train_id, unnest(sh) AS g FROM (
             |    SELECT doc_id, ${shingleSqlN(8)} AS sh
             |    FROM (SELECT doc_id, $NormToksSql AS toks FROM documents)))
             |SELECT t.train_id, e.eval_id, count(DISTINCT t.g) AS n_shared
             |FROM tg t JOIN eg e ON t.g = e.g
             |GROUP BY t.train_id, e.eval_id""".stripMargin),
      "contamination audit report: (train, eval, n shared 8-grams) per leaked pair"),

    "d06_embedding_neardups" -> Q(
      (s, dir) => Dedup.embeddingNearDups(tp(s, dir, "embeddings"), threshold = 0.45),
      Some("""SELECT a.vec_id AS ia, b.vec_id AS ib
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             |      / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             |         * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
             |      >= 0.45""".stripMargin),
      "embedding cosine near-dup pairs (ids only: integer output hash-matches)"),

    // Oracle note (d12): pair generation is the exact cosine path (d06),
    // so clustering + survivor selection is fully deterministic; the
    // recursive CTE mirrors the min-label-propagation fixpoint.
    "d12_semantic_dedup" -> Q(
      (s, dir) => Dedup.semanticDedup(tp(s, dir, "embeddings"), threshold = 0.45,
        pairGen = Dedup.SemPairGen.Exact),
      Some("""WITH RECURSIVE pairs AS (
             |  SELECT a.vec_id AS ia, b.vec_id AS ib
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |  WHERE list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             |        / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
             |           * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
             |        >= 0.45),
             |edges AS (
             |  SELECT ia AS src, ib AS dst FROM pairs
             |  UNION SELECT ib, ia FROM pairs),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             |lab AS (
             |  SELECT src AS node, least(src, min(dst)) AS cluster
             |  FROM reach GROUP BY src)
             |SELECT vec_id FROM embeddings
             |WHERE vec_id NOT IN (SELECT node FROM lab WHERE cluster < node)""".stripMargin),
      "SemDeDup: embedding near-dup pairs, transitive clusters, keep min-id representative"),

    // d15: the BLOCKED SemDeDup path (LSH candidate generation — the shape
    // that survives 100 TB) self-measured against the exact path's truth:
    // one summary row with the dropped-set recall and a pass flag
    // (recall ≥ 0.95). No SQL oracle (LSH buckets hash engine-side), but
    // the invariant is embedded in the output — `pass` must read true.
    // The default pair gen auto-sizes planes from a count probe (r8); at
    // this corpus size (n=500, sf0.01) the auto size resolves to the
    // 4-plane low-threshold design point, so the measured recall here is
    // the same bounded-corpus guarantee as before the auto default.
    "d15_semantic_dedup_blocked" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val exact = Dedup.semanticDedup(emb, threshold = 0.45,
          pairGen = Dedup.SemPairGen.Exact)
          .withColumn("kept_exact", lit(1))
        val blocked = Dedup.semanticDedup(emb, threshold = 0.45) // default: LSH
          .withColumn("kept_blocked", lit(1))
        emb.select(col("vec_id"))
          .join(exact, Seq("vec_id"), "left")
          .join(blocked, Seq("vec_id"), "left")
          .agg(
            sum(when(col("kept_exact").isNull, 1L).otherwise(0L)).as("n_dropped_exact"),
            sum(when(col("kept_blocked").isNull, 1L).otherwise(0L)).as("n_dropped_blocked"),
            sum(when(col("kept_exact").isNull && col("kept_blocked").isNull, 1L)
              .otherwise(0L)).as("n_dropped_both"))
          .select(
            col("n_dropped_exact"), col("n_dropped_blocked"), col("n_dropped_both"),
            // recall is defined as 1.0 when nothing is droppable — without
            // the guard a dup-free corpus yields NULL recall/pass and the
            // "pass must read true" invariant becomes unverifiable
            when(col("n_dropped_exact") === 0, lit(1.0))
              .otherwise(col("n_dropped_both").cast("double") / col("n_dropped_exact"))
              .as("recall"),
            when(col("n_dropped_exact") === 0, col("n_dropped_blocked") === 0)
              .otherwise(col("n_dropped_both").cast("double") / col("n_dropped_exact") >= 0.95
                && col("n_dropped_blocked") <= col("n_dropped_exact")).as("pass"))
      },
      None,
      "SemDeDup blocked path (LSH candidates): self-measured recall vs exact truth"),

    // Oracle note (d13): Bloom prefilter + exact verify ≡ the exact
    // anti-join (no false negatives), so the oracle is d09's shape on a
    // different eval slice.
    "d13_bloom_decontaminate" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select("doc_id", "text")
        Dedup.bloomDecontaminate(docs, perturbed(docs.where(col("doc_id") % 20 === 5)), n = 8)
          .select("doc_id")
      },
      Some(s"""WITH ev AS (
             |  SELECT doc_id + 100000 AS doc_id,
             |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
             |  FROM documents WHERE doc_id % 20 = 5),
             |eg AS (
             |  SELECT DISTINCT unnest(sh) AS g FROM (
             |    SELECT ${shingleSqlN(8)} AS sh
             |    FROM (SELECT $NormToksSql AS toks FROM ev))),
             |tg AS (
             |  SELECT doc_id, unnest(sh) AS g FROM (
             |    SELECT doc_id, ${shingleSqlN(8)} AS sh
             |    FROM (SELECT doc_id, $NormToksSql AS toks FROM documents)))
             |SELECT doc_id FROM documents
             |WHERE doc_id NOT IN (
             |  SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON t.g = e.g)""".stripMargin),
      "Bloom-prefiltered decontamination: codegen'd bloom probe map-side, exact verify join"),

    // Oracle note (d14): eval = every 25th embedding (verbatim leakage —
    // the canonical contamination case); train rows within cosine 0.99 of
    // any eval vector drop. Division-form cosine matches d06.
    "d14_semantic_decontaminate" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        Dedup.semanticDecontaminate(emb, emb.where(col("vec_id") % 25 === 0),
          threshold = 0.99).select("vec_id")
      },
      Some("""WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 25 = 0)
             |SELECT vec_id FROM embeddings t
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM ev e
             |  WHERE list_inner_product(CAST(t.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
             |        / (sqrt(list_inner_product(CAST(t.embedding AS DOUBLE[]), CAST(t.embedding AS DOUBLE[])))
             |           * sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))))
             |        >= 0.99)""".stripMargin),
      "semantic decontamination: map-only cosine screen against broadcast eval embeddings"),

    // ---- similarity search ----------------------------------------------
    "s01_ann_bruteforce" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
      },
      Some("""SELECT query_id, rank, neighbor_id FROM (
             |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             |    CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
             |      / (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
             |         * sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
             |      DESC, c.vec_id) AS INT) AS rank
             |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 10)
             |WHERE rank <= 5""".stripMargin),
      "exact cosine top-k, broadcast query set"),

    // s04: storage-side compression of the vector pipeline. The oracle
    // projects integer per-vector summaries (sum/min/max/saturation
    // count) plus the scale: the q array itself can't be output (the
    // driver's pandas row-sort throws on ndarray cells), and the
    // summaries pin every element anyway modulo permutation.
    "s04_quantize_int8" -> Q(
      (s, dir) => Similarity.quantizeInt8(tp(s, dir, "embeddings"))
        .select(col("vec_id"),
          aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
          array_min(col("q")).as("q_min"),
          array_max(col("q")).as("q_max"),
          size(filter(col("q"), x => abs(x) === 127)).as("n_sat"),
          col("scale")),
      Some("""WITH qt AS (
             |  SELECT vec_id,
             |    [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
             |    list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS m
             |  FROM embeddings),
             |sc AS (
             |  SELECT vec_id, v,
             |    CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END AS s
             |  FROM qt),
             |z AS (
             |  SELECT vec_id, s,
             |    [CASE WHEN s = 0 THEN 0 ELSE CAST(floor(x * s + 0.5) AS INT) END
             |     FOR x IN v] AS q
             |  FROM sc)
             |SELECT vec_id,
             |  CAST(list_sum(q) AS BIGINT) AS q_sum,
             |  CAST(list_min(q) AS INT) AS q_min,
             |  CAST(list_max(q) AS INT) AS q_max,
             |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS INT) AS n_sat,
             |  s AS scale
             |FROM z""".stripMargin),
      "symmetric int8 embedding quantization (floor-half-up — engine-exact, " +
        "unlike round() builtins); integer summaries + scale oracle-checked"),

    // s02: SELF-CHECKING (no SQL oracle — bucket hashes are engine-side):
    // the found pair set is measured against the exact-cosine ground truth
    // (d06's definition at this threshold) inside the query. LSH verifies
    // candidates with exact cosine, so found ⊆ truth by construction; the
    // output row carries the recall and a pass flag (≥ 0.95). 4 planes ×
    // 16 tables is the low-threshold design point (see SemPairGen.Lsh).
    "s02_ann_lsh" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val truth = Dedup.embeddingNearDups(emb, threshold = 0.4)
          .withColumn("t", lit(1))
        val found = Similarity.lshCosinePairs(emb,
          threshold = 0.4, nPlanes = 4, nTables = 24)
          .withColumn("f", lit(1))
        truth.join(found, Seq("ia", "ib"), "left")
          .agg(count(lit(1)).as("n_truth"), sum(col("f")).as("n_found"))
          .select(col("n_truth"), col("n_found"),
            (col("n_found").cast("double") / col("n_truth")).as("recall"),
            (col("n_found").cast("double") / col("n_truth") >= 0.95).as("pass"))
      },
      None,
      "random-hyperplane LSH ANN: map-only signatures, bucket-join " +
        "candidates, self-measured recall vs exact truth"),

    "s03_ann_ivf" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 5)
      },
      Some("""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
             |        FROM embeddings),
             |cent AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id % 37 = 0),
             |asg AS (SELECT cent_id, nid, nv, nn FROM (
             |  SELECT c.cent_id, n.vec_id AS nid, n.v AS nv, n.nrm AS nn,
             |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
             |      list_inner_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS rn
             |  FROM n CROSS JOIN cent c) WHERE rn = 1),
             |probe AS (SELECT cent_id, qid, qv, qn FROM (
             |  SELECT c.cent_id, n.vec_id AS qid, n.v AS qv, n.nrm AS qn,
             |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
             |      list_inner_product(n.v, c.cv) / (n.nrm * c.cn) DESC, c.cent_id) AS rn
             |  FROM n CROSS JOIN cent c WHERE n.vec_id < 10) WHERE rn <= 2)
             |SELECT query_id, rank, neighbor_id FROM (
             |  SELECT p.qid AS query_id, a.nid AS neighbor_id,
             |    CAST(row_number() OVER (PARTITION BY p.qid ORDER BY
             |      list_inner_product(p.qv, a.nv) / (p.qn * a.nn) DESC, a.nid) AS INT) AS rank
             |  FROM probe p JOIN asg a USING (cent_id)
             |  WHERE p.qid <> a.nid)
             |WHERE rank <= 5""".stripMargin),
      "IVF ANN: deterministic coarse cells, nProbe=2, exact re-rank in probed cells"),

    // Oracle note (s05): Lloyd's distributed cell means sum doubles in
    // nondeterministic order, so the refined top-k is not hash-stable the
    // way s03's seed-centroid path is — the entry instead SELF-CHECKS the
    // invariant the refinement must deliver (recall vs the exact truth not
    // below the unrefined seed at the same probe count), the same contract
    // `SimilaritySpec` pins with a lift margin on its fixture.
    "s05_ann_ivf_lloyd" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val queries = emb.where(col("vec_id") % 11 === 3)
        val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
          .select("query_id", "neighbor_id")
        val sampled = Similarity.ivfTopK(emb, queries, k = 5, nProbe = 2)
          .select(col("query_id"), col("neighbor_id")).withColumn("in_s", lit(1))
        val lloyd = Similarity.ivfTopK(emb, queries, k = 5, nProbe = 2, lloydIters = 2)
          .select(col("query_id"), col("neighbor_id")).withColumn("in_l", lit(1))
        truth
          .join(sampled, Seq("query_id", "neighbor_id"), "left")
          .join(lloyd, Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("in_s"), lit(0))).as("n_sampled"),
            sum(coalesce(col("in_l"), lit(0))).as("n_lloyd"))
          .select(col("n_truth"), col("n_sampled"), col("n_lloyd"),
            (col("n_sampled").cast("double") / col("n_truth")).as("recall_sampled"),
            (col("n_lloyd").cast("double") / col("n_truth")).as("recall_lloyd"),
            (col("n_lloyd") >= col("n_sampled")).as("pass"))
      },
      None,
      "IVF with Lloyd-refined centroids: self-measured recall vs exact " +
        "truth must not fall below the mod-sampled seed at equal nProbe"),

    // s06: product quantization — SELF-CHECKING like s02/s05 (subspace
    // k-means has no DuckDB-expressible oracle): ADC shortlist over
    // 8-byte codes + exact re-rank (the standard PQ serving shape),
    // recall@5 measured against s01's exact-cosine truth inside the
    // query; the floor is pinned from measurement with margin
    // (refined@32 ≈ 0.60 on this near-isotropic synthetic corpus — the
    // worst case for PQ; SimilaritySpec re-measures, and training is
    // deterministic so the recall is a constant of the corpus, not a
    // distribution).
    "s06_ann_pq" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val queries = emb.where(col("vec_id") % 11 === 3)
        val model = Similarity.pqTrain(emb, m = 8, k = 16, iters = 2)
        val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
          .select("query_id", "neighbor_id")
        val pq = Similarity.pqTopK(emb, queries, model, k = 5, refine = 32)
          .select(col("query_id"), col("neighbor_id")).withColumn("in_p", lit(1))
        truth.join(pq, Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("in_p"), lit(0))).as("n_pq"))
          .select(col("n_truth"), col("n_pq"),
            (col("n_pq").cast("double") / col("n_truth")).as("recall"),
            (col("n_pq").cast("double") / col("n_truth") >= 0.5).as("pass"))
      },
      None,
      "PQ: m-byte codes, map-only ADC shortlist, broadcast exact re-rank; " +
        "self-measured recall vs exact truth"),

    // s07: IVF-PQ (IVFADC) — s03's coarse-cell pruning composed with
    // s06's code-only ADC scan + exact re-rank: the canonical
    // billion-scale serving shape. SELF-CHECKING like s06 (same
    // near-isotropic worst-case corpus; cell pruning stacks its own
    // recall loss on code quantization, hence the lower gate) and
    // z01-proved; SimilaritySpec pins determinism and planted neighbors.
    // Cells are AUTO-SIZED (r17 verdict item 6): ivfAutoCentroidMod
    // gives √n cells of √n vectors, retiring the fixed-mod n²/mod
    // assignment term the r16 factor-30 probe named (21.9× at 30×).
    // The corpus count is deterministic for a fixed dataset, so the
    // recall gate stays a corpus constant (the mod resolves to the old
    // 37 at sf0.01 and 45 at sf0.1); the count itself is one
    // metadata-cheap pass, paid once per build.
    "s07_ann_ivfpq" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val queries = emb.where(col("vec_id") % 11 === 3)
        // the corpus-count job (the auto-mod sizing input) AND the
        // coarse-centroid chain (count → seed → Lloyd → collect) are
        // independent of pqTrain's bounded pulls — overlap them from a
        // driver thread (guide §2.6: actions are only sequential because
        // driver code calls them sequentially); same count, same mod,
        // same centroid rows (ivfPqCentroids runs the exact plan
        // ivfPqTopK would run inline), fewer idle dispatch rounds
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val centF = Future {
          val mod = Similarity.ivfAutoCentroidMod(emb.count())
          (mod, Similarity.ivfPqCentroids(emb, mod, lloydIters = 2))
        }
        val model = Similarity.pqTrain(emb, m = 8, k = 16, iters = 2)
        val truth = Similarity.bruteForceTopK(emb, queries, k = 5)
          .select("query_id", "neighbor_id")
        val (mod, cents) = Await.result(centF, Duration.Inf)
        val ann = Similarity.ivfPqTopK(emb, queries, model, k = 5,
          nProbe = 4, centroidMod = mod,
          lloydIters = 2, refine = 32,
          precomputedCentroids = Some(cents))
          .select(col("query_id"), col("neighbor_id")).withColumn("in_p", lit(1))
        truth.join(ann, Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("in_p"), lit(0))).as("n_ivfpq"))
          .select(col("n_truth"), col("n_ivfpq"),
            (col("n_ivfpq").cast("double") / col("n_truth")).as("recall"),
            (col("n_ivfpq").cast("double") / col("n_truth") >= 0.4).as("pass"))
      },
      None,
      "IVF-PQ (IVFADC): coarse-cell pruning, code-only ADC in probed " +
        "cells, broadcast exact re-rank; self-measured recall vs truth"),

    // s12: the PERSISTED-index serving path — s07's IVF-PQ with the
    // build paid once: artifacts (centroids/codebooks/meta + codes
    // partitionBy(cell)) land on disk, the serve job partition-prunes
    // the codes scan to its probed cells (AnnIndexSpec pins ≤nProbe
    // partitions read) and must reproduce the in-query operator
    // ROW-FOR-ROW — the self-check is exact equality, not a recall
    // bound, because both paths are deterministic given the same model.
    "s12_ann_index_serve" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val queries = emb.where(col("vec_id") % 11 === 3)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_s12_index").toString + "/idx"
        // parameters deliberately LIGHTER than s07's (trainIters=1,
        // no lloyd, nProbe=2): the claim here is serve ≡ in-query
        // row-for-row — an EQUALITY, true at any quality point — and
        // s07 already recall-gates the heavy configuration
        // centroidMod 149 ≈ √n cells at sf0.1 (the textbook IVF
        // sizing) — also keeps the artifact's directory count sane
        val idx = Similarity.saveIvfPqIndex(emb, tmp,
          m = 8, kCodes = 16, trainIters = 1, centroidMod = 149)
        val served = Similarity.servedIvfPqTopK(s, tmp, queries,
          k = 5, nProbe = 2, refine = 16, refineCorpus = Some(emb))
          .withColumnRenamed("neighbor_id", "served_id")
        val inq = Similarity.ivfPqTopK(emb, queries, idx.model,
          k = 5, nProbe = 2, centroidMod = 149, refine = 16)
          .withColumnRenamed("neighbor_id", "inq_id")
        served.join(inq, Seq("query_id", "rank"), "full_outer")
          .agg(count(lit(1)).as("n_rows"),
            count_distinct(col("query_id")).as("n_queries"),
            sum(when(col("served_id") === col("inq_id"), 0L).otherwise(1L))
              .as("n_mismatch"))
          .select(col("n_rows"), col("n_queries"), col("n_mismatch"),
            (col("n_rows") > 0 && col("n_mismatch") === 0).as("pass"))
      },
      None,
      "persisted IVF-PQ index serving (build once, serve many): stored " +
        "centroids/codebooks/cell-partitioned codes, partition-pruned " +
        "serve reproduces the in-query operator row-for-row"),

    // s08: semi-hard triplet mining (FaceNet §3.2) — contrastive-training
    // data assembly. Fully SQL-expressible (exact cosine, deterministic
    // tie-breaks), so unlike the ANN entries it gets a hash-match oracle.
    "s08_hard_negatives" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        Similarity.semiHardTriplets(emb, emb.where(col("vec_id") < 10), k = 5)
      },
      Some("""WITH a AS (SELECT vec_id AS anchor_id, label AS al,
             |            CAST(embedding AS DOUBLE[]) AS av
             |          FROM embeddings WHERE vec_id < 10),
             |sc AS (SELECT anchor_id, al, c.vec_id AS cand_id, c.label AS cl,
             |         list_inner_product(av, CAST(c.embedding AS DOUBLE[]))
             |         / (sqrt(list_inner_product(av, av))
             |            * sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]),
             |                                      CAST(c.embedding AS DOUBLE[])))) AS cos
             |       FROM a JOIN embeddings c ON c.vec_id <> anchor_id),
             |p AS (SELECT anchor_id, cand_id AS pos_id, cos AS pos_cos FROM (
             |        SELECT *, row_number() OVER (PARTITION BY anchor_id
             |                    ORDER BY cos DESC, cand_id) AS rn
             |        FROM sc WHERE al = cl) WHERE rn = 1)
             |SELECT anchor_id, pos_id, CAST(rank AS INT) AS rank, neg_id FROM (
             |  SELECT s.anchor_id, p.pos_id, s.cand_id AS neg_id,
             |    row_number() OVER (PARTITION BY s.anchor_id
             |      ORDER BY s.cos DESC, s.cand_id) AS rank
             |  FROM sc s JOIN p ON s.anchor_id = p.anchor_id
             |  WHERE s.al <> s.cl AND s.cos < p.pos_cos)
             |WHERE rank <= 5""".stripMargin),
      "semi-hard triplet mining (FaceNet): nearest positive as one argmax " +
        "aggregate, k hardest below-positive negatives via heap top-k; " +
        "anchors broadcast, corpus scan map-only"),

    // s09: PCA train + project. SELF-CHECKING (eigenvectors have no
    // DuckDB-expressible oracle): driver-side model invariants
    // (orthonormal basis, eigenvalues descending, captured ≤ total
    // variance) plus DATA-side re-measurement — the population variance
    // of each projected coordinate must equal its eigenvalue, and each
    // whitened coordinate must have unit variance, which ties the
    // distributed projection plan to the trained basis. SimilaritySpec
    // pins recovery of a planted dominant axis; ShuffleBudgetSpec pins
    // the one-pass train / zero-exchange project budgets.
    "s09_pca_project" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val nc = 8
        val model = Similarity.pcaTrain(emb, nComponents = nc)
        val orthoErr = (for {
          i <- 0 until nc; j <- i until nc
        } yield math.abs(model.components(i).zip(model.components(j))
            .map { case (x, y) => x * y }.sum - (if (i == j) 1.0 else 0.0)))
          .max
        // ordering slack is relative: within a near-degenerate eigenspace
        // two Rayleigh quotients can land convergence-error apart
        val eigOrdered = model.eigenvalues.forall(_ >= 0) &&
          model.eigenvalues.sliding(2).forall(p =>
            p.length < 2 || p(0) >= p(1) - 1e-9 * model.totalVar)
        val varRatio = model.eigenvalues.sum / model.totalVar
        val both = Similarity.pcaProject(
          Similarity.pcaProject(emb, model, whiten = false, outCol = "pc"),
          model, whiten = true, outCol = "wc")
        val aggs = (0 until nc).map(i =>
            var_pop(element_at(col("pc"), i + 1)).as(s"v$i")) ++
          (0 until nc).map(i =>
            var_pop(element_at(col("wc"), i + 1)).as(s"w$i")) :+
          count(lit(1)).as("n")
        val row = both.agg(aggs.head, aggs.tail: _*)
        val varErr = greatest((0 until nc).map(i =>
          abs(col(s"v$i") - lit(model.eigenvalues(i)))): _*)
        // greatest() needs ≥2 args; a (near-)rank-deficient spectrum can
        // leave 0 or 1 whitenable components
        val whitenCols = (0 until nc)
          .filter(i => model.eigenvalues(i) > 1e-12 * model.totalVar)
          .map(i => abs(col(s"w$i") - lit(1.0)))
        val whitenErr = whitenCols match {
          case Seq() => lit(0.0)
          case Seq(one) => one
          case many => greatest(many: _*)
        }
        row.select(col("n"),
            lit(varRatio).as("var_ratio"),
            lit(orthoErr < 1e-8).as("ortho_in_bound"),
            lit(eigOrdered && varRatio <= 1.0 + 1e-9 && varRatio > 0.0)
              .as("eig_order_in_bound"),
            (varErr <= lit(1e-6 * model.totalVar)).as("var_match_in_bound"),
            (whitenErr <= lit(1e-4)).as("whiten_in_bound"))
          .withColumn("pass",
            col("ortho_in_bound") && col("eig_order_in_bound") &&
              col("var_match_in_bound") && col("whiten_in_bound"))
      },
      None,
      "PCA whitening/reduction: one-pass moment aggregate + driver power " +
        "iteration, map-only literal-basis projection; self-checked " +
        "against re-measured projected variances"),

    // s10: PCA-reduced candidate generation + exact re-rank — the
    // dimensionality-reduction serving pattern (scan 16 of 64 dims for
    // the shortlist, touch full vectors only for shortlisted rows).
    // SELF-CHECKING like the other compressed-ANN entries (same
    // near-isotropic worst-case corpus — the measured recall is a
    // deterministic corpus constant because PCA training is
    // deterministic); z01-proved.
    "s10_ann_pca_rerank" -> Q(
      (s, dir) => {
        val emb = tp(s, dir, "embeddings")
        val isQ = col("vec_id") % 11 === 3
        val model = Similarity.pcaTrain(emb, nComponents = 16)
        val red = Similarity.pcaProject(emb, model)
          .select(col("vec_id"), col("pc").as("embedding"), col("label"))
        val shortlist = Similarity.bruteForceTopK(red, red.where(isQ), k = 32)
        val ann = Similarity.rerankExact(emb, emb.where(isQ), shortlist, k = 5)
          .select(col("query_id"), col("neighbor_id")).withColumn("in_p", lit(1))
        val truth = Similarity.bruteForceTopK(emb, emb.where(isQ), k = 5)
          .select("query_id", "neighbor_id")
        truth.join(ann, Seq("query_id", "neighbor_id"), "left")
          .agg(count(lit(1)).as("n_truth"),
            sum(coalesce(col("in_p"), lit(0))).as("n_pca"))
          .select(col("n_truth"), col("n_pca"),
            (col("n_pca").cast("double") / col("n_truth")).as("recall"),
            (col("n_pca").cast("double") / col("n_truth") >= 0.5).as("pass"))
      },
      None,
      "PCA-reduced ANN: 16-dim shortlist scan + full-dim exact re-rank; " +
        "self-measured recall vs exact truth"),

    // s11: embedding outlier scoring — integer-exact centroid deviation
    // on the int8-normalized representation (see outlierScores scaladoc:
    // a float centroid is summation-order-dependent across engines; the
    // all-BIGINT form is not), so unlike most embedding-space ops it
    // gets a full hash-match oracle.
    "s11_embedding_outliers" -> Q(
      (s, dir) => Similarity.outlierScores(tp(s, dir, "embeddings"), k = 3),
      Some("""WITH qt AS (
             |  SELECT vec_id, label,
             |    [CASE WHEN s = 0 THEN 0 ELSE CAST(floor(x * s + 0.5) AS BIGINT) END
             |     FOR x IN v] AS q
             |  FROM (SELECT vec_id, label, v,
             |          CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END AS s
             |        FROM (SELECT vec_id, label,
             |                [CAST(x AS DOUBLE) FOR x IN embedding] AS v,
             |                list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS m
             |              FROM embeddings))),
             |d AS (SELECT label, i, sum(q[i]) AS sd, CAST(count(*) AS BIGINT) AS n
             |      FROM qt, generate_series(1, 64) AS g(i) GROUP BY label, i),
             |devs AS (SELECT q.vec_id, q.label,
             |           sum((q.q[d.i] * d.n - d.sd) * (q.q[d.i] * d.n - d.sd)) AS dev
             |         FROM qt q JOIN d ON d.label = q.label
             |         GROUP BY q.vec_id, q.label)
             |SELECT label, vec_id, CAST(dev AS BIGINT) AS dev,
             |       CAST(rank AS INT) AS rank
             |FROM (SELECT *, row_number() OVER (PARTITION BY label
             |        ORDER BY dev DESC, vec_id) AS rank FROM devs)
             |WHERE rank <= 3""".stripMargin),
      "embedding outlier filter: top-k centroid deviation per label in " +
        "all-integer arithmetic on int8-normalized vectors; one moment " +
        "aggregate + map-only deviation pass + heap top-k"),

    // ---- text analysis ---------------------------------------------------
    "t01_token_stats" -> Q(
      (s, dir) => TextAnalysis.tokenStats(tp(s, dir, "documents")),
      Some("""SELECT doc_id,
             |  CAST(length(text) AS INT) AS n_chars,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_bpe_tokens,
             |  CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\s+'))) AS INT) AS n_distinct_tokens
             |FROM documents""".stripMargin)),

    "t02_quality" -> Q(
      (s, dir) => TextAnalysis.qualityScore(tp(s, dir, "documents")),
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS INT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS INT) AS n_alpha,
             |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digit,
             |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_space,
             |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_toks,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      w -> w IN ('the','and','of','to','a','in','is','that','for','it'))) AS INT) AS stop_hits
             |  FROM documents)
             |SELECT doc_id, n_chars,
             |  CAST(floor(10000.0 * n_alpha / n_chars) AS INT) AS alpha_bp,
             |  CAST(floor(10000.0 * n_digit / n_chars) AS INT) AS digit_bp,
             |  CAST(floor(10000.0 * (n_chars - n_alpha - n_digit - n_space) / n_chars) AS INT) AS punct_bp,
             |  CAST(floor(10000.0 * stop_hits / n_toks) AS INT) AS stopword_bp,
             |  CAST(floor(10000.0 * (n_chars - n_space) / n_toks) AS INT) AS mean_token_len_bp,
             |  CAST(CAST(floor(10000.0 * n_alpha / n_chars) AS INT)
             |     + CAST(floor(10000.0 * stop_hits / n_toks) AS INT) * 2 AS INT) AS quality_score
             |FROM m""".stripMargin),
      "C4-style quality heuristics; ratios as integer basis points"),

    "t03_langid" -> Q(
      (s, dir) => TextAnalysis.langId(tp(s, dir, "documents")),
      Some("""WITH m AS (
             |  SELECT doc_id, text,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      w -> w IN ('the','and','of','to','a','in','is','that','for','it'))) AS INT) AS hits_en,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      w -> w IN ('el','la','los','las','de','que','y','en','un','una'))) AS INT) AS hits_es,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      w -> w IN ('le','la','les','des','et','du','que','une','dans','est'))) AS INT) AS hits_fr,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      w -> w IN ('der','die','das','und','ist','von','mit','den','nicht','ein'))) AS INT) AS hits_de
             |  FROM documents)
             |SELECT doc_id,
             |  CASE
             |    WHEN length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) > 0 THEN 'zh'
             |    WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
             |    WHEN hits_en = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'en'
             |    WHEN hits_es = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'es'
             |    WHEN hits_fr = greatest(hits_en, hits_es, hits_fr, hits_de) THEN 'fr'
             |    ELSE 'de' END AS lang_pred,
             |  hits_en, hits_es, hits_fr, hits_de
             |FROM m""".stripMargin),
      "stopword-vote language ID with deterministic tie-break"),

    "t04_fingerprint" -> Q(
      (s, dir) => TextAnalysis.fingerprint(tp(s, dir, "documents")),
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
             |FROM documents""".stripMargin)),

    "t06_repetition" -> Q(
      (s, dir) => TextAnalysis.repetitionSignals(tp(s, dir, "documents")),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |base AS (SELECT doc_id, len(toks) AS n_toks, len(list_distinct(toks)) AS n_distinct FROM t),
             |g1 AS (SELECT doc_id, max(c) AS top1 FROM (
             |  SELECT doc_id, g, count(*) AS c
             |  FROM (SELECT doc_id, unnest(toks) AS g FROM t) GROUP BY 1, 2) GROUP BY 1),
             |g2 AS (SELECT doc_id, max(c) AS top2 FROM (
             |  SELECT doc_id, g, count(*) AS c
             |  FROM (SELECT doc_id, unnest(
             |    CASE WHEN len(toks) >= 2
             |         THEN [array_to_string(toks[i:i+1], ' ') FOR i IN generate_series(1, len(toks) - 1)]
             |         ELSE [array_to_string(toks, ' ')] END) AS g FROM t) GROUP BY 1, 2) GROUP BY 1),
             |g3 AS (SELECT doc_id, max(c) AS top3 FROM (
             |  SELECT doc_id, g, count(*) AS c
             |  FROM (SELECT doc_id, unnest(
             |    CASE WHEN len(toks) >= 3
             |         THEN [array_to_string(toks[i:i+2], ' ') FOR i IN generate_series(1, len(toks) - 2)]
             |         ELSE [array_to_string(toks, ' ')] END) AS g FROM t) GROUP BY 1, 2) GROUP BY 1)
             |SELECT doc_id, CAST(n_toks AS INT) AS n_toks,
             |  CAST(floor(10000.0 * top1 / n_toks) AS INT) AS top1_bp,
             |  CAST(floor(10000.0 * top2 / greatest(n_toks - 1, 1)) AS INT) AS top2_bp,
             |  CAST(floor(10000.0 * top3 / greatest(n_toks - 2, 1)) AS INT) AS top3_bp,
             |  CAST(floor(10000.0 * n_distinct / n_toks) AS INT) AS distinct_bp
             |FROM base JOIN g1 USING (doc_id) JOIN g2 USING (doc_id) JOIN g3 USING (doc_id)""".stripMargin),
      "Gopher-style repetition signals: top unigram/2-gram/3-gram occurrence fractions"),

    // PII corpus is synthesized deterministically from `customer` (the
    // testdata has no natural PII): one email + one phone + one IPv4 per
    // row, a second email for every third customer.
    "t07_pii_redact" -> Q(
      (s, dir) => {
        val k = col("c_custkey")
        val contact = concat(
          lit("contact "), col("c_name"),
          lit(" user"), k.cast("string"), lit("@mail"), pmod(k, lit(7)).cast("string"),
          lit(".example.com"),
          when(pmod(k, lit(3)) === 0,
            concat(lit(" alt user"), k.cast("string"), lit("b@alt.org"))).otherwise(lit("")),
          lit(" tel "), (lit(10) + pmod(k, lit(89))).cast("string"),
          lit("-"), (lit(100) + pmod(k, lit(899))).cast("string"),
          lit("-"), (lit(1000) + pmod(k, lit(8999))).cast("string"),
          lit(" ip 10."), col("c_nationkey").cast("string"),
          lit("."), pmod(k, lit(256)).cast("string"),
          lit("."), pmod(k, lit(97)).cast("string"), lit(" end"))
        TextAnalysis.piiRedact(
          t(s, dir, "customer").select(k.as("doc_id"), contact.as("text")))
      },
      Some("""WITH m AS (
             |  SELECT c_custkey AS doc_id,
             |    concat('contact ', c_name,
             |      ' user', CAST(c_custkey AS VARCHAR), '@mail', CAST(c_custkey % 7 AS VARCHAR),
             |      '.example.com',
             |      CASE WHEN c_custkey % 3 = 0
             |           THEN concat(' alt user', CAST(c_custkey AS VARCHAR), 'b@alt.org')
             |           ELSE '' END,
             |      ' tel ', CAST(10 + c_custkey % 89 AS VARCHAR),
             |      '-', CAST(100 + c_custkey % 899 AS VARCHAR),
             |      '-', CAST(1000 + c_custkey % 8999 AS VARCHAR),
             |      ' ip 10.', CAST(c_nationkey AS VARCHAR),
             |      '.', CAST(c_custkey % 256 AS VARCHAR),
             |      '.', CAST(c_custkey % 97 AS VARCHAR), ' end') AS text
             |  FROM customer)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
             |  CAST(len(regexp_extract_all(text, '\b\d{2,3}-\d{3,4}-\d{4}\b')) AS INT) AS n_phones,
             |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
             |  regexp_replace(
             |    regexp_replace(
             |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |      '\b\d{2,3}-\d{3,4}-\d{4}\b', '<PHONE>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
             |FROM m""".stripMargin),
      "PII scrubbing: count + redact emails/phones/IPv4 to typed placeholders"),

    // ---- dataset assembly -------------------------------------------------
    "q35_hash_split" -> Q(
      (s, dir) => graft.operators.Sampling.hashSplit(t(s, dir, "documents"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id")),
      Some("""WITH s AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
             |  FROM (SELECT doc_id, lang,
             |          CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
             |        FROM documents))
             |SELECT lang, split, count(*) AS n,
             |       min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM s GROUP BY 1, 2""".stripMargin),
      "deterministic train/val/test hash split (stable under corpus growth)"),

    "q36_seq_pack" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.operators.Sampling.sequentialPack(docs, groupCol = "lang",
          orderCol = "doc_id",
          tokenCountCol = size(split(Dedup.normalize(col("text")), " ")).cast("long"),
          budget = 512)
          .select(col("doc_id"), col("lang"), col("n_tok").cast("int").as("n_tok"),
            col("offset"), col("bin"), col("bin_offset"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id, lang,
             |    len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS n_tok
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, lang, n_tok,
             |    coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS "offset"
             |  FROM t)
             |SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok,
             |  CAST("offset" AS BIGINT) AS "offset",
             |  CAST("offset" // 512 AS BIGINT) AS bin,
             |  CAST("offset" % 512 AS BIGINT) AS bin_offset
             |FROM o""".stripMargin),
      "sequential context-window packing: concat-then-chunk running offsets"),

    "q37_mixture_sample" -> Q(
      (s, dir) => graft.operators.Sampling.mixtureSample(
        t(s, dir, "documents").select("doc_id", "source"),
        weightsBp = Map("src0" -> 25000, "src1" -> 10000, "src2" -> 4000)),
      Some(s"""WITH w AS (
             |  SELECT doc_id, source,
             |    CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 10000
             |                WHEN 'src2' THEN 4000 ELSE 0 END AS wbp
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source,
             |    (wbp // 10000) + CASE WHEN ${Md5LongSql.format("CAST(doc_id AS VARCHAR)")} % 10000
             |                               < wbp % 10000 THEN 1 ELSE 0 END AS n
             |  FROM w)
             |SELECT doc_id, source, CAST(unnest(generate_series(1, n)) AS INT) AS copy
             |FROM c WHERE n > 0""".stripMargin),
      "domain-mixture resampling: fractional epochs per source, hash-deterministic"),

    // q53: √-temperature domain rebalancing. The synthetic sources are
    // uniform, so the entry first coarsens them into skewed domains
    // (web 12 sources, books 4, code 3, wiki 1) — the realistic shape:
    // a fat head the temperature rule downsamples and a thin tail it
    // upsamples, at constant corpus size. The weight math is integer +
    // IEEE-sqrt end-to-end (see temperatureMixture), so the oracle
    // re-derives identical basis points.
    "q53_temperature_mixture" -> Q(
      (s, dir) => {
        val sn = expr("cast(substr(source, 4, 10) as int)")
        val docs = t(s, dir, "documents").select(col("doc_id"),
          when(sn <= 11, "web").when(sn <= 15, "books")
            .when(sn <= 18, "code").otherwise("wiki").as("domain"))
        graft.operators.Sampling.temperatureMixture(docs, srcCol = "domain")
      },
      Some(s"""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN CAST(substr(source, 4, 10) AS INT) <= 11 THEN 'web'
             |         WHEN CAST(substr(source, 4, 10) AS INT) <= 15 THEN 'books'
             |         WHEN CAST(substr(source, 4, 10) AS INT) <= 18 THEN 'code'
             |         ELSE 'wiki' END AS domain
             |  FROM documents),
             |c AS (SELECT domain, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY domain),
             |sc AS (SELECT domain, n,
             |         CAST(floor(sqrt(CAST(n AS DOUBLE) * 100000000)) AS BIGINT) AS sd
             |       FROM c),
             |tt AS (SELECT sum(sd) AS ssum, (SELECT CAST(count(*) AS BIGINT) FROM documents) AS tot
             |       FROM sc),
             |w AS (SELECT domain,
             |        CAST((CAST(10000 AS HUGEINT) * tt.tot * sd) // (CAST(tt.ssum AS HUGEINT) * n) AS BIGINT) AS wbp
             |      FROM sc, tt),
             |x AS (SELECT d.doc_id, d.domain,
             |        (w.wbp // 10000) +
             |        CASE WHEN ${Md5LongSql.format("CAST(d.doc_id AS VARCHAR)")} % 10000
             |                  < w.wbp % 10000 THEN 1 ELSE 0 END AS ncp
             |      FROM d JOIN w ON d.domain = w.domain)
             |SELECT doc_id, domain, CAST(unnest(generate_series(1, ncp)) AS INT) AS copy
             |FROM x WHERE ncp > 0""".stripMargin),
      "√-temperature domain rebalancing (XLM-R/mT5 α=1/2): weights derived " +
        "from corpus counts in cross-engine-exact integer/IEEE-sqrt " +
        "arithmetic; head downsampled, tail upsampled, size preserved"),

    // p08: DoReMi-shaped mixture — the t15 reference-LM surprisal drives
    // the domain weights (hard domains get more of the budget, the
    // easiest domain keeps the +1 smoothing floor), then the q53/q37
    // hash-fraction fan-out resamples. Full-SQL oracle: the t15 CTEs
    // reproduce the per-doc surprisal integer-exactly, the weight math
    // runs in HUGEINT, and the fan-out is the q53 md5 pattern.
    "p08_doremi_mixture" -> Q(
      (s, dir) => {
        val docsFull = tp(s, dir, "documents")
        val sn = expr("cast(substr(source, 4, 10) as int)")
        val surp = TextAnalysis.bigramSurprisal(docsFull,
          minCount = math.max(1L, docsFull.count() / 10))
        val scored = docsFull.select(col("doc_id"),
            when(sn <= 11, "web").when(sn <= 15, "books")
              .when(sn <= 18, "code").otherwise("wiki").as("domain"))
          .join(surp.select(col("doc_id"), col("surp_mean_e4")), Seq("doc_id"))
        graft.operators.Sampling.excessSurprisalMixture(
          scored, srcCol = "domain")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |mc AS (SELECT greatest(1, count(*) // 10) AS m FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM t GROUP BY term),
             |g AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM c1),
             |bg AS (
             |  SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
             |                         FOR i IN generate_series(1, len(toks)-1)],
             |                        recursive := true)
             |  FROM tk WHERE len(toks) >= 2),
             |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
             |model AS (SELECT c2.w1, c2.w2, (10000 * c1.c1) // c2.c2 AS r
             |          FROM c2 JOIN c1 ON c2.w1 = c1.term, mc WHERE c2.c2 >= mc.m),
             |uni AS (SELECT term AS w2, 10 * ((10000 * n_tok) // c1) AS rb
             |        FROM c1, g, mc WHERE c1 >= m),
             |sc AS (
             |  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS nb,
             |    CAST(sum(coalesce(model.r, uni.rb,
             |      (SELECT 10 * ((10000 * n_tok) // m) FROM g, mc))) AS BIGINT) AS surp_sum_e4
             |  FROM bg LEFT JOIN model ON bg.w1 = model.w1 AND bg.w2 = model.w2
             |          LEFT JOIN uni ON bg.w2 = uni.w2
             |  GROUP BY bg.doc_id),
             |sm AS (SELECT tk.doc_id,
             |         CASE WHEN coalesce(sc.nb, 0) = 0 THEN 0
             |              ELSE sc.surp_sum_e4 // sc.nb END AS surp_mean_e4
             |       FROM tk LEFT JOIN sc USING (doc_id)),
             |d AS (
             |  SELECT doc_id,
             |    CASE WHEN CAST(substr(source, 4, 10) AS INT) <= 11 THEN 'web'
             |         WHEN CAST(substr(source, 4, 10) AS INT) <= 15 THEN 'books'
             |         WHEN CAST(substr(source, 4, 10) AS INT) <= 18 THEN 'code'
             |         ELSE 'wiki' END AS domain
             |  FROM documents),
             |j AS (SELECT d.doc_id, d.domain, sm.surp_mean_e4
             |      FROM d JOIN sm USING (doc_id)),
             |a AS (SELECT domain, CAST(count(*) AS BIGINT) AS n,
             |        CAST(sum(surp_mean_e4) AS BIGINT) AS ssum
             |      FROM j GROUP BY domain),
             |me AS (SELECT domain, n, ssum // n AS mean_e4 FROM a),
             |mn AS (SELECT min(mean_e4) AS mn FROM me),
             |e AS (SELECT domain, n, mean_e4 - mn.mn + 1 AS ex FROM me, mn),
             |tt AS (SELECT CAST(sum(ex) AS BIGINT) AS esum,
             |         (SELECT CAST(count(*) AS BIGINT) FROM j) AS tot FROM e),
             |w AS (SELECT domain,
             |        CAST((CAST(10000 AS HUGEINT) * tt.tot * ex)
             |             // (CAST(tt.esum AS HUGEINT) * n) AS BIGINT) AS wbp
             |      FROM e, tt),
             |x AS (SELECT j.doc_id, j.domain, j.surp_mean_e4,
             |        (w.wbp // 10000) +
             |        CASE WHEN ${Md5LongSql.format("CAST(j.doc_id AS VARCHAR)")} % 10000
             |                  < w.wbp % 10000 THEN 1 ELSE 0 END AS ncp
             |      FROM j JOIN w USING (domain))
             |SELECT doc_id, domain, surp_mean_e4,
             |       CAST(unnest(generate_series(1, ncp)) AS INT) AS copy
             |FROM x WHERE ncp > 0""".stripMargin),
      "DoReMi-shaped mixture: reference-LM excess surprisal sets domain " +
        "weights (hard domains upweighted, +1 smoothing floor, budget " +
        "conserved exactly), deterministic hash-fraction resample"),

    // q56: per-domain score calibration — raw quality scores are not
    // comparable across domains; the percentile form is ("keep each
    // domain's top 30%"). Score here = n_chars (the machinery under
    // test is the rank→basis-points mapping, not the score).
    "q56_quality_percentile" -> Q(
      (s, dir) => graft.operators.Sampling.percentileRank(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            length(col("text")).cast("long").as("score")),
        strataCol = "source", scoreCol = "score"),
      Some("""WITH d AS (SELECT doc_id, source,
             |            CAST(length(text) AS BIGINT) AS score
             |        FROM documents),
             |r AS (SELECT doc_id, source, score,
             |        row_number() OVER (PARTITION BY source
             |          ORDER BY score, doc_id) AS rk,
             |        count(*) OVER (PARTITION BY source) AS n
             |      FROM d)
             |SELECT doc_id, source, score,
             |  CAST(CASE WHEN n <= 1 THEN 0
             |       ELSE floor((rk - 1) * 10000.0 / (n - 1)) END AS INT) AS pct_bp
             |FROM r""".stripMargin),
      "per-domain percentile calibration: integer basis-point rank " +
        "normalization (score comparable across domains); one stratum " +
        "exchange"),

    "q38_epoch_shuffle" -> Q(
      (s, dir) => graft.operators.Sampling.epochShuffle(
        t(s, dir, "documents").select("doc_id", "lang"),
        numShards = 8, salt = "e1")
        .select("doc_id", "lang", "shard", "pos"),
      Some(s"""WITH h AS (
             |  SELECT doc_id, lang,
             |    ${Md5LongSql.format("CONCAT(CAST(doc_id AS VARCHAR), 'e1')")} AS hv
             |  FROM documents)
             |SELECT doc_id, lang, CAST(hv % 8 AS INT) AS shard,
             |  CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS INT) AS pos
             |FROM h""".stripMargin),
      "deterministic epoch shuffle: hash-sharded training order, per-shard sort only"),

    "q43_stratified_sample" -> Q(
      (s, dir) => {
        graft.operators.Sampling.stratifiedTake(
          t(s, dir, "documents").select("doc_id", "lang"),
          strataCol = "lang", idCol = "doc_id", n = 5, salt = "s1")
      },
      Some(s"""WITH h AS (
             |  SELECT doc_id, lang,
             |    ${Md5LongSql.format("CONCAT(CAST(doc_id AS VARCHAR), 's1')")} AS hv
             |  FROM documents)
             |SELECT doc_id, lang, rn FROM (
             |  SELECT doc_id, lang,
             |    CAST(row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS INT) AS rn
             |  FROM h)
             |WHERE rn <= 5""".stripMargin),
      "deterministic stratified sample: exactly n per stratum by hash order " +
        "(runs on the custom heap top-k operator)"),

    // q51: weight = whitespace token count (quality proxy; integer-exact
    // as a double), priority = hash-uniform / weight — ONE correctly-
    // rounded IEEE division, so both engines order identically
    "q51_weighted_sample" -> Q(
      (s, dir) => {
        // empty/all-whitespace text must weigh 0, not 1 (Java split of ""
        // returns one empty token) — zero-content docs never sample
        val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
          when(trim(col("text")) === "", 0)
            .otherwise(size(split(trim(col("text")), "\\s+"))).as("w"))
        graft.operators.Sampling.weightedTake(docs,
          strataCol = "lang", idCol = "doc_id", weightCol = col("w"),
          n = 5, salt = "w1")
          .select("doc_id", "lang", "w", "rn")
      },
      Some(s"""WITH h AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN trim(text) = '' THEN 0
             |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
             |    CAST(${Md5LongSql.format("CONCAT(CAST(doc_id AS VARCHAR), 'w1')")} AS DOUBLE)
             |      / 1152921504606846976.0 AS u
             |  FROM documents)
             |SELECT doc_id, lang, CAST(w AS INT) AS w, rn FROM (
             |  SELECT doc_id, lang, w,
             |    CAST(row_number() OVER (PARTITION BY lang ORDER BY u / w, doc_id) AS INT) AS rn
             |  FROM h WHERE w > 0)
             |WHERE rn <= 5""".stripMargin),
      "weighted priority sample: top-n per stratum by hash-uniform/weight " +
        "(quality-weighted curation pick, engine-agnostic arithmetic)"),

    "q47_chunk_overlap" -> Q(
      (s, dir) => graft.operators.Sampling.chunkStride(
        tp(s, dir, "documents"), win = 32, stride = 24),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
             |  FROM documents),
             |s AS (
             |  SELECT doc_id, toks, len(toks) AS n,
             |    unnest(CASE WHEN (greatest(len(toks) - 31, 1) - 1) % 24 = 0
             |      THEN generate_series(1, greatest(len(toks) - 31, 1), 24)
             |      ELSE list_append(generate_series(1, greatest(len(toks) - 31, 1), 24),
             |                       greatest(len(toks) - 31, 1)) END) AS start
             |  FROM t)
             |SELECT doc_id, CAST(ceil((start - 1) / 24.0) AS INT) AS chunk_idx,
             |  CAST(start AS INT) AS start,
             |  CAST(least(32, n - start + 1) AS INT) AS n_toks,
             |  array_to_string(toks[start:start+31], ' ') AS chunk
             |FROM s""".stripMargin),
      "stride-overlap context chunking: map-only sliding windows, tail window end-aligned"),

    // q52: CDC latest-wins changelog compaction — the contract the
    // reference's generated ReplacingMergeTree DDL delegates to the
    // store (`/root/reference/README.md:303`), as an explicit operator.
    // `events` is read as a changelog on user_id: 'error' records are
    // tombstones, everything else an upsert; version = (ts, event_id).
    "q52_cdc_merge" -> Q(
      (s, dir) => graft.operators.Cdc.latestSnapshot(t(s, dir, "events"),
        keyCols = Seq("user_id"), versionCols = Seq("ts", "event_id"),
        tombstone = col("event_type") === "error"),
      Some("""SELECT user_id, event_id, ts, event_type, value, props
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
             |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
             |WHERE rn = 1 AND event_type <> 'error'""".stripMargin),
      "CDC changelog compaction to a latest-wins snapshot: one max_by " +
        "aggregate (map-side combined, no window sort); tombstones win " +
        "the aggregate then drop, so deletes ride the same exchange"),

    // t19: Misra-Gries heavy hitters (the ClickHouse `topK` family).
    // SELF-CHECKING (sketch contents are merge-order-dependent, the
    // q33/q48 class): the entry recomputes EXACT term counts in the same
    // scan and re-proves the Mergeable-Summaries guarantees — no
    // overcount, undercount ≤ n/(k+1), and every true heavy hitter
    // (cnt > n/(k+1)) present in the summary.
    "t19_heavy_hitters" -> Q(
      (s, dir) => {
        val k = 64
        val docs = tp(s, dir, "documents")
        val terms = docs.select(explode(
            graft.functions.OptimizerFence(
              split(Dedup.normalize(col("text")), " "))).as("term"))
          .where(col("term") =!= "")
        val sketch = graft.operators.HeavyHitters.topK(terms, "term", k)
        val exact = terms.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        val tot = terms.agg(count(lit(1)).as("n"))
        val perItem = sketch
          .join(exact, sketch("item") === exact("term")).crossJoin(tot)
          .agg(count(lit(1)).as("n_sketch_items"),
            min(col("est") <= col("cnt")).as("no_overcount"),
            min(col("cnt") - col("est") <= expr(s"n div ${k + 1}"))
              .as("under_in_bound"))
        val missingHeavy = exact.crossJoin(tot)
          .where(col("cnt") > expr(s"n div ${k + 1}"))
          .join(sketch, exact("term") === sketch("item"), "left_anti")
          .agg(count(lit(1)).as("n_missing_heavy"))
        perItem.crossJoin(missingHeavy).crossJoin(tot)
          .select(col("n"), col("n_sketch_items"), col("n_missing_heavy"),
            // empty-token corpus: nothing to summarize is a PASS (null
            // mins coalesce true, the sketch must simply be empty)
            (coalesce(col("no_overcount"), lit(true)) &&
              coalesce(col("under_in_bound"), lit(true)) &&
              col("n_missing_heavy") === 0 &&
              (col("n_sketch_items") > 0 || col("n") === 0) &&
              col("n_sketch_items") <= k).as("pass"))
      },
      None,
      "Misra-Gries mergeable heavy hitters (ClickHouse topK family): " +
        "bounded k-entry state, map-side combine; self-checked against " +
        "exact counts from the same scan"),

    // t20: KLL mergeable quantile sketch — the third leg of the
    // mergeable-sketch family (HLL q48, frequent items t19; ClickHouse
    // `quantileTDigestState`/`-Merge` parity). SELF-CHECKING (summary
    // contents are merge-order-dependent, the q33/q48/t19 class): the
    // entry asks the sketch for 8 quantiles, recomputes the EXACT rank
    // of each answer in the same scan, and asserts the sketch's OWN
    // Hoeffding bound — |estRank − trueRank| ≤ sqrt(2·varSum·ln(2/δ)),
    // δ=1e-6, where varSum is the error accounting the sketch carries
    // (see Quantiles scaladoc) — plus the O(k) size bound and exact n.
    "t20_kll_quantiles" -> Q(
      (s, dir) => {
        import graft.operators.Quantiles
        val k = 128
        val vals = tp(s, dir, "documents")
          .select(col("n_chars").cast("double").as("v")).na.drop()
        val sk = Quantiles.sketchSummary(vals, "v", k)
        import s.implicits._
        if (sk.n == 0L)
          // empty corpus: nothing to summarize is a (vacuous) PASS
          Seq((0.5, 0.0, 0L, 0L, 0.0, true, true, true))
            .toDF("phi", "est_q", "est_rank", "true_rank", "bound",
              "rank_in_bound", "size_in_bound", "pass")
        else {
          val phis = Seq(0.01, 0.05, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99)
          val bound = Quantiles.rankBound(sk.varSum)
          val probes = phis.zipWithIndex.map { case (p, i) =>
            val q = Quantiles.quantile(sk, p)
            (i, p, q, Quantiles.estRank(sk, q))
          }
          val probeDf = probes.toDF("idx", "phi", "est_q", "est_rank")
          val exact = vals.agg(count(lit(1)).as("n_exact"),
            array(probes.map { case (_, _, q, _) =>
              sum(when(col("v") <= q, 1L).otherwise(0L)) }: _*).as("ranks"))
          probeDf.crossJoin(exact) // 8 × 1 rows
            .select(col("phi"), col("est_q"), col("est_rank"),
              element_at(col("ranks"), col("idx") + 1).as("true_rank"),
              lit(bound).as("bound"),
              (abs(col("est_rank") -
                element_at(col("ranks"), col("idx") + 1)) <= lit(bound))
                .as("rank_in_bound"),
              // capacity Σ k·(2/3)^d ≤ 3k plus the 8-item floors
              lit(sk.values.length <= 3 * k + 8 * 64).as("size_in_bound"),
              // pass = conjunction of EVERY checked property (the
              // t19/t21/t22 convention), so a single-column assert —
              // TinyCorpusSpec reads only `pass` — still covers the
              // rank and size bounds, not just the exact-n identity
              ((abs(col("est_rank") -
                element_at(col("ranks"), col("idx") + 1)) <= lit(bound)) &&
                lit(sk.values.length <= 3 * k + 8 * 64) &&
                (col("n_exact") === sk.n)).as("pass"))
        }
      },
      None,
      "KLL mergeable quantile sketch (Karnin-Lang-Liberty 2016): O(k) " +
        "state per partition, map-side combine; self-checked against " +
        "exact ranks from the same scan via the sketch's self-tracked " +
        "Hoeffding bound"),

    // t21: mergeable uniform reservoir sample (ClickHouse
    // `groupArraySample(k)` parity) — the fourth mergeable-summary leg.
    // SELF-CHECKING (sample contents are merge-order-dependent): size =
    // min(k, n), no row sampled twice, and every sampled id exists in
    // the corpus, all proven in the same scan; UNIFORMITY is proven
    // statistically in ReservoirSpec (inclusion frequencies over 400
    // salts within ±5σ, for folds, chains, and merge trees).
    "t21_reservoir_sample" -> Q(
      (s, dir) => {
        val k = 64
        val docs = tp(s, dir, "documents")
          .select(col("doc_id").cast("string").as("id"))
        val ids = graft.operators.Reservoir.sample(docs, "id", k, salt = 42L)
          .select(explode(col("items")).as("sid"))
        val stats = ids.agg(count(lit(1)).as("sz"),
          countDistinct(col("sid")).as("nd"))
        val nonMember = ids
          .join(docs, col("sid") === col("id"), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
        val tot = docs.agg(count(lit(1)).as("n"))
        stats.crossJoin(nonMember).crossJoin(tot).select(
          col("sz"), col("nd"), col("n_bad"), col("n"),
          (col("sz") === least(lit(k.toLong), col("n"))).as("size_in_bound"),
          (col("nd") === col("sz")).as("distinct_in_bound"),
          (col("n_bad") === 0).as("member_in_bound"),
          ((col("sz") === least(lit(k.toLong), col("n"))) &&
            (col("nd") === col("sz")) && (col("n_bad") === 0)).as("pass"))
      },
      None,
      "mergeable uniform reservoir sample (Algorithm R + the Mergeable " +
        "Summaries weighted merge): <= k-item state per partition, " +
        "map-side combine; size/distinctness/membership self-checked " +
        "in-query, uniformity proven across merge trees in spec"),

    // t22: distinct-count SET OPERATIONS via theta sketches — the
    // ClickHouse `uniqTheta`/`uniqThetaUnion`/`uniqThetaIntersect`/
    // `uniqThetaNot` surface, answered Spark-first with the STOCK
    // DataSketches theta functions (theta_sketch_agg + union/
    // intersection/difference estimators) rather than a reimplementation
    // — the q48 pattern. The shape is corpus-overlap estimation: "how
    // much does source A's vocabulary overlap source B's" answered from
    // two bounded sketches instead of a distinct-distinct join, which is
    // the only form that survives two 100 TB corpora. SELF-CHECKING
    // (sketch estimates; fixed library seed → deterministic): per-side
    // distinct, union, intersection, and difference estimates are
    // compared against exact same-scan counts; default lgK=12 gives RSE
    // ≈ 1.6%, bounds below are ±5σ for the direct sketches and ±10% of
    // UNION size for the derived set ops (their absolute error scales
    // with the union, not the result).
    "t22_theta_set_ops" -> Q(
      (s, dir) => {
        // 3-token spans, not unigrams: the synthetic corpus has a tiny
        // word vocabulary (31 distinct at sf0.01), which would keep the
        // sketches in their exact regime and make the bounds vacuous;
        // span hashes give tens of thousands of distinct values per
        // side with realistic cross-side overlap
        val terms = tp(s, dir, "documents")
          .select((col("doc_id") % 2 === 0).as("side_a"), explode(
            graft.functions.OptimizerFence(
              graft.functions.VectorExprs.spanHashes(
                Dedup.normalize(col("text")), 3))).as("h"))
          .select(col("side_a"), col("h").cast("string").as("term"))
        val sk = terms.agg(
          expr("theta_sketch_agg(CASE WHEN side_a THEN term END)").as("sk_a"),
          expr("theta_sketch_agg(CASE WHEN NOT side_a THEN term END)").as("sk_b"))
        val est = sk.select(
          expr("theta_sketch_estimate(sk_a)").as("a_est"),
          expr("theta_sketch_estimate(sk_b)").as("b_est"),
          expr("theta_sketch_estimate(theta_union(sk_a, sk_b))").as("u_est"),
          expr("theta_sketch_estimate(theta_intersection(sk_a, sk_b))").as("i_est"),
          expr("theta_sketch_estimate(theta_difference(sk_a, sk_b))").as("d_est"))
        val exact = terms.agg(
          count_distinct(when(col("side_a"), col("term"))).as("a_true"),
          count_distinct(when(!col("side_a"), col("term"))).as("b_true"),
          count_distinct(col("term")).as("u_true"))
        val inter = terms.where(col("side_a")).select(col("term")).distinct()
          .intersect(terms.where(!col("side_a")).select(col("term")).distinct())
          .agg(count(lit(1)).as("i_true"))
        est.crossJoin(exact).crossJoin(inter).select(
          col("a_est"), col("a_true"), col("b_est"), col("b_true"),
          col("u_est"), col("u_true"), col("i_est"), col("i_true"),
          col("d_est"), (col("a_true") - col("i_true")).as("d_true"),
          // ±5σ at lgK=12 RSE 1.56% → 7.8%; exact regime (< 4096
          // distinct) the sketch is error-free and these hold trivially
          (abs(col("a_est") - col("a_true")) <= greatest(lit(1.0),
            col("a_true") * 0.078)).as("a_in_bound"),
          (abs(col("b_est") - col("b_true")) <= greatest(lit(1.0),
            col("b_true") * 0.078)).as("b_in_bound"),
          (abs(col("u_est") - col("u_true")) <= greatest(lit(1.0),
            col("u_true") * 0.078)).as("u_in_bound"),
          (abs(col("i_est") - col("i_true")) <= greatest(lit(1.0),
            col("u_true") * 0.10)).as("i_in_bound"),
          (abs(col("d_est") - (col("a_true") - col("i_true"))) <=
            greatest(lit(1.0), col("u_true") * 0.10)).as("d_in_bound"),
          // pass = conjunction of every bound (the t19/t20/t21
          // convention) + the inclusion-exclusion sanity of the exacts
          ((abs(col("a_est") - col("a_true")) <= greatest(lit(1.0),
            col("a_true") * 0.078)) &&
            (abs(col("b_est") - col("b_true")) <= greatest(lit(1.0),
              col("b_true") * 0.078)) &&
            (abs(col("u_est") - col("u_true")) <= greatest(lit(1.0),
              col("u_true") * 0.078)) &&
            (abs(col("i_est") - col("i_true")) <= greatest(lit(1.0),
              col("u_true") * 0.10)) &&
            (abs(col("d_est") - (col("a_true") - col("i_true"))) <=
              greatest(lit(1.0), col("u_true") * 0.10)) &&
            col("u_true") <= col("a_true") + col("b_true")).as("pass"))
      },
      None,
      "distinct-count set operations over theta sketches (ClickHouse " +
        "uniqTheta family, stock DataSketches functions): corpus-overlap " +
        "estimation from two bounded sketches instead of a " +
        "distinct-distinct join; estimates self-checked against exact " +
        "same-scan counts"),

    // t23: bounded exact distinct — ClickHouse `uniqUpTo(N)(x)`: exact
    // count while ≤ N, the sentinel N+1 beyond (the low-cardinality
    // probe run before choosing dictionary encodings / GROUP BY shapes).
    // Sixth mergeable-summary leg, and the only one whose answer is a
    // DETERMINISTIC function of the input's distinct-value set (merge
    // order never shows), so it takes a full DuckDB oracle instead of a
    // self-check: LEAST(count(DISTINCT x), N+1). Caps straddle the data
    // (n_chars has 21-25 distinct per source → cap 23 exercises both
    // regimes; lang has 4-5 → cap 4 likewise). u_chars goes through the
    // Column surface, u_lang through the SQL aggregate surface
    // (graft_uniq_upto) — one entry pins both frontends.
    "t23_uniq_upto" -> Q(
      (s, dir) => {
        tp(s, dir, "documents")
          .groupBy(col("source"))
          .agg(
            graft.operators.UniqUpTo.column(col("n_chars"), 23).as("u_chars"),
            expr("graft_uniq_upto(lang, 4)").as("u_lang"))
      },
      Some("""SELECT source,
             |  LEAST(count(DISTINCT n_chars), 24) AS u_chars,
             |  LEAST(count(DISTINCT lang), 5) AS u_lang
             |FROM documents GROUP BY source""".stripMargin),
      "bounded exact distinct count (ClickHouse uniqUpTo): exact while " +
        "<= N else N+1, <= N+1 witness strings of state per partition, " +
        "map-side combine; deterministic -> full DuckDB oracle"),

    // t24: WEIGHTED heavy hitters (ClickHouse `topKWeighted`) — the t19
    // summary with per-row weights; terms here are weighted by their
    // document's length, the "which terms dominate the byte budget"
    // question. SELF-CHECKING (t19's class: summary contents are
    // merge-order-dependent): exact weighted totals are recomputed in
    // the same scan, and the Column AND SQL frontends each re-prove the
    // weighted Mergeable-Summaries guarantees — no overcount, undercount
    // ≤ W/(k+1) for total weight W, every item with weight > W/(k+1)
    // present.
    "t24_topk_weighted" -> Q(
      (s, dir) => {
        val k = 64
        val docs = tp(s, dir, "documents")
        val terms = docs.select(explode(
            graft.functions.OptimizerFence(
              split(Dedup.normalize(col("text")), " "))).as("term"),
            col("n_chars").cast("long").as("w"))
          .where(col("term") =!= "" && col("w") > 0)
        val exact = terms.groupBy(col("term")).agg(sum(col("w")).as("wt"))
        val tot = terms.agg(coalesce(sum(col("w")), lit(0L)).as("wsum"))
        def legChecks(sketch: org.apache.spark.sql.DataFrame, leg: String) = {
          val perItem = sketch
            .join(exact, sketch("item") === exact("term")).crossJoin(tot)
            .agg(count(lit(1)).as(s"n_items_$leg"),
              min(col("est") <= col("wt")).as(s"no_over_$leg"),
              min(col("wt") - col("est") <= expr(s"wsum div ${k + 1}"))
                .as(s"under_$leg"))
          val missing = exact.crossJoin(tot)
            .where(col("wt") > expr(s"wsum div ${k + 1}"))
            .join(sketch, exact("term") === sketch("item"), "left_anti")
            .agg(count(lit(1)).as(s"n_missing_$leg"))
          perItem.crossJoin(missing)
        }
        val colSketch =
          graft.operators.HeavyHitters.topKWeighted(terms, "term", "w", k)
        val sqlSketch = terms
          .agg(expr(s"graft_topk_weighted(term, w, $k)").as("summary"))
          .select(explode(col("summary"))).toDF("item", "est")
        legChecks(colSketch, "col").crossJoin(legChecks(sqlSketch, "sql"))
          .crossJoin(tot).select(
            col("wsum"), col("n_items_col"), col("n_items_sql"),
            col("n_missing_col"), col("n_missing_sql"),
            // empty-token corpus: nothing to summarize is a PASS (null
            // mins coalesce true, the sketches must simply be empty)
            Seq("col", "sql").map { leg =>
              coalesce(col(s"no_over_$leg"), lit(true)) &&
                coalesce(col(s"under_$leg"), lit(true)) &&
                col(s"n_missing_$leg") === 0 &&
                (col(s"n_items_$leg") > 0 || col("wsum") === 0) &&
                col(s"n_items_$leg") <= k
            }.reduce(_ && _).as("pass"))
      },
      None,
      "weighted Misra-Gries heavy hitters (ClickHouse topKWeighted): " +
        "bounded k-entry state with per-row weights, map-side combine; " +
        "Column and SQL frontends both self-checked against exact " +
        "weighted totals from the same scan"),

    // t25: mergeable adaptive histogram (ClickHouse histogram(bins),
    // Ben-Haim & Tom-Toms JMLR 2010) — seventh mergeable-summary leg.
    // SELF-CHECKING (centroid contents are merge-order-dependent): the
    // EXACT invariants — mass conservation Σcnt = n, ≤ B strictly
    // increasing in-range centers, outer edges at the exact min/max, and
    // the count-weighted center sum ≡ the data sum to FP tolerance — are
    // asserted for BOTH the Column leg (driver-pulled O(B) summary) and
    // the SQL leg (graft_histogram bins re-aggregated in-query).
    "t25_histogram" -> Q(
      (s, dir) => {
        import graft.operators.Histogram
        val b = 24
        val vals = tp(s, dir, "events")
          .select(col("value").cast("double").as("v")).na.drop()
        val sk = Histogram.sketchSummary(vals, "v", b)
        import s.implicits._
        if (sk.n == 0L)
          // empty stream: nothing to summarize is a (vacuous) PASS
          Seq((0L, true, true, true, true, true, true, true, true))
            .toDF("n_exact", "mass_col", "shape_col", "edges_col",
              "sum_in_bound", "mass_sql", "size_sql", "edges_sql", "pass")
        else {
          val massCol = sk.counts.sum == sk.n
          val shapeCol = sk.centers.length <= b &&
            sk.counts.forall(_ > 0) &&
            sk.centers.lazyZip(sk.centers.drop(1)).forall(_ < _) &&
            sk.centers.forall(c => c >= sk.lo && c <= sk.hi)
          val histSum = sk.centers.lazyZip(sk.counts)
            .map((c, n) => c * n).sum
          val sqlBins = vals
            .agg(expr(s"graft_histogram(v, $b)").as("bins"))
            .select(explode(col("bins")).as("e"))
            .select(col("e._1").as("lower"), col("e._2").as("upper"),
              col("e._3").as("cnt"))
          val sqlChecks = sqlBins.agg(
            coalesce(sum(col("cnt")), lit(0L)).as("cnt_sql"),
            count(lit(1)).as("nbins_sql"),
            min(col("lower")).as("min_lower_sql"),
            max(col("upper")).as("max_upper_sql"))
          val exact = vals.agg(count(lit(1)).as("n_exact"),
            min(col("v")).as("min_exact"), max(col("v")).as("max_exact"),
            sum(col("v")).as("sum_exact"))
          val flags = Seq(
            lit(massCol).as("mass_col"),
            lit(shapeCol).as("shape_col"),
            (lit(sk.lo) === col("min_exact") &&
              lit(sk.hi) === col("max_exact")).as("edges_col"),
            (abs(lit(histSum) - col("sum_exact")) <=
              abs(col("sum_exact")) * 1e-9 + 1e-6).as("sum_in_bound"),
            (col("cnt_sql") === col("n_exact")).as("mass_sql"),
            (col("nbins_sql") <= b && col("nbins_sql") > 0).as("size_sql"),
            (col("min_lower_sql") === col("min_exact") &&
              col("max_upper_sql") === col("max_exact")).as("edges_sql"))
          exact.crossJoin(sqlChecks).select(
            (col("n_exact") +: flags) :+
              flags.reduce(_ && _).as("pass"): _*)
        }
      },
      None,
      "mergeable adaptive histogram (Ben-Haim/Tom-Toms streaming " +
        "centroid merge, ClickHouse histogram(bins)): O(B) state per " +
        "partition, pending-buffer reduce (no per-row rebuild); Column " +
        "and SQL legs self-checked on exact invariants from the same scan"),

    "t08_vocab" -> Q(
      (s, dir) => TextAnalysis.vocabulary(tp(s, dir, "documents"), topK = 100),
      Some("""WITH tok AS (
             |  SELECT doc_id,
             |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS term
             |  FROM documents),
             |pd AS (SELECT term, doc_id, count(*) AS n FROM tok GROUP BY 1, 2)
             |SELECT term, CAST(sum(n) AS BIGINT) AS tf, count(*) AS df
             |FROM pd GROUP BY term ORDER BY tf DESC, term LIMIT 100""".stripMargin),
      "corpus vocabulary: top-k terms by tf with doc frequency (tokenizer/IDF stats)"),

    "t09_top_terms" -> Q(
      (s, dir) => {
        TextAnalysis.topTerms(tp(s, dir, "documents"), k = 5, dfNum = 1, dfDen = 2)
      },
      Some(s"""WITH tok AS (
             |  SELECT doc_id, unnest(toks) AS term FROM
             |    (SELECT doc_id, $NormToksSql AS toks FROM documents)),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents)
             |SELECT doc_id, term, tf, df, rn FROM (
             |  SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
             |    CAST(d.df AS BIGINT) AS df,
             |    CAST(row_number() OVER (PARTITION BY t.doc_id
             |      ORDER BY t.tf DESC, t.term) AS INT) AS rn
             |  FROM tf t JOIN df d ON t.term = d.term, n
             |  WHERE d.df * 2 <= n.n)
             |WHERE rn <= 5""".stripMargin),
      "per-doc top-k distinctive terms (TF-IDF selection, integer-exact ranking)"),

    "t10_c4_filters" -> Q(
      (s, dir) => TextAnalysis.c4Filters(tp(s, dir, "documents"), minToks = 15),
      Some("""WITH m AS (
             |  SELECT doc_id, lower(text) AS lt,
             |    CAST(length(text) AS INT) AS n_chars,
             |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_space,
             |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_toks,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      w -> w IN ('the','and','of','to','a','in','is','that','for','it'))) AS INT) AS stop_hits
             |  FROM documents),
             |r AS (
             |  SELECT doc_id, n_toks,
             |    n_toks < 15 AS r_short,
             |    CAST(floor(10000.0 * (n_chars - n_space) / n_toks) AS INT) < 30000
             |      OR CAST(floor(10000.0 * (n_chars - n_space) / n_toks) AS INT) > 100000 AS r_word_len,
             |    stop_hits < 2 AS r_no_stopwords,
             |    contains(lt, 'lorem ipsum') AS r_lorem,
             |    contains(lt, '{') AS r_brace
             |  FROM m)
             |SELECT doc_id, n_toks, r_short, r_word_len, r_no_stopwords, r_lorem, r_brace,
             |  NOT (r_short OR r_word_len OR r_no_stopwords OR r_lorem OR r_brace) AS keep
             |FROM r""".stripMargin),
      "C4/Gopher heuristic filter: rule verdicts + composite keep, map-only"),

    "t05_winnowing" -> Q(
      (s, dir) => TextAnalysis.winnowing(tp(s, dir, "documents"), k = 3, w = 4),
      // replicate: ordered k-gram md5-hashes, sliding-window minima over
      // full windows (one partial window when the doc has < w shingles),
      // distinct per doc
      Some("""WITH sh AS (
             |  SELECT doc_id,
             |    CASE WHEN len(toks) >= 3
             |      THEN [array_to_string(toks[i:i+2], ' ')
             |            FOR i IN generate_series(1, len(toks) - 2)]
             |      ELSE [array_to_string(toks, ' ')] END AS gs
             |  FROM (SELECT doc_id,
             |          string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
             |        FROM documents)),
             |h AS (
             |  SELECT doc_id,
             |    [CAST(CONCAT('0x', SUBSTR(md5(g), 1, 15)) AS BIGINT) FOR g IN gs] AS hs
             |  FROM sh)
             |SELECT DISTINCT doc_id, fp FROM (
             |  SELECT doc_id,
             |    unnest([list_min(hs[p : least(p + 3, len(hs))])
             |            FOR p IN generate_series(1, greatest(len(hs) - 3, 1))]) AS fp
             |  FROM h)""".stripMargin),
      "winnowing (MOSS) fingerprints: shared runs of w+k-1 tokens always share a print"),

    // t11: keyword retrieval top-k under the division-form BM25 score
    // (see TextAnalysis.keywordSearch scaladoc for the ln-free rationale).
    // 'dup' is the corpus's one rare term (high idf weight); the others
    // are common (idf ≈ small) — the ranking mixes both regimes.
    "t11_keyword_search" -> Q(
      (s, dir) => TextAnalysis.keywordSearch(
        tp(s, dir, "documents"), Seq("dup", "spark", "merge", "window"), topK = 10),
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |m AS (
             |  SELECT doc_id, len(toks) AS dl,
             |    len(list_filter(toks, t -> t = 'dup')) AS tf0,
             |    len(list_filter(toks, t -> t = 'spark')) AS tf1,
             |    len(list_filter(toks, t -> t = 'merge')) AS tf2,
             |    len(list_filter(toks, t -> t = 'window')) AS tf3
             |  FROM tk),
             |g AS (
             |  SELECT count(*) AS n, sum(dl) AS sdl,
             |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
             |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
             |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
             |  FROM m)
             |SELECT doc_id, score FROM (
             |  SELECT doc_id,
             |    CAST(floor((10000.0 * ((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5)))
             |           * ((tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT)
             |  + CAST(floor((10000.0 * ((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)))
             |           * ((tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT)
             |  + CAST(floor((10000.0 * ((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5)))
             |           * ((tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT)
             |  + CAST(floor((10000.0 * ((CAST(n AS DOUBLE) - CAST(df3 AS DOUBLE) + 0.5) / (CAST(df3 AS DOUBLE) + 0.5)))
             |           * ((tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT)
             |    AS score
             |  FROM m, g)
             |WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 10""".stripMargin),
      "keyword retrieval top-k: BM25-shaped integer score (division-form idf, " +
        "Okapi k1/b saturation), engine-exact"),

    // t12: rare-token <unk> rewrite; threshold = docCount/10 total
    // occurrences (scale-relative, integer-exact in both engines), which
    // splits the synthetic vocabulary at its one rare term.
    "t12_unk_rewrite" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        // clamped like every other minCount site: a sub-10-doc corpus
        // yields 0 otherwise (threshold 0 keeps everything — harmless for
        // unkRewrite, but the ≥1 invariant should be uniform)
        TextAnalysis.unkRewrite(docs, minCount = math.max(1L, docs.count() / 10))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents)
             |SELECT doc_id, rewritten, n_unk FROM tk, (
             |  SELECT list(term ORDER BY term) AS ks FROM (
             |    SELECT term FROM (SELECT unnest(toks) AS term FROM tk)
             |    GROUP BY term
             |    HAVING count(*) >= (SELECT greatest(1, count(*) // 10) FROM documents))) k,
             |  LATERAL (SELECT
             |    coalesce(array_to_string([CASE WHEN list_contains(coalesce(k.ks, []), t)
             |                              THEN t ELSE '<unk>' END FOR t IN tk.toks], ' '), '') AS rewritten,
             |    CAST(len(list_filter(tk.toks,
             |      t -> NOT list_contains(coalesce(k.ks, []), t))) AS BIGINT) AS n_unk)""".stripMargin),
      "rare-token <unk> rewrite: corpus-frequency vocabulary pruning, " +
        "broadcast kept-set, map-only rebuild"),

    // t13: unigram rarity score (the CCNet LM-perplexity-filter shape in
    // division form — see TextAnalysis.rarityScore for the ln-free
    // rationale). minCount = docCount/10, the t12 threshold: scale-
    // relative, integer-exact in both engines, and it splits the
    // synthetic vocabulary at its one rare term so the OOV charge path
    // is exercised too.
    "t15_bigram_surprisal" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        TextAnalysis.bigramSurprisal(docs, minCount = math.max(1L, docs.count() / 10))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |mc AS (SELECT greatest(1, count(*) // 10) AS m FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM t GROUP BY term),
             |g AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM c1),
             |bg AS (
             |  SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
             |                         FOR i IN generate_series(1, len(toks)-1)],
             |                        recursive := true)
             |  FROM tk WHERE len(toks) >= 2),
             |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
             |model AS (SELECT c2.w1, c2.w2, (10000 * c1.c1) // c2.c2 AS r
             |          FROM c2 JOIN c1 ON c2.w1 = c1.term, mc WHERE c2.c2 >= mc.m),
             |uni AS (SELECT term AS w2, 10 * ((10000 * n_tok) // c1) AS rb
             |        FROM c1, g, mc WHERE c1 >= m),
             |sc AS (
             |  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS nb,
             |    CAST(sum(coalesce(model.r, uni.rb,
             |      (SELECT 10 * ((10000 * n_tok) // m) FROM g, mc))) AS BIGINT) AS surp_sum_e4
             |  FROM bg LEFT JOIN model ON bg.w1 = model.w1 AND bg.w2 = model.w2
             |          LEFT JOIN uni ON bg.w2 = uni.w2
             |  GROUP BY bg.doc_id)
             |SELECT tk.doc_id, coalesce(sc.nb, 0) AS nb,
             |  coalesce(sc.surp_sum_e4, 0) AS surp_sum_e4,
             |  CASE WHEN coalesce(sc.nb, 0) = 0 THEN 0
             |       ELSE sc.surp_sum_e4 // sc.nb END AS surp_mean_e4
             |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin),
      "bigram Stupid-Backoff surprisal (CCNet perplexity-filter step up " +
        "from t13): integer-exact conditional inverse probabilities"),

    // Oracle note (p05): the CCNet selection (Wenzek et al. 2020) keeps
    // the LOW-perplexity head+middle of the corpus and drops the tail;
    // the 2×-mean cap is p04's cheap quantile proxy, computed eagerly as
    // a driver scalar (one aggregate row — not a collect of data). The
    // surprisal table (4 longs/doc) persists for its two consumers (cap
    // scalar + gate join), the p04 rarity-table rule.
    "p05_perplexity_curation_pipeline" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        val surp = TextAnalysis.bigramSurprisal(docs,
          minCount = math.max(1L, docs.count() / 10))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cap = surp.where(col("nb") > 0)
          .agg(expr("2 * (sum(surp_mean_e4) div count(1))")).head.getLong(0)
        val kept = docs.join(
          surp.where(col("nb") > 0 && col("surp_mean_e4") <= cap)
            .select("doc_id"), Seq("doc_id"))
        graft.operators.Sampling.chunkStride(kept, win = 32, stride = 24)
          .select(col("doc_id"), col("chunk_idx"), col("start"), col("n_toks"),
            md5(col("chunk")).as("fp"))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |mc AS (SELECT greatest(1, count(*) // 10) AS m FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM t GROUP BY term),
             |g AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM c1),
             |bg AS (
             |  SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
             |                         FOR i IN generate_series(1, len(toks)-1)],
             |                        recursive := true)
             |  FROM tk WHERE len(toks) >= 2),
             |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
             |model AS (SELECT c2.w1, c2.w2, (10000 * c1.c1) // c2.c2 AS r
             |          FROM c2 JOIN c1 ON c2.w1 = c1.term, mc WHERE c2.c2 >= mc.m),
             |uni AS (SELECT term AS w2, 10 * ((10000 * n_tok) // c1) AS rb
             |        FROM c1, g, mc WHERE c1 >= m),
             |sc AS (
             |  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS nb,
             |    CAST(sum(coalesce(model.r, uni.rb,
             |      (SELECT 10 * ((10000 * n_tok) // m) FROM g, mc))) AS BIGINT) AS surp_sum_e4
             |  FROM bg LEFT JOIN model ON bg.w1 = model.w1 AND bg.w2 = model.w2
             |          LEFT JOIN uni ON bg.w2 = uni.w2
             |  GROUP BY bg.doc_id),
             |surp AS (SELECT doc_id, nb, surp_sum_e4 // nb AS surp_mean_e4
             |         FROM sc WHERE nb > 0),
             |cap AS (SELECT 2 * (sum(surp_mean_e4) // count(*)) AS c FROM surp),
             |kept AS (SELECT tk.doc_id, tk.toks FROM tk JOIN surp USING (doc_id), cap
             |         WHERE surp.surp_mean_e4 <= cap.c),
             |s AS (
             |  SELECT doc_id, toks, len(toks) AS n,
             |    unnest(CASE WHEN (greatest(len(toks) - 31, 1) - 1) % 24 = 0
             |      THEN generate_series(1, greatest(len(toks) - 31, 1), 24)
             |      ELSE list_append(generate_series(1, greatest(len(toks) - 31, 1), 24),
             |                       greatest(len(toks) - 31, 1)) END) AS start
             |  FROM kept)
             |SELECT doc_id, CAST(ceil((start - 1) / 24.0) AS INT) AS chunk_idx,
             |  CAST(start AS INT) AS start,
             |  CAST(least(32, n - start + 1) AS INT) AS n_toks,
             |  md5(array_to_string(toks[start:start+31], ' ')) AS fp
             |FROM s""".stripMargin),
      "perplexity-curation capstone: bigram-surprisal gate (CCNet tail " +
        "drop at 2x mean) into stride-chunking for training windows"),

    // p06: domain-balanced curation — the RefinedWeb/Dolma mixing step:
    // C4-gate the corpus, then cap every source's contribution at n docs
    // keeping that source's BEST-quality members (rankedTake → the heap
    // top-k operator), so no single domain floods the training mix. The
    // C4 and quality CTEs are the t10/t02 oracles verbatim.
    "p06_domain_balanced_curation" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        val keepIds = TextAnalysis.c4Filters(docs, minToks = 15)
          .where(col("keep")).select("doc_id")
        val gated = docs.join(keepIds, Seq("doc_id"), "left_semi")
        val q = TextAnalysis.qualityScore(gated)
          .select(col("doc_id"), col("quality_score"))
        graft.operators.Sampling.rankedTake(
          gated.select("doc_id", "source").join(q, Seq("doc_id")),
          strataCol = "source", idCol = "doc_id",
          scoreCol = col("quality_score"), n = 7)
          .select("doc_id", "source", "quality_score", "rn")
      },
      Some("""WITH cq AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS INT) AS n_chars_c,
             |    CAST(length(text) - length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_space,
             |    CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_toks,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |      w -> w IN ('the','and','of','to','a','in','is','that','for','it'))) AS INT) AS stop_hits,
             |    contains(lower(text), 'lorem ipsum') AS has_lorem,
             |    contains(lower(text), '{') AS has_brace
             |  FROM documents),
             |gated AS (
             |  SELECT d.doc_id, d.source, d.text FROM documents d JOIN (
             |    SELECT doc_id FROM cq
             |    WHERE NOT (n_toks < 15
             |      OR CAST(floor(10000.0 * (n_chars_c - n_space) / n_toks) AS INT) < 30000
             |      OR CAST(floor(10000.0 * (n_chars_c - n_space) / n_toks) AS INT) > 100000
             |      OR stop_hits < 2 OR has_lorem OR has_brace)) k USING (doc_id)),
             |qual AS (
             |  SELECT doc_id,
             |    CAST(CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / length(text)) AS INT)
             |       + CAST(floor(10000.0 * len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             |           w -> w IN ('the','and','of','to','a','in','is','that','for','it')))
             |           / len(string_split_regex(trim(lower(text)), '\s+'))) AS INT) * 2 AS INT) AS quality_score
             |  FROM gated)
             |SELECT doc_id, source, quality_score, rn FROM (
             |  SELECT g.doc_id, g.source, q.quality_score,
             |    CAST(row_number() OVER (PARTITION BY g.source
             |                            ORDER BY -q.quality_score, g.doc_id) AS INT) AS rn
             |  FROM gated g JOIN qual q USING (doc_id))
             |WHERE rn <= 7""".stripMargin),
      "domain-balanced curation capstone: C4 gate, then every source " +
        "capped at its 7 best-quality docs via the heap top-k operator"),

    "t16_trigram_surprisal" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        TextAnalysis.trigramSurprisal(docs, minCount = math.max(1L, docs.count() / 10))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |mc AS (SELECT greatest(1, count(*) // 10) AS m FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |c1 AS (SELECT term, CAST(count(*) AS BIGINT) AS c1 FROM t GROUP BY term),
             |g AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM c1),
             |bg AS (
             |  SELECT doc_id, unnest([{'w1': toks[i], 'w2': toks[i+1]}
             |                         FOR i IN generate_series(1, len(toks)-1)],
             |                        recursive := true)
             |  FROM tk WHERE len(toks) >= 2),
             |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY w1, w2),
             |tg AS (
             |  SELECT doc_id, unnest([{'a': toks[i], 'b': toks[i+1], 'c': toks[i+2]}
             |                         FOR i IN generate_series(1, len(toks)-2)],
             |                        recursive := true)
             |  FROM tk WHERE len(toks) >= 3),
             |c3 AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS c3 FROM tg GROUP BY a, b, c),
             |sc AS (
             |  SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS nb,
             |    CAST(sum(CASE
             |      WHEN c3.c3 >= mc.m THEN (10000 * c2p.c2) // c3.c3
             |      WHEN c2s.c2 >= mc.m THEN 10 * ((10000 * c1b.c1) // c2s.c2)
             |      WHEN c1l.c1 >= mc.m THEN 100 * ((10000 * g.n_tok) // c1l.c1)
             |      ELSE 100 * ((10000 * g.n_tok) // mc.m) END) AS BIGINT) AS surp_sum_e4
             |  FROM tg, mc, g
             |  JOIN c3 ON tg.a = c3.a AND tg.b = c3.b AND tg.c = c3.c
             |  JOIN c2 c2p ON tg.a = c2p.w1 AND tg.b = c2p.w2
             |  JOIN c2 c2s ON tg.b = c2s.w1 AND tg.c = c2s.w2
             |  JOIN c1 c1b ON tg.b = c1b.term
             |  JOIN c1 c1l ON tg.c = c1l.term
             |  GROUP BY tg.doc_id)
             |SELECT tk.doc_id, coalesce(sc.nb, 0) AS nb,
             |  coalesce(sc.surp_sum_e4, 0) AS surp_sum_e4,
             |  CASE WHEN coalesce(sc.nb, 0) = 0 THEN 0
             |       ELSE sc.surp_sum_e4 // sc.nb END AS surp_mean_e4
             |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin),
      "trigram Stupid-Backoff surprisal (t15 one order up, the CCNet " +
        "5-gram direction): trigram -> bigram -> unigram -> floor chain"),

    // t17: multinomial Naive Bayes classifier (see TextAnalysis.nbClassify
    // for the integer surprisal form). Train labels = documents.lang on
    // the 75% slice doc_id % 4 <> 0; every document scored, including the
    // held-out quarter — the fastText-shaped supervised-gating primitive.
    "t17_nb_classify" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        TextAnalysis.nbClassify(docs,
          docs.where(col("doc_id") % 4 =!= 0)
            .select(col("doc_id"), col("text"), col("lang").as("label")))
      },
      Some(s"""WITH lab AS (SELECT lang AS label, text FROM documents
             |             WHERE doc_id % 4 <> 0),
             |ltk AS (SELECT label, unnest($NormToksSql) AS t FROM lab),
             |vv AS (SELECT count(DISTINCT t) AS v FROM ltk),
             |lt AS (SELECT label, CAST(count(*) AS BIGINT) AS n_l FROM ltk GROUP BY label),
             |lc AS (SELECT label, CAST(count(*) AS BIGINT) AS d_l FROM lab GROUP BY label),
             |dd AS (SELECT CAST(count(*) AS BIGINT) AS d FROM lab),
             |m AS (SELECT label, t, CAST(count(*) AS BIGINT) AS c FROM ltk GROUP BY label, t),
             |la AS (SELECT lc.label, (10000 * dd.d) // lc.d_l AS prior,
             |              lt.n_l + vv.v AS nv
             |       FROM lc, lt, dd, vv WHERE lc.label = lt.label),
             |ct AS (SELECT doc_id, unnest($NormToksSql) AS t FROM documents),
             |sc AS (SELECT ct.doc_id, la.label,
             |         max(la.prior) + sum((10000 * la.nv) // (coalesce(m.c, 0) + 1)) AS total
             |       FROM ct CROSS JOIN la
             |       LEFT JOIN m ON m.label = la.label AND m.t = ct.t
             |       GROUP BY ct.doc_id, la.label)
             |SELECT doc_id, label AS pred_label, CAST(total AS BIGINT) AS nb_score
             |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
             |                                   ORDER BY total, label) AS rn
             |      FROM sc) WHERE rn = 1""".stripMargin),
      "multinomial Naive Bayes classify (fastText-shaped supervised gate): " +
        "integer add-one surprisal argmin, model broadcast, corpus text " +
        "never shuffles"),

    // t18: BPE tokenizer train+encode. SELF-CHECKING (the greedy merge
    // loop has no DuckDB-expressible oracle; BpeSpec proves the algorithm
    // against a plain-Scala reference): every doc must roundtrip (tokens
    // re-spell the normalized text minus spaces), the merges must
    // actually compress (fewer tokens than characters), and the emitted
    // vocabulary is bounded by alphabet + numMerges by construction.
    "t18_bpe_tokenize" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        val model = graft.operators.Bpe.train(docs, numMerges = 24)
        val enc = graft.operators.Bpe.encode(docs, model)
        val flat = docs.select(col("doc_id"),
          regexp_replace(Dedup.normalize(col("text")), " ", "").as("flat"))
        val perDoc = enc.join(flat, Seq("doc_id"))
          .select(col("n_tokens"),
            length(col("flat")).cast("long").as("n_chars_flat"),
            (array_join(col("tokens"), "") === col("flat")).as("ok"))
        val vocab = enc.select(explode(col("tokens")).as("t"))
          .agg(count_distinct(col("t")).as("vocab_size"))
        val alphabet = flat.select(explode(split(col("flat"), "")).as("c"))
          .where(col("c") =!= "")
          .agg(count_distinct(col("c")).as("alphabet_size"))
        perDoc.agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("ok"), 0L).otherwise(1L)).as("n_roundtrip_fail"),
            sum(col("n_tokens")).as("total_tokens"),
            sum(col("n_chars_flat")).as("total_chars"))
          .crossJoin(vocab).crossJoin(alphabet)
          .select(col("n_docs"), col("n_roundtrip_fail"),
            col("total_tokens"), col("total_chars"),
            col("vocab_size"), col("alphabet_size"),
            (col("n_roundtrip_fail") === 0 &&
              col("total_tokens") < col("total_chars") &&
              col("vocab_size") <= col("alphabet_size") + 24).as("pass"))
      },
      None,
      "BPE tokenizer: greedy pair-merge training on the Zipf-bounded word " +
        "table, map-only kernel encode; roundtrip/compression/vocab-bound " +
        "self-checks"),

    // p07: tokenize→pack — the last mile of an LM data pipeline: BPE
    // tokenize (t18's model) and pack docs into fixed token-budget
    // training bins (q36's packer) using the TOKENIZER's counts, not
    // whitespace counts. NOTE p07 retrains the same model t18 trains —
    // DELIBERATE entry isolation: catalog entries are self-contained
    // (spark, dir) closures so each is independently runnable/verifiable,
    // and a cross-entry model memo would make Bench medians measure cache
    // hits, not the operator (~2 s/rep of double-paid training at sf0.1
    // is the accepted cost; a production pipeline trains once and passes
    // the model — Bpe.train/encode are separate calls precisely so it
    // can). SELF-CHECKING per lang stratum (BPE has no SQL
    // oracle; t18/q36 prove the pieces): every doc packed exactly once,
    // the final offset+len equals the token total (cumulative-packing
    // conservation), the starting-bin count sits inside its provable
    // bounds (≤ bins the span can reach; n_bins·(budget+max_len) covers
    // the total — bins are NOT dense: a doc longer than the budget
    // legitimately straddles whole bins, the packer's greedy-offset
    // semantics), and BPE actually compressed.
    "p07_tokenize_pack_pipeline" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        val model = graft.operators.Bpe.train(docs, numMerges = 24)
        val enc = graft.operators.Bpe.encode(docs, model)
          .select("doc_id", "n_tokens")
        val withLang = docs.select(col("doc_id"), col("lang"),
            length(regexp_replace(Dedup.normalize(col("text")), " ", ""))
              .cast("long").as("n_chars_flat"))
          .join(enc, Seq("doc_id"))
        val packed = graft.operators.Sampling.sequentialPack(
          withLang, groupCol = "lang", orderCol = "doc_id",
          tokenCountCol = col("n_tokens"), budget = 256)
        val docCounts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs_in"))
        packed.groupBy(col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"),
            sum(col("n_chars_flat")).as("total_chars"),
            count_distinct(col("bin")).as("n_bins"),
            (max(col("bin")) + 1).as("max_bin_p1"),
            max(col("n_tok")).as("max_len"),
            max(col("offset") + col("n_tok")).as("final_span"))
          .join(docCounts, Seq("lang"))
          .select(col("lang"), col("n_docs"), col("total_tokens"), col("n_bins"),
            (col("n_docs") === col("n_docs_in") &&
              col("final_span") === col("total_tokens") &&
              col("n_bins") <= col("max_bin_p1") &&
              col("max_bin_p1") <= expr("total_tokens div 256") + 1 &&
              col("n_bins") * (col("max_len") + 256) >= col("total_tokens") &&
              col("total_tokens") < col("total_chars")).as("pass"))
      },
      None,
      "tokenize→pack capstone: BPE token counts drive fixed-budget " +
        "sequence packing per stratum; exactly-once/dense-bin/conservation " +
        "self-checks"),

    // p09: fill-in-the-middle transformation (Bavarian et al. 2022) —
    // infilling data prep: half the corpus (doc_id parity) rewritten to
    // PSM order with sentinel tokens, cut points by modular arithmetic on
    // the id (not RNG — same doc, same split, every engine). Map-only.
    "p09_fim_split" -> Q(
      (s, dir) => TextAnalysis.fimSplit(tp(s, dir, "documents")),
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks,
             |        (doc_id % 2 = 0 AND len(toks) >= 4) AS fim FROM tk),
             |c AS (SELECT *,
             |        ((doc_id % (n_toks + 1)) * 2654435761) % (n_toks + 1) AS h1,
             |        ((doc_id % (n_toks + 1)) * 2246822519) % (n_toks + 1) AS h2 FROM b),
             |d AS (SELECT doc_id, fim, n_toks, toks,
             |        CASE WHEN fim THEN least(h1, h2) ELSE 0 END AS cut1,
             |        CASE WHEN fim THEN greatest(h1, h2)
             |             ELSE n_toks END AS cut2 FROM c)
             |SELECT doc_id, fim, n_toks, cut1, cut2,
             |  cut1 AS len_pre, cut2 - cut1 AS len_mid,
             |  n_toks - cut2 AS len_suf,
             |  CASE WHEN fim THEN '<PRE> ' ||
             |      coalesce(array_to_string(toks[1:cut1], ' '), '')
             |      || ' <SUF> ' ||
             |      coalesce(array_to_string(toks[cut2+1:n_toks], ' '), '')
             |      || ' <MID> ' ||
             |      coalesce(array_to_string(toks[cut1+1:cut2], ' '), '')
             |    ELSE array_to_string(toks, ' ') END AS out_text
             |FROM d""".stripMargin),
      "fill-in-the-middle (FIM) data prep: deterministic id-keyed 50% " +
        "gate, modular cut points, PSM reassembly with sentinels — " +
        "map-only, span lengths conserve"),

    // p10: sentence-boundary-respecting greedy chunking (the RAG /
    // context-prep splitter; Sampling.sentenceChunks scaladoc has the
    // exact contract). The synthetic corpus carries no punctuation, so
    // the entry INJECTS deterministic boundaries first — a period after
    // every (4 + doc_id % 5)-th token, id-keyed so sentence lengths vary
    // across docs (the q97 synthesis pattern; both engines re-derive the
    // same text). maxChars=120 forces multi-chunk splits on most docs.
    // Oracle: the greedy fold replayed as a DuckDB recursive CTE (the
    // q57 pattern), chunk text via ordered string_agg.
    "p10_sentence_chunks" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        val k = col("doc_id") % 5 + 4
        val toks = split(col("text"), " ")
        val text2 = array_join(
          transform(toks, (t, i) =>
            when((i + 1) % k === 0, concat(t, lit("."))).otherwise(t)), " ")
        graft.operators.Sampling.sentenceChunks(
          docs.select(col("doc_id"), text2.as("text")), maxChars = 120)
      },
      Some("""WITH RECURSIVE
             |t AS (SELECT doc_id, string_split(text, ' ') AS toks,
             |        (4 + doc_id % 5) AS k FROM documents),
             |t2 AS (SELECT doc_id, array_to_string(
             |  [CASE WHEN i % k = 0 THEN toks[i] || '.' ELSE toks[i] END
             |   FOR i IN generate_series(1, len(toks))], ' ') AS text2
             | FROM t),
             |m AS (SELECT doc_id, list_filter(string_split(
             |    regexp_replace(text2, '([.!?]) ', '\1' || chr(1), 'g'),
             |    chr(1)), s -> s <> '') AS sents FROM t2),
             |es AS (SELECT doc_id, r.p AS p, r.t AS t,
             |        CAST(length(r.t) AS BIGINT) AS l
             |  FROM (SELECT doc_id,
             |          unnest([{'p': i, 't': sents[i]}
             |                  FOR i IN generate_series(1, len(sents))]) AS r
             |        FROM m)),
             |rec AS (
             |  SELECT doc_id, p, CAST(0 AS BIGINT) AS idx, l AS cur
             |  FROM es WHERE p = 1
             |  UNION ALL
             |  SELECT es.doc_id, es.p,
             |    CASE WHEN rec.cur + 1 + es.l <= 120 THEN rec.idx
             |         ELSE rec.idx + 1 END,
             |    CASE WHEN rec.cur + 1 + es.l <= 120 THEN rec.cur + 1 + es.l
             |         ELSE es.l END
             |  FROM rec JOIN es ON es.doc_id = rec.doc_id
             |                  AND es.p = rec.p + 1)
             |SELECT rec.doc_id, rec.idx AS chunk_idx,
             |  string_agg(es.t, ' ' ORDER BY es.p) AS chunk_text,
             |  CAST(count(*) AS BIGINT) AS n_sents,
             |  CAST(sum(es.l) + count(*) - 1 AS BIGINT) AS n_chars
             |FROM rec JOIN es ON es.doc_id = rec.doc_id AND es.p = rec.p
             |GROUP BY rec.doc_id, rec.idx""".stripMargin),
      "sentence-boundary greedy chunking (RAG splitter): sentences never " +
        "cut, greedy <=120-char packing as one linear in-row fold — " +
        "map-only, zero shuffle"),

    "t13_rarity_score" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents")
        // max(1, …): a sub-10-doc corpus would otherwise compute 0 and
        // trip rarityScore's require — degrade to "keep every term" instead
        TextAnalysis.rarityScore(docs, minCount = math.max(1L, docs.count() / 10))
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |mc AS (SELECT greatest(1, count(*) // 10) AS m FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
             |g AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM c),
             |v AS (SELECT term, (10000 * n_tok) // cnt AS r
             |      FROM c, g, mc WHERE cnt >= m)
             |SELECT doc_id, dl, rarity_sum_e4,
             |       rarity_sum_e4 // dl AS rarity_mean_e4
             |FROM (
             |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS dl,
             |    CAST(sum(coalesce(v.r, (SELECT (10000 * n_tok) // m FROM g, mc))) AS BIGINT)
             |      AS rarity_sum_e4
             |  FROM t LEFT JOIN v USING (term) GROUP BY t.doc_id)""".stripMargin),
      "unigram rarity score (CCNet perplexity-filter shape): integer " +
        "inverse-probability, OOV charged at the vocabulary floor, engine-exact"),

    // t14: hybrid retrieval — reciprocal-rank fusion of the BM25 leg
    // (t11's machinery, terms dup/merge) and the embedding-cosine leg
    // (s01's machinery, query vector 0). Both legs top-20, fused top-10.
    // Every fusion term is one IEEE division of integers — engine-exact.
    "t14_hybrid_rrf" -> Q(
      (s, dir) => TextAnalysis.hybridSearch(
        tp(s, dir, "documents"), tp(s, dir, "embeddings"),
        terms = Seq("dup", "merge"), queryId = 0L, k = 20, topK = 10),
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |m AS (
             |  SELECT doc_id, len(toks) AS dl,
             |    len(list_filter(toks, t -> t = 'dup')) AS tf0,
             |    len(list_filter(toks, t -> t = 'merge')) AS tf1
             |  FROM tk),
             |g AS (
             |  SELECT count(*) AS n, sum(dl) AS sdl,
             |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
             |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1
             |  FROM m),
             |lex AS (
             |  SELECT doc_id, score FROM (
             |    SELECT doc_id,
             |      CAST(floor((10000.0 * ((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5)))
             |             * ((tf0 * 2.2) / (tf0 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT)
             |    + CAST(floor((10000.0 * ((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)))
             |             * ((tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE))))))) AS BIGINT)
             |      AS score
             |    FROM m, g)
             |  WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20),
             |lexr AS (
             |  SELECT doc_id,
             |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_lex
             |  FROM lex),
             |semr AS (
             |  SELECT neighbor_id AS doc_id, rank AS rank_sem FROM (
             |    SELECT c.vec_id AS neighbor_id,
             |      CAST(row_number() OVER (ORDER BY
             |        list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
             |        / (sqrt(list_inner_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
             |           * sqrt(list_inner_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))
             |        DESC, c.vec_id) AS INT) AS rank
             |    FROM embeddings c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
             |    WHERE c.vec_id <> 0)
             |  WHERE rank <= 20)
             |SELECT doc_id, rank_lex, rank_sem,
             |  coalesce(1.0/(60 + rank_lex), 0.0) + coalesce(1.0/(60 + rank_sem), 0.0) AS rrf
             |FROM lexr FULL OUTER JOIN semr USING (doc_id)
             |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin),
      "hybrid retrieval: reciprocal-rank fusion of BM25 and embedding-cosine " +
        "top-k lists, integer-division fusion terms, engine-exact"),

    // ---- multimodal plumbing (stub decode; deterministic → oracle) -------
    // ---- pipeline composition -------------------------------------------
    // The full curation chain as ONE dataflow — quality filter, exact
    // dedup, benchmark decontamination, split assignment — proving the
    // operators compose (each stage is separately oracle-checked by
    // t10/d01/d02/d09/q35; this checks their composition end-to-end).
    // Catalyst plans the whole chain as one job: the filter is map-only,
    // dedup shuffles (hash, id), decontamination broadcasts eval grams,
    // the split is map-only — nothing materializes between stages.
    "p01_curation_pipeline" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select("doc_id", "text", "lang", "n_chars")
        val keepIds = TextAnalysis.c4Filters(docs, minToks = 15)
          .where(col("keep")).select("doc_id")
        val kept = docs.join(keepIds, Seq("doc_id"), "left_semi")
        val deduped = Dedup.exactDedup(kept)
        val clean = Dedup.decontaminate(deduped,
          perturbed(docs.where(col("doc_id") % 25 === 0).select("doc_id", "text")), n = 8)
        graft.operators.Sampling.hashSplit(clean)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      },
      Some(s"""WITH q AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS INT) AS n_chars_c,
             |    CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS INT) AS n_space,
             |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INT) AS n_toks,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             |      w -> w IN ('the','and','of','to','a','in','is','that','for','it'))) AS INT) AS stop_hits,
             |    contains(lower(text), 'lorem ipsum') AS has_lorem,
             |    contains(lower(text), '{') AS has_brace
             |  FROM documents),
             |keepids AS (
             |  SELECT doc_id FROM q
             |  WHERE NOT (n_toks < 15
             |    OR CAST(floor(10000.0 * (n_chars_c - n_space) / n_toks) AS INT) < 30000
             |    OR CAST(floor(10000.0 * (n_chars_c - n_space) / n_toks) AS INT) > 100000
             |    OR stop_hits < 2 OR has_lorem OR has_brace)),
             |k AS (
             |  SELECT d.doc_id, d.text, d.lang, d.n_chars
             |  FROM documents d JOIN keepids USING (doc_id)),
             |dd AS (
             |  SELECT * FROM k WHERE doc_id IN (
             |    SELECT min(doc_id) FROM k
             |    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))),
             |ev AS (
             |  SELECT doc_id + 100000 AS doc_id,
             |         array_to_string(string_split(text, ' ')[3:], ' ') AS text
             |  FROM documents WHERE doc_id % 25 = 0),
             |eg AS (
             |  SELECT DISTINCT unnest(sh) AS g FROM (
             |    SELECT ${shingleSqlN(8)} AS sh
             |    FROM (SELECT $NormToksSql AS toks FROM ev))),
             |tg AS (
             |  SELECT doc_id, unnest(sh) AS g FROM (
             |    SELECT doc_id, ${shingleSqlN(8)} AS sh
             |    FROM (SELECT doc_id, $NormToksSql AS toks FROM dd))),
             |clean AS (
             |  SELECT * FROM dd WHERE doc_id NOT IN (
             |    SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON t.g = e.g)),
             |s AS (
             |  SELECT clean.*,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
             |  FROM (SELECT clean.*,
             |          CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
             |        FROM clean) clean)
             |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM s GROUP BY split""".stripMargin),
      "end-to-end curation: C4 filter → exact dedup → decontaminate → hash split"),

    // p02: the round-4 operators composed end-to-end — exact dedup →
    // ExactSubstr span scrub → survivor gate → quality-weighted sample —
    // one fused Catalyst plan, every stage individually oracle-checked
    // (d01/d17/q51) and the composition itself checked by composed CTEs.
    "p02_scrub_sample_pipeline" -> Q(
      (s, dir) => {
        val corpus = docsWithNearDups(s, dir)
        val deduped = Dedup.exactDedup(corpus)
        val scrubbed = Dedup.scrubDuplicatedSpans(deduped, k = 8)
        val survivors = scrubbed
          .withColumn("w", size(split(col("clean_text"), " ")))
          .where(col("clean_text") =!= "" && col("w") >= 10)
          .withColumn("stratum", (col("doc_id") % 4).cast("int"))
        graft.operators.Sampling.weightedTake(survivors,
          strataCol = "stratum", idCol = "doc_id", weightCol = col("w"),
          n = 10, salt = "p2")
          .select(col("stratum"), col("doc_id"), col("w"), col("n_removed"),
            col("rn"), md5(col("clean_text")).as("fp"))
      },
      Some(s"""WITH d2 AS ($DupCorpusSql),
             |dd AS (
             |  SELECT * FROM d2 WHERE doc_id IN (
             |    SELECT min(doc_id) FROM d2
             |    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))),
             |tk AS (SELECT doc_id, $NormToksSql AS toks FROM dd),
             |sp AS (
             |  SELECT doc_id, n, unnest(sps, recursive := true) FROM (
             |    SELECT doc_id, len(toks) AS n,
             |      CASE WHEN len(toks) >= 8
             |        THEN [{'pos': i, 'm': md5(array_to_string(toks[i:i+7], ' '))}
             |              FOR i IN generate_series(1, len(toks) - 7)]
             |        ELSE [{'pos': 1, 'm': md5(array_to_string(toks, ' '))}]
             |      END AS sps
             |    FROM tk)),
             |dup AS (
             |  SELECT m, min(doc_id) AS first_doc FROM sp
             |  GROUP BY m HAVING count(DISTINCT doc_id) >= 2),
             |cuts AS (
             |  SELECT s.doc_id, unnest(generate_series(s.pos, least(s.pos + 7, s.n))) AS j
             |  FROM sp s JOIN dup d USING (m)
             |  WHERE s.doc_id <> d.first_doc),
             |cutset AS (SELECT doc_id, list(DISTINCT j) AS cut FROM cuts GROUP BY doc_id),
             |cleaned AS (
             |  SELECT t.doc_id,
             |    coalesce(array_to_string([t.toks[j] FOR j IN generate_series(1, len(t.toks))
             |                     IF NOT list_contains(coalesce(c.cut, []), j)], ' '), '') AS clean_text,
             |    CAST(coalesce(len(c.cut), 0) AS BIGINT) AS n_removed
             |  FROM tk t LEFT JOIN cutset c USING (doc_id)),
             |surv AS (
             |  SELECT doc_id, clean_text, n_removed,
             |    CAST(len(string_split(clean_text, ' ')) AS INT) AS w,
             |    CAST(doc_id % 4 AS INT) AS stratum
             |  FROM cleaned
             |  WHERE clean_text <> '' AND len(string_split(clean_text, ' ')) >= 10),
             |pri AS (
             |  SELECT *,
             |    CAST(${Md5LongSql.format("CONCAT(CAST(doc_id AS VARCHAR), 'p2')")} AS DOUBLE)
             |      / 1152921504606846976.0 / w AS prio
             |  FROM surv)
             |SELECT stratum, doc_id, w, n_removed,
             |  CAST(row_number() OVER (PARTITION BY stratum ORDER BY prio, doc_id) AS INT) AS rn,
             |  md5(clean_text) AS fp
             |FROM pri QUALIFY rn <= 10""".stripMargin),
      "curation capstone: exact dedup → span scrub → survivor gate → " +
        "weighted sample, one fused plan"),

    // p03: the round-5 operators composed end-to-end — C4 gate →
    // QUALITY-RANKED near-dedup (d19: clusters keep their best-quality
    // member) → rare-token <unk> rewrite (t12) → hash split — every stage
    // individually oracle-checked (t10/d19/t12/q35), the composition
    // checked by composed CTEs. The <unk> threshold is docCount/10 of the
    // BASE table, integer-exact in both engines.
    "p03_quality_curation_pipeline" -> Q(
      (s, dir) => {
        val corpus = docsWithNearDups(s, dir)
        val minCount = math.max(1L, tp(s, dir, "documents").count() / 10)
        val keepIds = TextAnalysis.c4Filters(corpus, minToks = 15)
          .where(col("keep")).select("doc_id")
        // the gated corpus feeds five consumers (pair gen, quality, the
        // survivor anti-join, the <unk> count pass, the rebuild); persist
        // the flat (doc_id, text) strings so the scan + C4 kernel + semi-
        // join run once — the scrubDuplicatedSpans treatment (and like
        // there, NEVER persist tokenized arrays: columnar-encoding them
        // costs more than the rescan)
        val gated = corpus.join(keepIds, Seq("doc_id"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // survivors feed unkRewrite's two consumers; a persist here was
        // measured a wash (±0.1 s at sf0.1) — minhashNearDups' internal
        // shingle persist already amortizes the expensive part of the
        // rerun, so the extra cache pressure isn't paid for
        val survivors = Dedup.bestQualitySurvivors(
          gated,
          Dedup.minhashNearDups(gated,
            shingleSize = 3, numHashes = 96, rowsPerBand = 4, threshold = 0.8)
            .select("a", "b"),
          TextAnalysis.qualityScore(gated).select("doc_id", "quality_score"))
        val rewritten = TextAnalysis.unkRewrite(survivors, minCount = minCount)
        graft.operators.Sampling.hashSplit(rewritten)
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_unk")).as("sum_unk"),
            sum(size(split(col("rewritten"), " ")).cast("long")).as("sum_toks"),
            min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      },
      Some(s"""WITH RECURSIVE d2 AS ($DupCorpusSql),
             |cq AS (
             |  SELECT doc_id,
             |    CAST(length(text) AS INT) AS n_chars_c,
             |    CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS INT) AS n_space,
             |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS INT) AS n_toks,
             |    CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             |      w -> w IN ('the','and','of','to','a','in','is','that','for','it'))) AS INT) AS stop_hits,
             |    contains(lower(text), 'lorem ipsum') AS has_lorem,
             |    contains(lower(text), '{') AS has_brace
             |  FROM d2),
             |gated AS (
             |  SELECT d.doc_id, d.text FROM d2 d JOIN (
             |    SELECT doc_id FROM cq
             |    WHERE NOT (n_toks < 15
             |      OR CAST(floor(10000.0 * (n_chars_c - n_space) / n_toks) AS INT) < 30000
             |      OR CAST(floor(10000.0 * (n_chars_c - n_space) / n_toks) AS INT) > 100000
             |      OR stop_hits < 2 OR has_lorem OR has_brace)) k USING (doc_id)),
             |f AS (
             |  SELECT doc_id, $ShingleSql AS sh
             |  FROM (SELECT doc_id, $NormToksSql AS toks FROM gated)),
             |pairs AS (
             |  SELECT a.doc_id AS a, b.doc_id AS b
             |  FROM f a JOIN f b
             |    ON a.doc_id < b.doc_id
             |   AND 5 * len(a.sh) >= 4 * len(b.sh)
             |   AND 5 * len(b.sh) >= 4 * len(a.sh)
             |  WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             |         / len(list_distinct(list_concat(a.sh, b.sh)))) >= 0.8),
             |edges AS (
             |  SELECT a AS src, b AS dst FROM pairs
             |  UNION SELECT b, a FROM pairs),
             |reach(src, dst) AS (
             |  SELECT src, dst FROM edges
             |  UNION
             |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
             |clusters AS (
             |  SELECT src AS node, least(src, min(dst)) AS cluster
             |  FROM reach GROUP BY src),
             |qual AS (
             |  SELECT doc_id,
             |    CAST(CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / length(text)) AS INT)
             |       + CAST(floor(10000.0 * len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
             |           w -> w IN ('the','and','of','to','a','in','is','that','for','it')))
             |           / len(string_split_regex(trim(lower(text)), '\\s+'))) AS INT) * 2 AS INT) AS score
             |  FROM gated),
             |members AS (
             |  SELECT c.node, c.cluster, q.score
             |  FROM clusters c JOIN qual q ON c.node = q.doc_id),
             |best AS (SELECT cluster, max(score) AS mx FROM members GROUP BY cluster),
             |reps AS (
             |  SELECT m.cluster, min(m.node) AS rep
             |  FROM members m JOIN best b ON m.cluster = b.cluster AND m.score = b.mx
             |  GROUP BY m.cluster),
             |losers AS (
             |  SELECT m.node FROM members m JOIN reps r ON m.cluster = r.cluster
             |  WHERE m.node <> r.rep),
             |surv AS (
             |  SELECT doc_id, $NormToksSql AS toks FROM gated
             |  WHERE doc_id NOT IN (SELECT node FROM losers)),
             |ks AS (
             |  SELECT list(term ORDER BY term) AS ks FROM (
             |    SELECT term FROM (SELECT unnest(toks) AS term FROM surv)
             |    GROUP BY term
             |    HAVING count(*) >= (SELECT greatest(1, count(*) // 10) FROM documents))),
             |rw AS (
             |  SELECT doc_id,
             |    coalesce(array_to_string([CASE WHEN list_contains(coalesce(k.ks, []), t)
             |                              THEN t ELSE '<unk>' END FOR t IN surv.toks], ' '), '') AS rewritten,
             |    CAST(len(list_filter(surv.toks,
             |      t -> NOT list_contains(coalesce(k.ks, []), t))) AS BIGINT) AS n_unk
             |  FROM surv, ks k),
             |s AS (
             |  SELECT doc_id, rewritten, n_unk,
             |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
             |  FROM (SELECT rw.*,
             |          CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
             |        FROM rw))
             |SELECT split, count(*) AS n_docs,
             |  CAST(sum(n_unk) AS BIGINT) AS sum_unk,
             |  CAST(sum(len(string_split(rewritten, ' '))) AS BIGINT) AS sum_toks,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM s GROUP BY split""".stripMargin),
      "curation capstone 2: C4 gate → quality-ranked near-dedup → <unk> " +
        "rewrite → hash split, one fused plan"),

    // p04: the round-6 operators composed — unigram-rarity GATE (t13's
    // CCNet shape: drop docs beyond 2× the corpus's integer-mean rarity)
    // → DSIR importance weights vs a target slice (d21) → weighted
    // priority selection per source stratum (q51's sampler, weight =
    // mean DSIR ratio + 1 so zero-overlap docs stay sampleable at floor
    // priority). Every stage is individually oracle-checked
    // (t13/d21/q51); this pins their composition. All arithmetic integer
    // or single IEEE divisions — the whole pipeline hash-matches DuckDB.
    "p04_target_matching_pipeline" -> Q(
      (s, dir) => {
        val docs = tp(s, dir, "documents").select("doc_id", "text", "source")
        val minCount = math.max(1L, docs.count() / 10) // see t13: tiny-corpus clamp
        // rarity is one numeric row per doc (4 longs) — persist it so the
        // eager cap scalar and the gate join don't each re-run the two
        // tokenize passes (measured: p04 5.3 s → the rarity recompute was
        // the largest share). Numeric-only rows are cheap to cache at any
        // scale, unlike token arrays (the p03 rule).
        val rarity = TextAnalysis.rarityScore(docs, minCount = minCount)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cap = rarity.agg(expr("2 * (sum(rarity_mean_e4) div count(1))"))
          .head.getLong(0)
        // gated flat strings feed three dsirWeights consumers (source
        // model, target model, scoring pass) — persist like p03's gate
        val gated = docs.join(
          rarity.where(col("rarity_mean_e4") <= cap)
            .select("doc_id", "rarity_mean_e4"), Seq("doc_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val target = gated.where(col("doc_id") % 7 === 3)
        val wts = graft.operators.Sampling
          .dsirWeights(gated, target, n = 2, buckets = 256)
          .select(col("doc_id"), (col("w_mean_e4") + lit(1L)).as("w"))
        val scored = gated.join(wts, Seq("doc_id"))
        graft.operators.Sampling.weightedTake(scored, strataCol = "source",
          idCol = "doc_id", weightCol = col("w"), n = 8, salt = "p4")
          .select("source", "doc_id", "rarity_mean_e4", "w", "rn")
      },
      Some(s"""WITH tk AS (SELECT doc_id, $NormToksSql AS toks FROM documents),
             |mc AS (SELECT greatest(1, count(*) // 10) AS m FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
             |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
             |g AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM c),
             |v AS (SELECT term, (10000 * n_tok) // cnt AS r
             |      FROM c, g, mc WHERE cnt >= m),
             |rar AS (
             |  SELECT doc_id, rarity_sum_e4 // dl AS rarity_mean_e4 FROM (
             |    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS dl,
             |      CAST(sum(coalesce(v.r, (SELECT (10000 * n_tok) // m FROM g, mc))) AS BIGINT)
             |        AS rarity_sum_e4
             |    FROM t LEFT JOIN v USING (term) GROUP BY t.doc_id)),
             |cap AS (
             |  SELECT 2 * (CAST(sum(rarity_mean_e4) AS BIGINT) // count(*)) AS cap
             |  FROM rar),
             |gated AS (
             |  SELECT d.doc_id, d.source, r.rarity_mean_e4
             |  FROM documents d JOIN rar r USING (doc_id), cap
             |  WHERE r.rarity_mean_e4 <= cap.cap),
             |gtk AS (
             |  SELECT doc_id, $NormToksSql AS toks FROM documents
             |  WHERE doc_id IN (SELECT doc_id FROM gated)),
             |sg AS (
             |  SELECT doc_id,
             |    CAST(CONCAT('0x', SUBSTR(md5(g2), 1, 15)) AS BIGINT) % 256 AS b
             |  FROM (SELECT doc_id, unnest(${spanSqlN(2)}) AS g2 FROM gtk)),
             |sm AS (SELECT b, count(*) AS cnt FROM sg GROUP BY b),
             |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM sm),
             |ps AS (SELECT b, (1000000000 * (cnt + 1)) // (tot + 1) AS ps FROM sm, st),
             |tm AS (SELECT b, count(*) AS cnt FROM sg WHERE doc_id % 7 = 3 GROUP BY b),
             |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM tm),
             |pt AS (SELECT b, (1000000000 * (cnt + 1)) // (tot + 1) AS pt FROM tm, tt),
             |rr AS (
             |  SELECT ps.b,
             |    (10000 * coalesce(pt.pt, 0)) // (CASE WHEN ps.ps > 0 THEN ps.ps ELSE 1 END) AS r
             |  FROM ps LEFT JOIN pt USING (b)),
             |wts AS (
             |  SELECT sg.doc_id,
             |    (CAST(sum(coalesce(rr.r, 0)) AS BIGINT) // CAST(count(*) AS BIGINT)) + 1 AS w
             |  FROM sg LEFT JOIN rr USING (b) GROUP BY sg.doc_id),
             |sel AS (
             |  SELECT ga.source, ga.doc_id, ga.rarity_mean_e4, wts.w,
             |    CAST(${Md5LongSql.format("CONCAT(CAST(doc_id AS VARCHAR), 'p4')")} AS DOUBLE)
             |      / 1152921504606846976.0 AS u
             |  FROM gated ga JOIN wts USING (doc_id))
             |SELECT source, doc_id, rarity_mean_e4, w, rn FROM (
             |  SELECT source, doc_id, rarity_mean_e4, w,
             |    CAST(row_number() OVER (PARTITION BY source ORDER BY u / w, doc_id) AS INT) AS rn
             |  FROM sel WHERE w > 0)
             |WHERE rn <= 8""".stripMargin),
      "curation capstone 3: rarity gate → DSIR target-matching weights → " +
        "weighted priority selection per stratum, one fused plan"),

    "m01_media_features" -> Q(
      (s, dir) => {
        val media = Multimodal.asMediaTable(tp(s, dir, "documents"))
        Multimodal.extractFeatures(media, dim = 8)
          .select(col("media_id"), size(col("features")).as("dim"),
            element_at(col("features"), 1).as("f0"))
      },
      // f0 = (sum of payload bytes in chunk 0) mod 1009 — byte j of the
      // blob is read via hex() in DuckDB; integer-valued floats compare
      // bit-exactly across engines
      Some("""WITH m AS (
             |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             |         octet_length(encode(text)) AS n
             |  FROM documents)
             |SELECT media_id, CAST(8 AS INT) AS dim,
             |  CAST(CASE WHEN n = 0 THEN 0
             |       ELSE list_sum([CAST(CONCAT('0x', SUBSTR(hx, 2*j+1, 2)) AS INT)
             |                      FOR j IN generate_series(0, greatest(n // 8, 1) - 1)]) % 1009
             |       END AS REAL) AS f0
             |FROM m""".stripMargin),
      "binary-column plumbing + mapPartitions feature extraction (decode stubbed)"),

    // Oracle note (m03): resize is nearest-neighbor over the 64×64 byte
    // grid → flat source index 512·(i÷8) + 8·(i mod 8) clamped to the
    // payload, reproducible byte-by-byte in DuckDB via hex(); the checksum
    // is extractFeatures at dim=1 (sum of resized bytes mod 1009).
    // m04: perceptual-hash image dedup, 256-bit fingerprint (r9: the
    // 64-bit hash's 9-bit bands saturated at ~512 values — the r8-filed
    // scale wall; 256 bits keep every band ≥ 32 bits wide). On the
    // testdata stub payloads the hash takes the byte-grid fallback
    // (16×16 sampling of the declared 64×64 grid: 256·(i÷16) + 4·(i mod
    // 16), clamped), which the oracle re-derives byte-by-byte —
    // including the banding pair-gen's output, because pigeonhole
    // banding has recall 1.0 (any pair within maxDist agrees on ≥1 of
    // max(maxDist+1, 4) bands), so "all pairs ≤ maxDist" is the exact
    // answer, not an approximation. maxDist = 0 here: thresholded ASCII
    // byte grids have low entropy (a measured 9% of ALL pairs sit
    // within 8 of 256 bits on this corpus — the fallback is a totality
    // device, not a similarity signal), so the entry pins the
    // exact-collision regime (178 pairs at sf0.01); banding at maxDist
    // > 0 incl. the long-straddling band extraction is pinned ≡
    // brute-force popcount in MultimodalSpec, and the REAL decode path's
    // Hamming discrimination on PNG fixtures there too.
    "m04_phash_dedup" -> Q(
      (s, dir) => Multimodal.phashNearDups(
        Multimodal.asMediaTable(tp(s, dir, "documents")), maxDist = 0),
      Some("""WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             |                  coalesce(octet_length(encode(text)), 0) AS n
             |           FROM documents),
             |c AS (SELECT media_id,
             |        [CAST(CONCAT('0x', SUBSTR(hx, 2*least(n-1, 256*(i//16) + 4*(i%16))+1, 2)) AS BIGINT)
             |         FOR i IN generate_series(0, 255)] AS grid
             |      FROM m WHERE n > 0),
             |s AS (SELECT media_id, grid, list_sum(grid) AS ssum FROM c),
             |h AS (SELECT media_id,
             |        [CAST(list_sum([CASE WHEN grid[64*j + k + 1] * 256 > ssum
             |                        THEN (CASE WHEN k = 63
             |                              THEN CAST(-9223372036854775807 AS BIGINT) - 1
             |                              ELSE (CAST(1 AS BIGINT) << k) END)
             |                        ELSE CAST(0 AS BIGINT) END
             |                   FOR k IN generate_series(0, 63)]) AS BIGINT)
             |         FOR j IN generate_series(0, 3)] AS fp
             |      FROM s
             |      UNION ALL
             |      SELECT media_id, [CAST(0 AS BIGINT), 0, 0, 0] AS fp FROM m WHERE n = 0),
             |p AS (SELECT a.media_id AS a, b.media_id AS b,
             |        CAST(bit_count(xor(a.fp[1], b.fp[1])) AS INT)
             |        + CAST(bit_count(xor(a.fp[2], b.fp[2])) AS INT)
             |        + CAST(bit_count(xor(a.fp[3], b.fp[3])) AS INT)
             |        + CAST(bit_count(xor(a.fp[4], b.fp[4])) AS INT) AS dist
             |      FROM h a JOIN h b ON a.media_id < b.media_id)
             |SELECT a, b, dist FROM p WHERE dist <= 0""".stripMargin),
      "perceptual-hash (aHash) image dedup: 16x16 luma/byte grid -> " +
        "256-bit fingerprint, pigeonhole banding (recall 1.0, bands >= " +
        "32 bits) + popcount verify; ~50-byte keys shuffle, payloads never"),

    "m03_media_resize" -> Q(
      (s, dir) => {
        val media = Multimodal.asMediaTable(tp(s, dir, "documents"))
        val resized = Multimodal.resize(media, dstW = 8, dstH = 8)
        Multimodal.extractFeatures(resized, dim = 1)
          .join(resized.select(col("media_id"), col("meta.n_bytes").as("n_bytes_out")), "media_id")
          .select(col("media_id"), col("n_bytes_out"),
            element_at(col("features"), 1).as("checksum"))
      },
      Some("""WITH m AS (
             |  SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             |         octet_length(encode(text)) AS n
             |  FROM documents),
             |r AS (
             |  SELECT media_id, n,
             |    CASE WHEN n = 0 THEN [] ELSE
             |      [CAST(CONCAT('0x', SUBSTR(hx, 2 * least(n - 1, 512 * (i // 8) + 8 * (i % 8)) + 1, 2)) AS INT)
             |       FOR i IN generate_series(0, 63)] END AS bs
             |  FROM m)
             |SELECT media_id,
             |  CAST(len(bs) AS BIGINT) AS n_bytes_out,
             |  CAST(CASE WHEN len(bs) = 0 THEN 0 ELSE list_sum(bs) % 1009 END AS FLOAT) AS checksum
             |FROM r""".stripMargin),
      "media resize plumbing: nearest-neighbor byte-grid downsample, map-only"),

    "m02_frame_sample" -> Q(
      (s, dir) => {
        val media = Multimodal.asMediaTable(tp(s, dir, "documents"))
        Multimodal.frameSample(media, frameBytes = 32, stride = 4)
          .groupBy(col("media_id")).agg(count(lit(1)).as("n_frames"))
      },
      Some("""SELECT doc_id AS media_id,
             |  CAST(greatest(octet_length(encode(text)) // 128, 1) AS BIGINT) AS n_frames
             |FROM documents""".stripMargin),
      "frame-sampling plumbing over binary payloads"),

    // t26: log template mining (Drain-lite) — the reference's whole
    // domain is access/error logs; this is the "what event shapes does
    // this log contain" operator. Lines synthesized in four shapes from
    // events; digit-bearing tokens mask to <*>; the template rollup is
    // one map-side-combined aggregate whose exchange carries the
    // TEMPLATE domain, never the lines.
    "t26_log_templates" -> Q(
      (s, dir) => {
        val ev = tp(s, dir, "events")
        val uid = col("user_id").cast("string")
        val eid = col("event_id").cast("string")
        val line = when(col("event_id") % 4 === 0,
            concat(uid, lit(" GET /p/"), eid, lit(" 200 "),
              (col("event_id") % 9973).cast("string")))
          .when(col("event_id") % 4 === 1,
            concat(uid, lit(" POST /api/v1/items/"), eid, lit(" 201")))
          .when(col("event_id") % 4 === 2,
            concat(uid, lit(" GET /p/"), eid, lit(" 404 not found")))
          .otherwise(concat(lit("[error] upstream timed out, client "),
            uid, lit(", request "), eid))
        graft.operators.TextAnalysis.logTemplates(ev.select(line.as("value")))
      },
      Some("""WITH lines AS (
             |  SELECT CASE
             |    WHEN event_id % 4 = 0 THEN CAST(user_id AS VARCHAR)
             |      || ' GET /p/' || CAST(event_id AS VARCHAR) || ' 200 '
             |      || CAST(event_id % 9973 AS VARCHAR)
             |    WHEN event_id % 4 = 1 THEN CAST(user_id AS VARCHAR)
             |      || ' POST /api/v1/items/' || CAST(event_id AS VARCHAR)
             |      || ' 201'
             |    WHEN event_id % 4 = 2 THEN CAST(user_id AS VARCHAR)
             |      || ' GET /p/' || CAST(event_id AS VARCHAR)
             |      || ' 404 not found'
             |    ELSE '[error] upstream timed out, client '
             |      || CAST(user_id AS VARCHAR) || ', request '
             |      || CAST(event_id AS VARCHAR)
             |  END AS line
             |  FROM events)
             |SELECT regexp_replace(line, '\S*\d\S*', '<*>', 'g') AS template,
             |  count(*) AS n, min(line) AS example
             |FROM lines GROUP BY 1""".stripMargin),
      "Drain-lite log template mining: digit-bearing tokens mask to <*>, " +
        "template rollup with a deterministic example witness — the " +
        "exchange carries the template domain, never the log lines"),

    // t27: the -State/-Merge combinator workflow on the APPROXIMATE
    // family — q84's AggregatingMergeTree pattern with KLL states
    // instead of exact bitmaps: per-day O(k) sketch states are PERSISTED
    // to parquet, read back, and merged to week summaries without
    // re-touching the fact table. A merged sketch's content is
    // merge-order-dependent (why this can't hash-match an oracle the way
    // q84 does); the SELF-CHECK asserts what the artifact contract
    // guarantees instead: n is exactly additive through the store, and
    // the merged sketch's own Hoeffding bound holds against exact ranks
    // recomputed from the same scan (the t20 discipline over STORED
    // artifacts).
    "t27_kll_state_merge" -> Q(
      (s, dir) => {
        import graft.operators.Quantiles
        val k = 128
        val ev = t(s, dir, "events").select(
          date_trunc("week", col("ts")).cast("date").cast("string").as("week"),
          to_date(col("ts")).cast("string").as("day"),
          col("value").cast("double").as("v")).na.drop()
        val stateAgg = udaf(new Quantiles.KllStateAgg(k),
          org.apache.spark.sql.Encoders.DOUBLE)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_t27_states").toString
        ev.groupBy(col("week"), col("day"))
          .agg(stateAgg(col("v")).as("st"))
          .write.mode("overwrite").parquet(s"$tmp/day_states")
        val stored = s.read.parquet(s"$tmp/day_states")
        val mergeAgg = udaf(new Quantiles.KllMergeSummary())
        // udaf flattens case-class inputs to one SQL arg per field
        val merged = stored.groupBy(col("week"))
          .agg(count(lit(1)).as("n_days"),
            mergeAgg(col("st.k"), col("st.n"), col("st.varSum"),
              col("st.nCompactions"), col("st.levels")).as("sum"))
          .collect() // bounded: weeks × O(k) summary values
        import s.implicits._
        val probes = merged.map { r =>
          val week = r.getString(0)
          val nDays = r.getLong(1)
          val sRow = r.getStruct(2)
          // getAs returns a mutable ArraySeq — copy into the immutable
          // Seq the case class declares (checkcast fails otherwise)
          val summ = Quantiles.KllSummary(sRow.getAs[Long]("n"),
            sRow.getAs[Double]("varSum"),
            sRow.getAs[scala.collection.Seq[Double]]("values").toVector,
            sRow.getAs[scala.collection.Seq[Long]]("weights").toVector)
          val q = Quantiles.quantile(summ, 0.5)
          (week, nDays, summ.n, q, Quantiles.estRank(summ, q),
            Quantiles.rankBound(summ.varSum))
        }.toSeq
        val probeDf = probes.toDF("week", "n_days", "n_sketch", "est_q",
          "est_rank", "bound")
        val exact = ev.groupBy(col("week"))
          .agg(count(lit(1)).as("n_exact")).withColumnRenamed("week", "w")
        val trueRanks = ev.join(
            broadcast(probeDf.select(col("week").as("w"), col("est_q"))),
            col("week") === col("w"))
          .groupBy(col("w"))
          .agg(sum(when(col("v") <= col("est_q"), 1L).otherwise(0L))
            .as("true_rank"))
        probeDf.join(exact, probeDf("week") === exact("w")).drop("w")
          .join(trueRanks, probeDf("week") === trueRanks("w")).drop("w")
          .select(col("week"), col("n_days"), col("n_sketch"), col("n_exact"),
            col("est_rank"), col("true_rank"), col("bound"),
            (abs(col("est_rank") - col("true_rank")) <= col("bound"))
              .as("rank_in_bound"),
            ((abs(col("est_rank") - col("true_rank")) <= col("bound")) &&
              col("n_sketch") === col("n_exact")).as("pass"))
      },
      None,
      "ClickHouse -State/-Merge on the approximate family: per-day KLL " +
        "sketch states persisted to parquet and re-merged to week " +
        "summaries; n exactly additive through the store, Hoeffding rank " +
        "bound re-proved against exact ranks from the same scan"),

    // t28: URL canonicalization — the normalize-before-dedup step of
    // every web-scrape pipeline (the same page arrives with case-shuffled
    // scheme/host, default ports, trailing slashes, tracking params, and
    // fragments). Deterministic messy URLs synthesized from events;
    // the rollup counts how many raw variants collapse per canonical
    // URL. Every regex is anchored/single-match and the param
    // filter+sort is plain list algebra — mirrored step-for-step in the
    // oracle.
    "t28_url_canonicalize" -> Q(
      (s, dir) => {
        val raw = t(s, dir, "events").select(concat(
          when(col("event_id") % 2 === 0, lit("HTTP://"))
            .otherwise(lit("https://")),
          lit("Shop"), (col("user_id") % 7).cast("string"),
          lit(".Example.COM"),
          when(col("event_id") % 6 === 0, lit(":80")).otherwise(lit("")),
          lit("/p/"), (col("event_id") % 500).cast("string"),
          when(col("event_id") % 5 === 0, lit("//")).otherwise(lit("")),
          lit("?b=2&utm_source=x"),
          when(col("event_id") % 4 === 0, lit("&a=1")).otherwise(lit("")),
          when(col("event_id") % 7 === 0, lit("&fbclid=zz")).otherwise(lit("")),
          when(col("event_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
        raw.select(col("url"),
            TextAnalysis.canonicalizeUrl(col("url")).as("url_canon"))
          .groupBy(col("url_canon"))
          .agg(count(lit(1)).as("n_raw"),
            count_distinct(col("url")).as("n_variants"),
            min(col("url")).as("example"))
      },
      Some(urlCanonicalizeOracle),
      "URL canonicalization (web-scrape dedup prep): fragment/case/" +
        "default-port/trailing-slash/tracking-param normalization with " +
        "sorted query params — map-only portable regex + list algebra, " +
        "variant-collapse rollup"),

    // t29: canonicalizeUrl through the SQL frontend
    // (graft_canonicalize_url) — t28's exact query with the
    // normalization running as the registered scalar, hash-matched
    // against the shared oracle (SQL ≡ Column is by construction — the
    // builder wraps the same expression tree — so one oracle checks
    // both surfaces end to end).
    "t29_url_canonicalize_sql" -> Q(
      (s, dir) => {
        val raw = t(s, dir, "events").select(concat(
          when(col("event_id") % 2 === 0, lit("HTTP://"))
            .otherwise(lit("https://")),
          lit("Shop"), (col("user_id") % 7).cast("string"),
          lit(".Example.COM"),
          when(col("event_id") % 6 === 0, lit(":80")).otherwise(lit("")),
          lit("/p/"), (col("event_id") % 500).cast("string"),
          when(col("event_id") % 5 === 0, lit("//")).otherwise(lit("")),
          lit("?b=2&utm_source=x"),
          when(col("event_id") % 4 === 0, lit("&a=1")).otherwise(lit("")),
          when(col("event_id") % 7 === 0, lit("&fbclid=zz")).otherwise(lit("")),
          when(col("event_id") % 2 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
        raw.select(col("url"),
            expr("graft_canonicalize_url(url)").as("url_canon"))
          .groupBy(col("url_canon"))
          .agg(count(lit(1)).as("n_raw"),
            count_distinct(col("url")).as("n_variants"),
            min(col("url")).as("example"))
      },
      Some(urlCanonicalizeOracle),
      "graft_canonicalize_url through the SQL frontend: t28's " +
        "variant-collapse rollup with the normalization as the " +
        "registered scalar — hash-matched against the shared oracle"))

  /** The t28 oracle (the full normalization re-derivation in DuckDB) —
    * shared verbatim with t29, which runs the SAME query through the
    * graft_canonicalize_url SQL scalar.
    */
  private def urlCanonicalizeOracle: String =
    """WITH raw AS (SELECT
             |  CASE WHEN event_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END
             |  || 'Shop' || CAST(user_id % 7 AS VARCHAR) || '.Example.COM'
             |  || CASE WHEN event_id % 6 = 0 THEN ':80' ELSE '' END
             |  || '/p/' || CAST(event_id % 500 AS VARCHAR)
             |  || CASE WHEN event_id % 5 = 0 THEN '//' ELSE '' END
             |  || '?b=2&utm_source=x'
             |  || CASE WHEN event_id % 4 = 0 THEN '&a=1' ELSE '' END
             |  || CASE WHEN event_id % 7 = 0 THEN '&fbclid=zz' ELSE '' END
             |  || CASE WHEN event_id % 2 = 0 THEN '#frag' ELSE '' END AS url
             |FROM events),
             |s1 AS (SELECT url, regexp_replace(trim(url), '#.*$', '') AS nofrag
             |       FROM raw),
             |s2 AS (SELECT url,
             |         lower(regexp_extract(nofrag,
             |           '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
             |         regexp_replace(nofrag,
             |           '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS rest
             |       FROM s1),
             |s3 AS (SELECT url, scheme,
             |         regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)),
             |           ':(80|443)$', '') AS host,
             |         regexp_replace(rest, '^[^/?]*', '') AS pathq
             |       FROM s2),
             |s4 AS (SELECT url, scheme, host,
             |         regexp_replace(regexp_extract(pathq, '^([^?]*)', 1),
             |           '/+$', '') AS rawpath,
             |         regexp_extract(pathq, '\?(.*)$', 1) AS query
             |       FROM s3),
             |s5 AS (SELECT url, scheme, host,
             |         CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
             |         array_to_string(list_sort(
             |           [p FOR p IN string_split(query, '&')
             |            IF p <> '' AND NOT regexp_matches(p,
             |              '^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref)=')]),
             |           '&') AS q
             |       FROM s4),
             |c AS (SELECT url, scheme || '://' || host || path ||
             |        CASE WHEN q = '' THEN '' ELSE '?' || q END AS url_canon
             |      FROM s5)
             |SELECT url_canon, count(*) AS n_raw,
             |  count(DISTINCT url) AS n_variants, min(url) AS example
             |FROM c GROUP BY url_canon""".stripMargin
}
