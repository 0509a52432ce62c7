package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Literature: MinHash resemblance — Broder, "On the resemblance and
  * containment of documents" (SEQUENCES 1997); banded LSH — Leskovec,
  * Rajaraman, Ullman, "Mining of Massive Datasets" ch. 3; SimHash —
  * Charikar, "Similarity estimation techniques from rounding algorithms"
  * (STOC 2002) as applied by Manku, Jain, Sarma, "Detecting
  * near-duplicates for web crawling" (WWW 2007).
  *
  * Scale design notes (the 100 TB story, per the build brief):
  *   - exact dedup = one hash-partitioned groupBy on a 128-bit content
  *     hash — the only shuffle moves (hash, id) pairs, never document text;
  *   - MinHash signatures are computed PER ROW with higher-order array
  *     functions (no explode/groupBy shuffle for signature building —
  *     signature cost is map-side and pipelined into the scan);
  *   - LSH banding shuffles only (band_id, band_hash, doc_id) triples; the
  *     candidate join key is the band hash, so equal-band buckets co-locate
  *     and the O(n²) verify never materializes across buckets;
  *   - the verify stage re-joins shingle-hash SETS (arrays of longs), not
  *     document text.
  */
object Dedup {

  /** Canonical text normalization shared by all dedup flavors:
    * lowercase, collapse whitespace runs, trim.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Exact duplicate groups: md5 of normalized content (md5 so the DuckDB
    * oracle can reproduce it; a 100 TB deployment would use xxhash128).
    * Output: one row per distinct content with the representative (min id)
    * and the duplicate count.
    */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(md5(normalize(col(textCol))).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Rows surviving exact dedup (keep the minimum id per content group). */
  def exactDedup(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val keep = exactGroups(docs, textCol, idCol).select(col("keep_id").as(idCol))
    docs.join(keep, idCol) // broadcast-able when the survivor set is small; shuffle join otherwise
  }

  /** Word n-gram shingles from a token-array column.
    * Documents shorter than `n` tokens collapse to one whole-text shingle.
    *
    * Shape matters: higher-order lambdas are INTERPRETED in Spark and the
    * lambda body re-evaluates per element, so the naive
    * `transform(sequence(...), i => concat_ws(slice(toks, i+1, n)))` form
    * re-evaluates `toks` — including any normalize/split feeding it — once
    * PER SHINGLE, i.e. O(|doc|²) regex work per document (measured 42 s at
    * sf0.1 on the repetition signals). Here the n shifted slices are HOF
    * ARGUMENTS (evaluated once per row), zipped, and the lambda body only
    * concatenates one struct's fields.
    */
  def shinglesFromToks(toks: Column, n: Int): Column = {
    val grams =
      if (n == 1) toks
      else transform(
        arrays_zip((0 until n).map(k =>
          slice(toks, lit(k + 1), size(toks) - (n - 1))): _*),
        s => concat_ws(" ", (0 until n).map(k => s.getField(k.toString)): _*))
    when(size(toks) >= n, grams).otherwise(array(concat_ws(" ", toks)))
  }

  /** Word n-gram shingles of the normalized text, as an array column.
    * Callers doing more than one pass over the tokens should materialize
    * the token array once (fenced) and use [[shinglesFromToks]].
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromToks(split(normalize(text), " "), n)

  /** Distinct 64-bit shingle hashes (the document's feature set).
    * Codegen'd kernel hashing token-window byte spans in place —
    * bit-identical to `array_distinct(transform(shingles(text, n),
    * xxhash64))` but without materializing shingle strings or
    * interpreting a lambda per shingle.
    */
  def shingleHashes(text: Column, n: Int): Column =
    graft.functions.VectorExprs.shingleHashes(normalize(text), n)

  /** [[shingleHashes]] sorted ascending — same set, one global order, so
    * prefix filtering and merge-count intersection apply downstream.
    */
  def sortedShingleHashes(text: Column, n: Int): Column =
    graft.functions.VectorExprs.sortedShingleHashes(normalize(text), n)

  /** MinHash signature as array<long> from a (materialized) shingle-hash
    * array column — pass `col("feat")`, not the raw text expression, or
    * the plan recomputes the shingle hashes once per permutation.
    *
    * The permutation family is π_j(h) = xxhash64(h, j): overflow-free (the
    * classic a·h+b mod 2⁶⁴ throws under Spark 4's default ANSI mode),
    * seed-independent, and identical on any cluster.
    */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(hashes, h => xxhash64(h, lit(j))))
    }: _*)

  /** MinHash signature as array<long>, computed entirely per-row (map-side;
    * zero shuffle). k = numHashes.
    *
    * NOTE: higher-order functions are CodegenFallback in Spark — every
    * lambda element-step is interpreted. Fine for a handful of rows or as a
    * column-level building block; the table-scale path is
    * [[minhashSignatures]] (explode + codegen'd min aggregates), which
    * benchmarked ~40× faster at sf0.1.
    */
  def minhashSignature(text: Column, shingleSize: Int, numHashes: Int): Column =
    minhashSignatureFromHashes(shingleHashes(text, shingleSize), numHashes)

  /** MinHash signatures as a table: (id, sig array<long>).
    *
    * Per-row codegen'd kernel ([[graft.functions.VectorExprs.MinHashSignature]]):
    * |features|·k inlined XXH64 calls per document, map-side, ZERO shuffle
    * — strictly the scale-optimal shape. Two rejected forms, for the
    * record: per-row higher-order functions (interpreted lambdas, 746 s at
    * sf0.1) and explode + k min-aggregate buffers (a 500k×k-row aggregate;
    * JIT/GC-unstable at k=96). The kernel runs the same pipeline in <1 s.
    *
    * `feats` must be (id, feat array<long>) — from [[shingleHashes]].
    */
  def minhashSignatures(feats: DataFrame, numHashes: Int): DataFrame =
    feats.select(col("id"),
      graft.functions.VectorExprs.minhashSignature(col("feat"), numHashes).as("sig"))

  /** (id, feat) projection shared by signature building and verification.
    * feat is SORTED ascending: MinHash is order-invariant (min over the
    * set), and the exact-Jaccard verify can then run as a zero-allocation
    * merge count instead of a per-pair hash-set intersection.
    */
  private def featTable(docs: DataFrame, textCol: String, idCol: String, shingleSize: Int): DataFrame =
    docs.select(col(idCol).as("id"), sortedShingleHashes(col(textCol), shingleSize).as("feat"))

  /** LSH candidate pairs (a < b) from banding the signature: bands of
    * `rowsPerBand` signature slots, bucket key = xxhash64 of the slice.
    * One shuffle on (band, bucket); no text moves.
    */
  def lshCandidates(
      docs: DataFrame,
      textCol: String, idCol: String,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int): DataFrame =
    lshCandidatesFromFeats(featTable(docs, textCol, idCol, shingleSize),
      numHashes, rowsPerBand)

  /** LSH band table (id, band, bucket) from a (id, feat) table: signature
    * → `numHashes/rowsPerBand` band hashes per row. The shared banding of
    * the self-join ([[minhashNearDups]]) and cross-corpus
    * ([[crossCorpusSurvivors]]) paths — both sides of any candidate join
    * must come from THIS function for buckets to be comparable.
    */
  def bandTable(feats: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    minhashSignatures(feats, numHashes).select(col("id"), posexplode(
      transform(sequence(lit(0), lit(nBands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .toDF("id", "band", "bucket")
  }

  private def lshCandidatesFromFeats(
      feats: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandTable(feats, numHashes, rowsPerBand)
    val l = banded.select(col("band"), col("bucket"), col("id").as("a"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("b"))
    l.join(r, Seq("band", "bucket")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Full MinHash+LSH near-dup pipeline with exact-Jaccard verification of
    * the candidates: returns (a, b, jaccard) for verified pairs ≥ threshold.
    *
    * The shingle-hash sets are persisted: they feed both the signature
    * explode and the two verify joins, and recomputing the (interpreted
    * HOF) shingle pass three times would dominate the runtime.
    */
  def minhashNearDups(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleSize: Int = 3, numHashes: Int = 128, rowsPerBand: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val feats = featTable(docs, textCol, idCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidatesFromFeats(feats, numHashes, rowsPerBand)
    val af = feats.select(col("id").as("a"), col("feat").as("fa"))
    val bf = feats.select(col("id").as("b"), col("feat").as("fb"))
    // feat arrays are sorted distinct: |A∪B| = |A|+|B|−|A∩B| and the
    // intersection is a merge count (no per-pair hash set)
    cands.join(af, "a").join(bf, "b")
      .withColumn("inter",
        graft.functions.VectorExprs.sortedIntersectCount(col("fa"), col("fb")))
      .withColumn("uni", size(col("fa")) + size(col("fb")) - col("inter"))
      .where(col("uni") > 0)
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Exact n-gram Jaccard similarity for all pairs inside a blocking key
    * (e.g. `source`): the non-probabilistic sibling of minhashNearDups for
    * when a natural blocking column bounds the quadratic.
    *
    * Shape: prefix-filtered set-similarity join (AllPairs — Bayardo,
    * Ma, Srikant, "Scaling up all pairs similarity search", WWW 2007;
    * PPJoin — Xiao, Wang, Lin, Yu, "Efficient similarity joins for
    * near-duplicate detection", WWW 2008). With shingle-hash sets sorted
    * by one global order, any pair with J ≥ t shares at least one element
    * among the first |x| − ⌈t·|x|⌉ + 1 of each set (the PROBE prefix), so
    * only those hashes are exploded into the candidate join — ~(1−t) of
    * the postings a full inverted index would shuffle, and popular
    * shingles outside prefixes generate no candidate pairs at all. Three
    * PPJoin prunes then run on the raw equi-join output BEFORE the
    * distinct, each a cheap scalar predicate:
    *   - length filter: t·|B| ≤ |A| ≤ |B|/t (|A∩B| ≤ min ∧ |A∪B| ≥ max);
    *   - index-prefix filter: for the smaller set the shared element must
    *     lie in the first |x| − ⌈2t/(1+t)·|x|⌉ + 1 positions — for a
    *     qualifying pair the required overlap α = ⌈t/(1+t)(|x|+|y|)⌉ is
    *     ≥ 2t/(1+t)·|x| when |y| ≥ |x|, so a common element sits that
    *     early in x (pigeonhole on the suffix). At t=0.5 this shrinks the
    *     effective index to |x|/3 instead of |x|/2;
    *   - positional filter: matching at 0-based positions (i, j) caps the
    *     overlap at 1 + min(|A|−i−1, |B|−j−1), which must reach α.
    * Survivors are verified with an exact zero-allocation merge count
    * over the full sorted sets. Only (hash, id, size, pos) postings and
    * candidate id pairs ever shuffle — the 100 TB shape.
    *
    * Boundary arithmetic uses an ε-slack (`- 1e-9`) on every ceil/length
    * comparison so FP rounding can only lengthen a prefix, admit an extra
    * candidate, or lower a required bound — never drop a qualifying pair;
    * the exact verify decides every boundary case.
    */
  def ngramJaccardPairs(
      docs: DataFrame, blockCol: String,
      textCol: String = "text", idCol: String = "doc_id",
      shingleSize: Int = 3, threshold: Double = 0.2): DataFrame = {
    require(threshold > 0, "prefix-filtered Jaccard requires threshold > 0")
    val t = threshold
    val feats = docs.select(col(blockCol).as("blk"), col(idCol).as("id"),
      sortedShingleHashes(col(textCol), shingleSize).as("feat"))
      .withColumn("sz", size(col("feat")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probeLen = (col("sz") - ceil(col("sz") * lit(t) - lit(1e-9)) + 1).cast("int")
    // (blk, h, id, sz, pos): pos is the element's 0-based rank in the set
    val pref = feats.select(col("blk"), col("id"), col("sz"),
      posexplode(slice(col("feat"), lit(1), probeLen)))
      .toDF("blk", "id", "sz", "pos", "h")
    def idxLen(sz: Column) = sz - ceil(sz * lit(2 * t / (1 + t)) - lit(1e-9)) + 1
    val alpha = ceil((col("sza") + col("szb")) * lit(t / (1 + t)) - lit(1e-9))
    val cand = pref.select(col("blk"), col("h"), col("id").as("a"),
        col("sz").as("sza"), col("pos").as("posa"))
      .join(pref.select(col("blk"), col("h"), col("id").as("b"),
        col("sz").as("szb"), col("pos").as("posb")), Seq("blk", "h"))
      .where(col("a") < col("b") &&
        col("sza") >= lit(t) * col("szb") - lit(1e-9) &&
        col("szb") >= lit(t) * col("sza") - lit(1e-9))
      // index-prefix: the smaller set's match must lie in its index prefix
      .where((col("sza") <= col("szb") && col("posa") < idxLen(col("sza"))) ||
        (col("szb") < col("sza") && col("posb") < idxLen(col("szb"))))
      // positional: best-case overlap from here on must reach alpha
      .where(lit(1) + least(col("sza") - col("posa") - 1,
        col("szb") - col("posb") - 1) >= alpha)
      .select("a", "b").distinct()
    val fa = feats.select(col("id").as("a"), col("feat").as("fa"), col("sz").as("sza"))
    val fb = feats.select(col("id").as("b"), col("feat").as("fb"), col("sz").as("szb"))
    cand.join(fa, "a").join(fb, "b")
      .withColumn("inter",
        graft.functions.VectorExprs.sortedIntersectCount(col("fa"), col("fb")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash bit width: 60 bits = 15 hex digits of md5, so the token hash
    * is reproducible in any engine with md5 (the DuckDB oracle included)
    * and fits a signed 64-bit integer without sign games.
    */
  val SimhashBits = 60

  /** Cross-engine 60-bit token hash: first 15 hex digits of md5. */
  private def tokenHash60(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** 60-bit SimHash fingerprint per document, computed per-row with nested
    * higher-order functions (no shuffle): bit i is set iff the sum over
    * token hashes of ±1 (by bit i of the token hash) is positive.
    */
  def simhash64(text: Column): Column = {
    val tokenHashes = transform(split(normalize(text), " "), t => tokenHash60(t))
    // nested aggregate: outer over bit positions, inner over token hashes
    // (call_function because the Scala DSL's shiftleft/shiftright only
    // accept a literal Int bit count)
    aggregate(
      sequence(lit(0), lit(SimhashBits - 1)),
      lit(0L),
      (acc, i) => acc + when(
        aggregate(tokenHashes, lit(0L),
          (a, h) => a + when(call_function("shiftright", h, i)
            .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))) > 0L,
        call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
  }

  /** SimHash fingerprints as a table: one per-row kernel call
    * ([[graft.functions.VectorExprs.simhash60]] — MD5 token hashes and
    * the 60-bit majority vote in a single row-local pass), so fingerprint
    * building is map-only at any corpus size. Same fingerprints as
    * [[simhash64]] and as [[simhashTableComposed]] (spec-pinned); the
    * composed form shuffled a 60-int partial vector per (partition, doc).
    */
  def simhashTable(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.VectorExprs.simhash60(normalize(col(textCol))).as("fp"))

  /** The pre-kernel table form of [[simhashTable]] — explode token
    * hashes, then 60 codegen'd conditional-sum aggregates per document
    * (map-side partial aggregation, one shuffle). Retained as the
    * readable reference implementation; `VectorExprsSpec` pins the kernel
    * path bit-identical to it.
    */
  def simhashTableComposed(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // explode FIRST, hash AFTER: md5/conv on a plain column stay inside
    // whole-stage codegen, whereas inside a transform() lambda every
    // element-step is interpreted (measured ~2× on the d04 pipeline)
    val tok = docs.select(col(idCol).as("id"),
      explode(split(normalize(col(textCol)), " ")).as("t"))
      .select(col("id"), tokenHash60(col("t")).as("h"))
    val bitSums = (0 until SimhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$i")
    }
    tok.groupBy(col("id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until SimhashBits).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on the high 16 bits (cheap prefix
    * blocking), verify with full Hamming distance ≤ maxDist. At scale the
    * standard rotate-and-block refinement drops the candidate count
    * further; prefix blocking keeps the example compact.
    */
  def simhashNearDups(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      maxDist: Int = 12): DataFrame = {
    val fp = simhashTable(docs, textCol, idCol)
      .withColumn("blk", shiftright(col("fp"), SimhashBits - 16))
    val a = fp.select(col("blk"), col("id").as("a"), col("fp").as("fpa"))
    val b = fp.select(col("blk"), col("id").as("b"), col("fp").as("fpb"))
    a.join(b, "blk").where(col("a") < col("b"))
      .withColumn("dist", hamming64(col("fpa"), col("fpb")))
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
  }

  /** Incremental (cross-corpus) near-dedup: keep the rows of `newDocs`
    * that have NO near-duplicate (Jaccard ≥ threshold) in `corpus` — the
    * shape of every continuously-growing training corpus, where each new
    * crawl batch is deduped against everything already kept, not against
    * itself.
    *
    * Same MinHash banding as [[minhashNearDups]], but the candidate join is
    * newDocs-bands ⋈ corpus-bands (never corpus ⋈ corpus): at 100 TB the
    * corpus band table is computed once, stored bucketed on
    * (band, bucket), and each incoming batch — orders of magnitude smaller
    * — joins against it; candidates verify with the exact merge-count
    * Jaccard, and survivors come from a left-anti join on the new ids.
    */
  def crossCorpusSurvivors(
      newDocs: DataFrame, corpus: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      shingleSize: Int = 3, numHashes: Int = 96, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val newFeats = featTable(newDocs, textCol, idCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpFeats = featTable(corpus, textCol, idCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandTable(newFeats, numHashes, rowsPerBand)
      .select(col("band"), col("bucket"), col("id").as("nid"))
      .join(bandTable(corpFeats, numHashes, rowsPerBand)
        .select(col("band"), col("bucket"), col("id").as("cid")),
        Seq("band", "bucket"))
      .select("nid", "cid").distinct()
    val dupNew = cand
      .join(newFeats.select(col("id").as("nid"), col("feat").as("fn")), "nid")
      .join(corpFeats.select(col("id").as("cid"), col("feat").as("fc")), "cid")
      .withColumn("inter",
        graft.functions.VectorExprs.sortedIntersectCount(col("fn"), col("fc")))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("fn")) + size(col("fc")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("nid").as(idCol)).distinct()
    newDocs.join(dupNew, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: drop every training document that shares
    * at least one word n-gram with a held-out evaluation set — the
    * standard guard against test-set leakage in web-scale training
    * corpora (the n-gram-overlap scheme popularized by GPT-3's 13-gram
    * dedup appendix; Brown et al., "Language Models are Few-Shot
    * Learners", NeurIPS 2020, App. C).
    *
    * Scale shape: the eval side is benchmarks — thousands of documents,
    * millions of n-grams — while train is the 100 TB side. The distinct
    * eval-gram set therefore BROADCASTS, the train-side gram explode is
    * map-only against the broadcast (left-semi, no shuffle of train
    * grams), and only the contaminated-id set (small) is ever exchanged
    * for the final anti-join. Gram identity is the 64-bit shingle hash —
    * no gram strings move.
    */
  def decontaminate(
      train: DataFrame, evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 8): DataFrame = {
    val evalGrams = evalSet
      .select(explode(shingleHashes(col(textCol), n)).as("h")).distinct()
    val contaminated = train
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("h"))
      .join(broadcast(evalGrams), Seq("h"), "left_semi")
      .select(idCol).distinct()
    train.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Contamination audit report — the investigative face of
    * [[decontaminate]]: instead of silently dropping, emit WHICH eval
    * document leaked into WHICH train document and how strongly
    * (count of distinct shared n-grams). The artifact every release
    * review wants next to the drop list ("is this true leakage or one
    * boilerplate sentence?" — the n_shared column answers it).
    *
    * Output: (train_id, eval_id, n_shared) for every overlapping pair,
    * n ≥ 1 shared distinct n-grams.
    *
    * Scale shape: eval grams broadcast WITH their eval ids (still the
    * benchmarks side — small); train grams explode map-side against the
    * broadcast, so the only exchange is the (train_id, eval_id) pair
    * aggregation — pairs actually sharing grams, a vanishingly small
    * set next to the corpus. Gram identity is the 64-bit shingle hash;
    * no gram strings move.
    */
  def contaminationReport(
      train: DataFrame, evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 8): DataFrame = {
    val evalGrams = evalSet
      .select(col(idCol).as("eval_id"),
        explode(shingleHashes(col(textCol), n)).as("h"))
      .distinct()
    train
      .select(col(idCol).as("train_id"), explode(shingleHashes(col(textCol), n)).as("h"))
      .join(broadcast(evalGrams), Seq("h")) // map-side: only LEAKED grams survive
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count_distinct(col("h")).as("n_shared"))
  }

  /** Bloom-prefiltered benchmark decontamination — same exact semantics as
    * [[decontaminate]] (drop every train doc sharing an n-gram with the
    * eval set), restructured for eval suites too large to broadcast as an
    * exact hash set.
    *
    * Shape: the distinct eval-gram set is folded into a Bloom filter on
    * the driver (`stat.bloomFilter` aggregates per-partition filters and
    * ORs them — order-independent, deterministic). Train grams are probed
    * map-side inside codegen ([[graft.functions.BloomExprs]]): at fpp 1%,
    * ≥99% of clean train grams die before ANY join, and only the
    * bloom-positive survivors flow into an exact semi-join against the
    * eval grams (shuffled, not broadcast — at 100 TB the exact set is the
    * thing that did NOT fit in memory). Bloom filters have no false
    * negatives, so prefilter + exact verify returns exactly the
    * [[decontaminate]] result; the fpp only sizes the verify join's input.
    */
  def bloomDecontaminate(
      train: DataFrame, evalSet: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 8, fpp: Double = 0.01): DataFrame = {
    val evalGrams = evalSet
      .select(explode(shingleHashes(col(textCol), n)).as("h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom = evalGrams.stat.bloomFilter("h", math.max(evalGrams.count(), 1L), fpp)
    val contaminated = train
      .select(col(idCol), explode(shingleHashes(col(textCol), n)).as("h"))
      .where(graft.functions.BloomExprs.mightContainLong(col("h"), bloom))
      .join(evalGrams, Seq("h"), "left_semi") // exact verify kills the false positives
      .select(idCol).distinct()
    val out = train.join(broadcast(contaminated), Seq(idCol), "left_anti")
    evalGrams.unpersist(false)
    out
  }

  /** Transitive duplicate clusters: connected components over a near-dup
    * pair list (a, b) — the step that turns pairwise similarity into
    * dedup groups (A≈B, B≈C ⇒ {A,B,C} keep one representative).
    *
    * ADAPTIVE, like production CC implementations: the edge list is the
    * near-duplicate PAIRS — usually minuscule next to the corpus — so when
    * it fits comfortably on the driver (≤ `driverEdgeCutoff`, default 5M
    * edges ≈ 80 MB) the components are solved with one collect + union-find
    * and zero iterative jobs. Past the cutoff it falls back to iterative
    * min-label propagation: every node repeatedly adopts the minimum label
    * among itself and its neighbors until a fixpoint, one join + one
    * aggregate per iteration (labels and edges hash-partition on the node
    * key), iterations = component diameter. The measured motivation: the
    * Pregel-style loop costs ~5 s of fixed per-iteration job overhead to
    * cluster 144 pairs — pure scheduling, no data.
    *
    * Output: (node, cluster) with cluster = min node id in the component,
    * identical on both paths. Nodes outside every pair are singletons by
    * definition and are not emitted (callers union them back if needed).
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 20,
      driverEdgeCutoff: Long = 5000000L): DataFrame = {
    // id-type-agnostic: nodes keep their natural column type (long, string,
    // ...) on both paths; null endpoints are meaningless edges and dropped.
    require(pairs.schema(pairs.schema.fieldIndex("a")).dataType ==
      pairs.schema(pairs.schema.fieldIndex("b")).dataType,
      s"duplicateClusters: a and b must share one id type, got " +
        s"${pairs.schema(pairs.schema.fieldIndex("a")).dataType} vs " +
        s"${pairs.schema(pairs.schema.fieldIndex("b")).dataType}")
    val fwd = pairs
      .where(col("a").isNotNull && col("b").isNotNull)
      .select(col("a").as("src"), col("b").as("dst"))
    // A cutoff ≥ Int.MaxValue could never be collect()ed anyway; routing it
    // to the iterative path also avoids the (cutoff+1).toInt overflow.
    // fwd is PERSISTED across the probe and whichever path follows, so the
    // expensive upstream pair computation (MinHash verify, cosine join)
    // runs once — and the probe itself is a count-only job (never shipping
    // up-to-cutoff rows to the driver just to discard them when the graph
    // turns out to be over the cutoff).
    val fwdCached = fwd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (driverEdgeCutoff < Int.MaxValue.toLong &&
        fwdCached.limit((driverEdgeCutoff + 1).toInt).count() <= driverEdgeCutoff) {
      val out = driverUnionFind(fwdCached) // collects from the cache, then computes eagerly
      fwdCached.unpersist(false)
      return out
    }
    val edges = fwdCached.union(fwdCached.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbors = labels.join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), col("label"))
      val next = labels.unionByName(viaNeighbors)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = next.join(labels.withColumnRenamed("label", "old"), "node")
        .where(col("label") =!= col("old")).limit(1).count()
      labels.unpersist(false)
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist(false)
    fwdCached.unpersist(false)
    labels.select(col("node"), col("label").as("cluster"))
  }

  /** Small-graph path of [[duplicateClusters]]: collect the (src, dst)
    * edges, path-compressed union-find, label = min id per component.
    * Generic over the id type: unions always re-root onto the smaller
    * endpoint (by the type's natural order), so a component's root IS its
    * min id — matching the iterative path's `min(label)` on any type the
    * column can hold (numerics, strings, ...).
    */
  private def driverUnionFind(edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = edges.sparkSession
    val idType = edges.schema.head.dataType
    // min-label must agree with the iterative path's Spark-side ordering:
    // strings compare as UTF-8 BINARY there, which diverges from Java's
    // UTF-16 compareTo for supplementary characters
    def lt(x: Any, y: Any): Boolean = (x, y) match {
      case (a: String, b: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
      case _ => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    }
    val es = edges.collect().map(r => (r.get(0), r.get(1)))
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val rows = parent.keySet().toArray.map(n => Row(n, find(n))).toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("node", idType), StructField("cluster", idType))))
  }

  /** Near-dup survivor selection keeping the BEST-scoring member of each
    * duplicate cluster — production near-dedup keeps the highest-quality
    * (or longest) member, not an arbitrary/minimum id (e.g. the dedup
    * stage of open web-corpus pipelines ranks cluster members by a
    * quality signal before dropping the rest). Ties on the score break to
    * the smallest id, so selection is total and deterministic.
    *
    * Inputs: the corpus, a near-dup pair list (a, b) (any generator:
    * [[minhashNearDups]], [[simhashNearDups]], ...), and a per-doc score
    * table (idCol, scoreCol) — integer scores recommended
    * ([[TextAnalysis.qualityScore]]'s basis points) so ranking is
    * engine-exact. Output: the surviving rows of `docs` (every doc not in
    * any cluster, plus each cluster's representative).
    *
    * Scale shape: clusters derive from PAIRS (tiny next to the corpus —
    * [[duplicateClusters]]'s adaptive CC); the score join, per-cluster
    * max, and representative pick all run over cluster MEMBERS only. The
    * corpus itself is touched once by the final anti-join against the
    * non-representative id set (AQE broadcasts it when small); corpus
    * text never shuffles.
    */
  def bestQualitySurvivors(
      docs: DataFrame, pairs: DataFrame, scores: DataFrame,
      idCol: String = "doc_id", scoreCol: String = "quality_score"): DataFrame = {
    // LEFT join: a cluster member missing from the score table must still
    // count as a member (else it silently survives beside the real
    // representative). NULL scores lose to any scored member (max ignores
    // NULL; the null-safe <=> picks a rep by min id when a whole cluster
    // is unscored).
    val members = duplicateClusters(pairs)
      .join(scores.select(col(idCol).as("node"), col(scoreCol).as("score")),
        Seq("node"), "left")
    val best = members.groupBy(col("cluster")).agg(max(col("score")).as("mx"))
    val reps = members.join(best, Seq("cluster"))
      .where(col("score") <=> col("mx"))
      .groupBy(col("cluster")).agg(min(col("node")).as("rep"))
    val losers = members.join(reps, Seq("cluster"))
      .where(col("node") =!= col("rep"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Duplicated-span inventory: every k-token span (in document order,
    * overlapping) that occurs in at least `minDocs` distinct documents —
    * the exact-substring-duplication signal behind suffix-array dedup of
    * training corpora (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", ACL 2022, §4.1 ExactSubstr): whole-doc
    * hashing misses a copied paragraph inside an otherwise-unique page,
    * span inventory finds it.
    *
    * Output: (span_md5, n_docs, n_occ, first_doc) per duplicated span.
    *
    * Scale shape: spans explode map-side off the token array (one
    * normalize+split per row, fenced); the aggregate is the same
    * partial-combine count / count_distinct pair as the vocabulary pass —
    * (md5, id) partials compress per map partition before the only
    * shuffle, and span STRINGS never move (md5 only). A 100 TB run feeds
    * `having n_docs ≥ 2` straight into a semi-join to locate the offending
    * documents.
    */
  def duplicatedSpans(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val spans = docs
      .select(col(idCol).as("id"),
        graft.functions.OptimizerFence(split(normalize(col(textCol)), " ")).as("toks"))
      .select(col("id"), explode(shinglesFromToks(col("toks"), k)).as("span"))
      .select(col("id"), md5(col("span")).as("span_md5"))
    spans.groupBy(col("span_md5"))
      .agg(count_distinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("first_doc"))
      .where(col("n_docs") >= minDocs)
  }

  /** [[duplicatedSpans]] keyed by the positional 64-bit span-hash kernel
    * ([[graft.functions.VectorExprs.spanHashes]]) instead of md5 over
    * materialized span strings — the 100 TB default. The kernel hashes
    * each span's byte range IN PLACE (no per-span string allocation, no
    * md5, 8-byte keys instead of 32-char hex), the same identity contract
    * [[scrubDuplicatedSpans]] already runs on: span equality via XXH64 ≡
    * string equality modulo 2⁻⁶⁴ collisions. Output: (span_hash, n_docs,
    * n_occ, first_doc). [[duplicatedSpans]] stays as the md5-keyed oracle
    * harness (its output identity IS span_md5); this variant's
    * (n_docs, n_occ, first_doc) projection is oracle-checked as an exact
    * multiset against the string-grouped inventory (catalog d11b).
    */
  def duplicatedSpansFast(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val spans = docs
      .select(col(idCol).as("id"),
        graft.functions.OptimizerFence(normalize(col(textCol))).as("norm"))
      .select(col("id"),
        explode(graft.functions.VectorExprs.spanHashes(col("norm"), k)).as("span_hash"))
    spans.groupBy(col("span_hash"))
      .agg(count_distinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("first_doc"))
      .where(col("n_docs") >= minDocs)
  }

  /** Duplicated-span SCRUBBING — the removal step behind the
    * [[duplicatedSpans]] inventory (Lee et al., ACL 2022 §4.1 ExactSubstr:
    * "we remove one of the two occurrences"): every k-token span (of the
    * normalized text) occurring in ≥ `minDocs` distinct documents is cut
    * from every document EXCEPT the span's first (min-id) one; tokens kept
    * elsewhere survive, so a page that merely quotes a boilerplate
    * paragraph keeps its unique prose and loses only the copy.
    *
    * Output: (doc_id, clean_text, n_removed) for every input document
    * (clean_text = "" when everything was duplicated).
    *
    * Scale shape: span hashes aggregate with one exchange (strings never
    * shuffle — same as the inventory); occurrences of duplicated spans
    * explode into covered token POSITIONS only (k ints per bad
    * occurrence, tiny unless duplication is rampant); the rebuild is one
    * corpus join against the per-doc cut-position sets (AQE broadcasts
    * them when small) followed by a map-side indexed filter over the
    * in-row token array — the corpus text shuffles at most once. The
    * span scan feeds two consumers (the dup aggregate and the cut join)
    * and the text a third (the rebuild); Spark does not share subtrees
    * between branches of one plan, so the NORMALIZED projection
    * (doc_id, norm, n) is PERSISTED (`persistToks`, default on —
    * MEMORY_AND_DISK) and the normalize regex pass runs exactly once
    * instead of three times. Deliberately the flat strings, NOT the token
    * arrays: caching an array<string> column pays a columnar-encode cost
    * that measured ~2× worse than the rescan it saves (r5), while `norm`
    * caches as plain strings and the one `split` the rebuild needs is
    * cheap to do in place. Set `persistToks = false` only for plan-shape
    * tests that need the raw unshared tree.
    *
    * CACHE LIFETIME: the returned frame reads the cache lazily, so this
    * method cannot unpersist it. A long-lived session calling this per
    * batch should drop it after the consuming action
    * (`getPersistentRDDs.values.foreach(_.unpersist(true))`, as
    * [[graft.Measure.settle]] does between reps) or pass `persistToks = false`.
    */
  def scrubDuplicatedSpans(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 8, minDocs: Int = 2,
      persistToks: Boolean = true): DataFrame = {
    val normRaw = docs.select(col(idCol).as("doc_id"),
      graft.functions.OptimizerFence(normalize(col(textCol))).as("norm"))
      .withColumn("n", size(split(col("norm"), " ")))
    val toks =
      if (persistToks) normRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else normRaw
    // span hashes with 1-based start positions, occurrences kept — the
    // codegen'd positional kernel hashes each span's byte range in place
    // (no span strings, no md5); docs shorter than k are a single
    // whole-doc span (the duplicatedSpans convention). Span equality via
    // 64-bit hash matches the oracle's string grouping modulo collisions,
    // the same contract as the MinHash/Jaccard paths.
    val occ = toks.select(col("doc_id"), col("n"),
      posexplode(graft.functions.VectorExprs.spanHashes(col("norm"), k)))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("pos"), col("col").as("m"))
    val dup = occ.groupBy(col("m"))
      .agg(count_distinct(col("doc_id")).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= minDocs)
    val cuts = occ.join(dup.select("m", "first_doc"), Seq("m"))
      .where(col("doc_id") =!= col("first_doc"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), least(col("pos") + (k - 1), col("n")))).as("j"))
      .groupBy(col("doc_id")).agg(collect_set(col("j")).as("cut"))
    // rebuild: one byte-pass kernel over the flat normalized string (r20
    // — replaces the interpreted split + filter-HOF + array_join chain,
    // an array_contains probe per token; DedupSpec pins kernel ≡ HOF)
    toks.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.functions.TextExprs.scrubTokens(col("norm"), col("cut"))
          .as("clean_text"),
        when(col("cut").isNull, 0L)
          .otherwise(size(col("cut")).cast("long")).as("n_removed"))
  }

  /** INTRA-document span dedup — the Gopher/RefinedWeb rule that pages
    * repeating their own content (boilerplate blocks, templated nav,
    * scraper stutter) get the repeats removed: every k-token span whose
    * identical span already occurred EARLIER IN THE SAME DOCUMENT is cut,
    * keeping the first occurrence. The cross-document complement is
    * [[scrubDuplicatedSpans]]; this one needs no corpus-wide state.
    *
    * Output: (doc_id, clean_text, n_removed) for every input document.
    *
    * Scale shape: strictly MAP-ONLY — the span hashes come from the
    * positional codegen kernel over the in-row text, duplicate detection
    * and the cut-position set are array HOFs over that in-row hash array,
    * and the rebuild filters the in-row token array. Zero shuffles, zero
    * state, runs at scan speed at any corpus size (pinned by
    * `ShuffleBudgetSpec`). The per-row HOF cost is O(spans²) from the
    * earlier-occurrence probe — fine at document lengths; a pathological
    * single-row megadocument would want the kernel extended with an
    * in-row hash set, same plan shape.
    */
  def scrubIntraDocSpans(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3): DataFrame = {
    val norm = graft.functions.OptimizerFence(normalize(col(textCol)))
    val withArrays = docs.select(col(idCol).as("doc_id"), norm.as("norm"))
      .withColumn("toks", graft.functions.OptimizerFence(split(col("norm"), " ")))
      .withColumn("n", size(col("toks")))
      .withColumn("hs", graft.functions.VectorExprs.spanHashes(col("norm"), k))
    // 1-based start positions whose span already occurred earlier in-doc
    val dupStarts = filter(
      sequence(lit(1), size(col("hs"))),
      i => array_position(col("hs"), element_at(col("hs"), i)) < i)
    withArrays
      .withColumn("cut", array_distinct(flatten(transform(dupStarts,
        j => sequence(j, least(j + (k - 1), col("n")))))))
      // rebuild kernel (r20): `cut` is never null here (array_distinct of
      // an in-row array), so the composition's bare array_contains form
      // and the kernel's coalesce'd one agree — DedupSpec pins it
      .select(col("doc_id"),
        graft.functions.TextExprs.scrubTokens(col("norm"), col("cut"))
          .as("clean_text"),
        size(col("cut")).cast("long").as("n_removed"))
  }

  /** CORPUS-LEVEL paragraph deduplication — the CCNet paragraph-hash
    * dedup (Wenzek et al., "CCNet: Extracting high quality monolingual
    * datasets from web crawl data", 2019 §3.1; also RefinedWeb's
    * line-level dedup, Penedo et al. 2023): every paragraph whose exact
    * normalized content already occurred ANYWHERE in the corpus — earlier
    * in the same document or in any other document — is removed, keeping
    * the single globally-first occurrence (ordered by (doc_id, position)).
    * Boilerplate (nav bars, cookie banners, templated footers) repeats
    * verbatim across millions of pages, so this removes it corpus-wide
    * without any per-site rules. The span-aligned complement (duplicates
    * at ARBITRARY token offsets) is [[scrubDuplicatedSpans]]; this one is
    * delimiter-aligned, which is why it can keep first occurrences intact
    * rather than scrubbing every copy.
    *
    * Paragraph unit: `block = 0` (production default) splits on the
    * `delim` regex (blank lines) and normalizes each paragraph with the
    * shared [[normalize]]; `block > 0` uses fixed non-overlapping
    * `block`-token windows of the normalized text as the paragraph proxy —
    * for corpora (like the synthetic test tables) whose documents carry no
    * newline structure. Empty paragraphs are dropped before matching.
    *
    * Output: (doc_id, clean_text, n_removed) for every input document,
    * where n_removed counts removed PARAGRAPHS (d17 counts tokens).
    *
    * Scale shape (100 TB story): paragraphs are hashed MAP-SIDE
    * (xxhash64 — equality modulo collisions, the same contract as the
    * MinHash/span paths; the oracle groups by paragraph strings), so the
    * occurrence table shuffles only (hash, doc_id, pos) triples — never
    * paragraph text. The keeper aggregate is one hash-partitioned groupBy
    * with map-side combine; only hashes with >1 occurrence survive it, so
    * the cut join is bounded by the duplicated subset. The rebuild joins
    * per-doc cut-position int arrays back to the corpus — the corpus
    * text moves at most once (AQE broadcasts the cut side when
    * duplication is sparse, the common web-corpus case), and the
    * paragraph arrays are rebuilt in place with a positional HOF filter.
    */
  /** Shared (doc_id, paras) segmentation for the paragraph-level family
    * ([[paragraphDedup]], [[boilerplateStrip]]): fixed token blocks when
    * `block > 0`, regex-delimited paragraphs (each normalized) otherwise.
    */
  private def paragraphBase(docs: DataFrame, textCol: String, idCol: String,
      block: Int, delim: String): DataFrame =
    if (block > 0) {
      // fixed token-block paragraphs; fences keep the normalize regex
      // and the split from being inlined (and re-evaluated) into the
      // per-block lambda below — see shinglesFromToks for the measured
      // O(|doc|²) failure mode this avoids
      docs.select(col(idCol).as("doc_id"),
        graft.functions.OptimizerFence(normalize(col(textCol))).as("norm"))
        .withColumn("toks", graft.functions.OptimizerFence(split(col("norm"), " ")))
        .withColumn("paras", filter(
          transform(
            sequence(lit(0),
              greatest(ceil(size(col("toks")) / lit(block.toDouble)).cast("int"),
                lit(1)) - 1),
            i => array_join(slice(col("toks"), i * block + 1, lit(block)), " ")),
          p => p =!= lit("")))
        .select("doc_id", "paras")
    } else {
      docs.select(col(idCol).as("doc_id"),
        filter(transform(split(col(textCol), delim), p => normalize(p)),
          p => p =!= lit("")).as("paras"))
    }

  def paragraphDedup(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      block: Int = 0, delim: String = "\\n{2,}",
      joinWith: String = "\n\n"): DataFrame = {
    val base = paragraphBase(docs, textCol, idCol, block, delim)
    // occurrences: only (hash, id, pos) ever leaves the scan stage
    val occ = base.select(col("doc_id"), posexplode(col("paras")))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("h"))
    val dup = occ.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        count(lit(1)).as("n_occ"))
      .where(col("n_occ") > 1)
    val cuts = occ.join(dup.select("h", "first"), Seq("h"))
      .where(col("doc_id") =!= col("first.doc_id") ||
        col("pos") =!= col("first.pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("cut"))
    base.join(cuts, Seq("doc_id"), "left")
      // rebuild: one-pass positional re-join kernel (r20 — replaces the
      // interpreted filter-HOF + array_join; DedupSpec pins kernel ≡ HOF)
      .select(col("doc_id"),
        graft.functions.TextExprs.joinExcept(col("paras"), col("cut"),
          joinWith, 0).as("clean_text"),
        when(col("cut").isNull, 0L)
          .otherwise(size(col("cut")).cast("long")).as("n_removed"))
  }

  /** Boilerplate stripping — the corpus-level REMOVAL complement of
    * [[paragraphDedup]] (CCNet §3.1 / RefinedWeb line-wise filtering):
    * a paragraph appearing in at least `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, subscribe footers) and is cut
    * from EVERY document — including the first occurrence, which dedup
    * would keep. Repetition inside one document does not count toward the
    * threshold (an intra-doc refrain is repetition, not boilerplate;
    * [[duplicatedSpans]]/intra-doc entries own that case).
    *
    * Output: (doc_id, clean_text, n_removed) — same contract as
    * [[paragraphDedup]], same scale shape: only (hash, id, pos) leaves
    * the scan stage, the ubiquity count is one map-side-combined
    * aggregate over the paragraph-hash domain, and document text is
    * touched exactly once (the final assembly join is on doc_id).
    */
  def boilerplateStrip(
      docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      block: Int = 0, delim: String = "\\n{2,}",
      joinWith: String = "\n\n", minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val base = paragraphBase(docs, textCol, idCol, block, delim)
    val occ = base.select(col("doc_id"), posexplode(col("paras")))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("h"))
    val ubiquitous = occ.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
    val cuts = occ.join(ubiquitous.select("h"), Seq("h"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("cut"))
    base.join(cuts, Seq("doc_id"), "left")
      // same one-pass rebuild kernel as paragraphDedup (r20)
      .select(col("doc_id"),
        graft.functions.TextExprs.joinExcept(col("paras"), col("cut"),
          joinWith, 0).as("clean_text"),
        when(col("cut").isNull, 0L)
          .otherwise(size(col("cut")).cast("long")).as("n_removed"))
  }

  /** Gear-hash rolling constant for content-defined chunking (Knuth's
    * multiplicative constant; any fixed odd mixer works — the low
    * `maskBits` bits of `code·Mult` must merely spread the alphabet).
    * Shared with the d23 oracle generator — one source of truth.
    */
  val CdcGearMult: Long = 2654435761L

  /** Content-defined chunking (the Gear rolling hash of FastCDC — Xia et
    * al., USENIX ATC 2016, `reference`-independent: this is the missing
    * member of the exact-substring family). [[duplicatedSpans]] catches
    * aligned k-TOKEN spans; shifted or reflowed duplication — the common
    * web-scrape case, where boilerplate re-appears mid-sentence — needs
    * boundaries chosen by CONTENT, so that an edit re-synchronizes after
    * ~2^maskBits characters and every chunk past it is byte-identical.
    *
    * Gear recurrence h_i = (h_{i-1} << 1) + G(c_i) means bit k of h_i
    * sees only the last k+1 characters — so the low-`maskBits` boundary
    * test `h & mask == mask` is a FIXED-WIDTH window function of the
    * trailing `maskBits` characters, not sequential state. That makes
    * the whole operator strictly map-only — cut positions come from one
    * rolling codegen'd kernel loop ([[graft.functions.VectorExprs
    * .GearCuts]]; the rolling and windowed forms are the same function
    * of the low maskBits bits), substrings slice the chunks — with no
    * shuffle before the
    * final chunk-key aggregate: per-doc work is O(len·maskBits), and
    * only (doc_id, positions, 16-byte chunk keys) leave the scan stage.
    * Expected chunk length is 2^maskBits (geometric); FastCDC's min/max
    * normalization is [[cdcChunksNormalized]] — kept separate because
    * min/max cut suppression is genuinely sequential (an `aggregate`
    * fold), while this pure form stays a window expression AND is what
    * the DuckDB oracle mirrors position-for-position (catalog d23).
    *
    * G(c) = codePointOf(first UTF-16 unit)·[[CdcGearMult]]; ASCII-exact
    * on both engines (the corpus contract shared by the whole family).
    * Output: (doc_id, chunk_idx, start, len, chunk_md5) — 1-based char
    * `start` into the NORMALIZED text; md5 keys so the oracle reproduces
    * identity (a 100 TB run keys by xxhash64 like d11b, same argument).
    * Empty-after-normalize docs emit no chunks.
    */
  def cdcChunks(docs: DataFrame, maskBits: Int = 6,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maskBits >= 1 && maskBits <= 16, s"maskBits: $maskBits")
    // the boundary test runs as ONE rolling codegen'd kernel loop
    // (VectorExprs.GearCuts) rather than a maskBits-term HOF expression
    // tree per character — same cut set by the windowed-equivalence
    // argument above, measured ~3x faster end to end on the d23 entry
    val withCuts = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.OptimizerFence(normalize(col(textCol))).as("__s"))
      .where(length(col("__s")) > 0)
      .withColumn("__cuts",
        graft.functions.VectorExprs.gearCuts(col("__s"), maskBits, CdcGearMult))
    chunksFromCuts(withCuts)
  }

  /** FastCDC-normalized variant: cut candidates are the same Gear test,
    * but a candidate is ACCEPTED only ≥ `minLen` past the previous
    * accepted cut, and a cut is FORCED at `maxLen` regardless — bounding
    * chunk sizes the way dedup storage systems require. Acceptance is
    * inherently sequential (each decision moves the anchor) — exactly
    * what the rolling kernel loop already is, so both variants share
    * [[graft.functions.VectorExprs.GearCuts]]. Semantics pinned against
    * a plain-Scala reference in CdcChunksSpec (no SQL oracle: the
    * anchored fold is not windowed). With minLen=1, maxLen=∞ it
    * degenerates to [[cdcChunks]] — proved in the spec.
    */
  def cdcChunksNormalized(docs: DataFrame, maskBits: Int = 6,
      minLen: Int = 16, maxLen: Int = 256,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maskBits >= 1 && maskBits <= 16, s"maskBits: $maskBits")
    require(minLen >= 1 && maxLen >= minLen, s"minLen=$minLen maxLen=$maxLen")
    val withCuts = docs
      .select(col(idCol).as("doc_id"),
        graft.functions.OptimizerFence(normalize(col(textCol))).as("__s"))
      .where(length(col("__s")) > 0)
      .withColumn("__cuts", graft.functions.VectorExprs.gearCuts(
        col("__s"), maskBits, CdcGearMult, minLen, maxLen))
    chunksFromCuts(withCuts)
  }

  /** Shared rebuild: (doc_id, __s, __cuts ascending 1-based) → exploded
    * (doc_id, chunk_idx, start, len, chunk_md5).
    */
  private def chunksFromCuts(withCuts: DataFrame): DataFrame = {
    val starts = concat(array(lit(1)), transform(col("__cuts"), c => c + 1))
    val ends = concat(col("__cuts"), array(length(col("__s")).cast("int")))
    withCuts
      .withColumn("__chunks", zip_with(starts, ends,
        (st, en) => struct(st.as("start"), (en - st + 1).as("len"))))
      .select(col("doc_id"), col("__s"), posexplode(col("__chunks")))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        col("col.start").as("start"), col("col.len").as("len"),
        md5(col("__s").substr(col("col.start"), col("col.len"))).as("chunk_md5"))
  }

  /** Embedding near-duplicate pairs by cosine ≥ threshold. Brute-force
    * pairwise (a < b) — correct baseline; the LSH-bucketed scale path is
    * `Similarity.lshCosinePairs`.
    */
  def embeddingNearDups(
      emb: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.45): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      // fenced l2norm: sqrt evaluated once per VECTOR, never per pair —
      // sqrt is correctly rounded, so hoisting it out of the quotient
      // keeps the bits identical to the oracle's sqrt(dot(a,a)) form
      .withColumn("na", Similarity.l2norm(col("v")))
    val a = e.select(col("id").as("ia"), col("v").as("va"), col("na"))
    val b = e.select(col("id").as("ib"), col("v").as("vb"), col("na").as("nb"))
    a.crossJoin(b).where(col("ia") < col("ib"))
      .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select("ia", "ib")
  }

  /** Semantic decontamination: drop every train row whose embedding is
    * within cosine `threshold` of ANY eval-set embedding — the
    * embedding-space complement of n-gram [[decontaminate]], catching
    * paraphrased or reformatted benchmark leakage that exact n-gram
    * overlap misses.
    *
    * Scale shape: the eval side is benchmarks (small) — its vectors
    * BROADCAST, and the contamination test is a map-only pass over train
    * (per-row max cosine against the broadcast matrix, norms fenced and
    * computed once per side); only the contaminated-id set (tiny) is ever
    * exchanged for the final anti-join. Nothing about the 100 TB train
    * side shuffles.
    */
  def semanticDecontaminate(
      train: DataFrame, evalSet: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.99): DataFrame = {
    val t = train.select(col(idCol), col(vecCol).cast("array<double>").as("tv"))
      .withColumn("tn", Similarity.l2norm(col("tv")))
    val e = evalSet.select(col(vecCol).cast("array<double>").as("ev"))
      .withColumn("en", Similarity.l2norm(col("ev")))
    // division form, not dot ≥ t·‖a‖·‖b‖ — the DuckDB oracle computes the
    // quotient, and the two only agree bit-for-bit on the same expression.
    // The norms are fenced AS sqrt(dot(v,v)) per side (l2norm), so the
    // sqrt runs once per row, not once per (train×eval) candidate; the
    // quotient's operands are the same doubles either way (sqrt is
    // correctly rounded), so the oracle bits are unchanged.
    val contaminated = t.crossJoin(broadcast(e))
      .where(Similarity.dot(col("tv"), col("ev")) /
        (col("tn") * col("en")) >= threshold)
      .select(idCol).distinct()
    train.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Candidate-pair generator for [[semanticDedup]]. Every generator
    * returns (ia, ib) pairs with EXACT cosine ≥ threshold (each verifies
    * candidates with the true cosine, so there are never false positives);
    * blocked generators may miss pairs (recall < 1) in exchange for never
    * materializing the O(n²) cross product.
    */
  sealed trait SemPairGen
  object SemPairGen {
    /** Exact all-pairs cosine ([[embeddingNearDups]]) — deterministic and
      * oracle-checkable, O(n²) candidate pairs: the CORRECTNESS HARNESS,
      * not a 100 TB plan.
      */
    case object Exact extends SemPairGen
    /** Random-hyperplane LSH bucketing + exact-cosine verify
      * (`Similarity.lshCosinePairs`) — the scale default: signatures are
      * map-only, only (table, bucket, id) tuples shuffle, candidates are
      * per-bucket.
      *
      * `nPlanes = 0` (the default) AUTO-SIZES the plane count from a
      * corpus count probe: `nPlanes = max(4, ceil(log2(n / 32)))`
      * ([[Similarity.lshAutoPlanes]]), so expected bucket occupancy stays
      * ≤ ~32 regardless of corpus size and candidate pairs grow ∝ n, not
      * n². A FIXED plane count is the scaling hazard this retires:
      * a 10× scale probe measured the old fixed 4×16 default (16
      * buckets/table, occupancy ∝ n, candidates ∝ n²/16) at 39× wall-time
      * for 10× data, vs ~2× for occupancy-bounded configs.
      *
      * `nTables = 0` (the default) AUTO-SIZES the table count too
      * ([[Similarity.lshAutoTables]]): the signature budget
      * planes × tables is held at ~64 plane-projections per row, so the
      * per-row signature cost and per-table candidate work stay bounded
      * as the corpus (and thus the auto plane count) grows — 16 tables
      * at the 4-plane floor (the unchanged small-corpus design point),
      * ~6 tables at 10 planes. A fixed 16-table count at large plane
      * counts did ~4× the work of the config this scaladoc itself
      * recommends (measured: 18.6 s vs 3.3 s at the 10× probe).
      *
      * Recall under auto-sizing: collision p per plane is 1 − θ/π, so
      * per-pair recall is 1 − (1 − p^planes)^tables. At SemDeDup's
      * production regime (near-identical content, cos ≥ 0.97,
      * p ≳ 0.92) the budgeted pairing keeps recall ≥ 0.95 at every
      * auto design point (e.g. 10 planes × 6 tables: 0.997 at cos
      * 0.99). At LOW thresholds (cos 0.45, p ≈ 0.65) recall decays as
      * planes grow regardless of table count — that regime is
      * fundamentally n^(1+ρ) for LSH at fixed recall, so on a BOUNDED
      * corpus that needs low-threshold recall, pass an explicit
      * `Lsh(4, 16)` (recall 1−(1−p⁴)¹⁶ ≈ 0.96 at cos 0.45; measured
      * ≥0.95 dropped-set recall — catalog d15 self-checks the default
      * path at sf0.01, where the auto sizes ARE 4 planes × 16 tables).
      */
    final case class Lsh(nPlanes: Int = 0, nTables: Int = 0) extends SemPairGen
    /** IVF-cell blocking (`Similarity.ivfCellPairs`) — SemDeDup's own
      * k-means-cell shape: multi-probe nearest-cell assignment is map-only
      * against a broadcast centroid matrix, candidates pair within cells,
      * exact-cosine verify. Best when the corpus clusters well; LSH is the
      * safer default on unclustered data.
      */
    final case class IvfCell(centroidMod: Int = 37, nProbe: Int = 2) extends SemPairGen
  }

  /** Semantic deduplication (SemDeDup — Abbas, Tirumala, Simig, Ganguli,
    * Morcos, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540): embedding-space
    * near-duplicate pairs → transitive clusters → keep one representative
    * (min id) per cluster. Returns the surviving ids.
    *
    * The candidate generator is a PARAMETER, defaulting to the blocked
    * LSH path ([[SemPairGen.Lsh]]) that survives 100 TB; the exact
    * all-pairs path ([[SemPairGen.Exact]]) is kept as the deterministic
    * oracle harness (catalog d12). Downstream clustering and survivor
    * selection are identical for every generator. The final anti-join
    * carries no broadcast hint: at aggressive thresholds SemDeDup prunes
    * a large FRACTION of the corpus, so the dropped-id set scales with
    * the data — AQE broadcasts it when it happens to be small and
    * shuffle-joins on the id otherwise. Cluster labels come from the same
    * adaptive connected components as [[duplicateClusters]].
    */
  def semanticDedup(
      emb: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id",
      threshold: Double = 0.45,
      pairGen: SemPairGen = SemPairGen.Lsh()): DataFrame = {
    val rawPairs = pairGen match {
      case SemPairGen.Exact =>
        embeddingNearDups(emb, vecCol, idCol, threshold)
      case SemPairGen.Lsh(nPlanes, nTables) =>
        // nPlanes = 0 → auto-size from a corpus count probe. The count is
        // one parquet-metadata-cheap scan of the id column, paid once per
        // semanticDedup call, and is what keeps bucket occupancy bounded
        // (candidates ∝ n) at any corpus size — see SemPairGen.Lsh.
        // nTables = 0 → hold the signature budget constant as planes
        // grow (Similarity.lshAutoTables): 16 tables at the 4-plane
        // floor, ~6 at 10 planes — auto mode stops paying 16 tables'
        // work at exactly the corpus sizes where extra tables no longer
        // buy near-identical-regime recall.
        val planes =
          if (nPlanes > 0) nPlanes
          else Similarity.lshAutoPlanes(emb.select(idCol).count())
        val tables =
          if (nTables > 0) nTables else Similarity.lshAutoTables(planes)
        Similarity.lshCosinePairs(emb, threshold, planes, tables, vecCol, idCol)
      case SemPairGen.IvfCell(centroidMod, nProbe) =>
        Similarity.ivfCellPairs(emb, threshold, centroidMod, nProbe,
          vecCol = vecCol, idCol = idCol)
    }
    val pairs = rawPairs.select(col("ia").as("a"), col("ib").as("b"))
    val clusters = duplicateClusters(pairs)
    val dropped = clusters.where(col("node") =!= col("cluster"))
      .select(col("node").as(idCol))
    emb.join(dropped, Seq(idCol), "left_anti").select(idCol)
  }
}
