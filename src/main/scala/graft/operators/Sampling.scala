package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset-assembly operators for training pipelines: deterministic
  * train/val/test splitting and sequential context-window packing.
  *
  * Both are engine-agnostic by construction (hash = md5-derived, packing =
  * integer running sums), so results reproduce bit-identically on any SQL
  * engine — the property that makes a split auditable long after the run.
  */
object Sampling {

  /** Cross-engine content-independent 60-bit hash of the id: first 15 hex
    * digits of md5 (fits a signed long; same trick as
    * [[Dedup.SimhashBits]]). Salt lets one id land differently per use
    * (e.g. independent splits for two experiments).
    */
  def idHash(id: Column, salt: String = ""): Column =
    conv(substring(md5(concat(id.cast("string"), lit(salt))), 1, 15), 16, 10)
      .cast("long")

  /** 0..99 bucket of [[idHash]]. */
  def hashBucket(id: Column, salt: String = ""): Column =
    pmod(idHash(id, salt), lit(100))

  /** 0..9999 bucket of [[idHash]] — basis-point resolution for fractional
    * sampling rates.
    */
  def hashBucketBp(id: Column, salt: String = ""): Column =
    pmod(idHash(id, salt), lit(10000))

  /** Deterministic train/val/test assignment by id hash: reproducible,
    * join-free, and stable under corpus growth (adding documents never
    * reassigns existing ones — the property random row-number splits
    * lack). Map-only; zero shuffle.
    */
  def hashSplit(df: DataFrame, idCol: String = "doc_id",
      trainPct: Int = 80, valPct: Int = 10, salt: String = ""): DataFrame = {
    require(trainPct + valPct < 100, "train+val must leave room for test")
    val b = hashBucket(col(idCol), salt)
    df.withColumn("split",
      when(b < trainPct, "train").when(b < trainPct + valPct, "val").otherwise("test"))
  }

  /** Domain-mixture sampling with fractional epochs: each source (domain)
    * gets a target weight in basis points of one epoch — 25000 = "repeat
    * this domain 2.5×", 5000 = "sample half of it" — the LLaMA/DoReMi-style
    * mixture reweighting step of corpus assembly. Every document appears
    * `floor(w/10000)` times, plus once more for the deterministic
    * hash-selected `w%10000`-bp fraction of ids, so realized proportions
    * converge to the targets while staying reproducible document-by-document
    * (no RNG; adding documents never changes existing assignments).
    *
    * Map-only: weight lookup is a literal `when`-chain (domains are few),
    * the copy fan-out is a per-row `explode(sequence(...))`. Zero shuffle.
    */
  def mixtureSample(df: DataFrame, weightsBp: Map[String, Int],
      srcCol: String = "source", idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    require(weightsBp.values.forall(_ >= 0), "weights must be >= 0 bp")
    val w = weightsBp.foldLeft(lit(0)) { case (acc, (src, bp)) =>
      when(col(srcCol) === src, lit(bp)).otherwise(acc)
    }
    val copies = (w / 10000).cast("int") +
      when(hashBucketBp(col(idCol), salt) < pmod(w, lit(10000)), 1).otherwise(0)
    df.withColumn("n_copies", copies)
      .where(col("n_copies") > 0)
      .withColumn("copy", explode(sequence(lit(1), col("n_copies"))))
      .drop("n_copies")
  }

  /** Temperature-scaled domain mixture at the √-temperature point
    * (α = 1/2): domain d's share of the output is ∝ √n_d instead of n_d —
    * the multilingual/multi-domain rebalancing rule (Arivazhagan et al.
    * 2019 §4.2; XLM-R and mT5 sample with p_d ∝ (n_d/N)^α) that keeps
    * head domains from drowning the tail without flat-capping them.
    * Unlike [[mixtureSample]] the weights are DERIVED from the corpus:
    * expected copies per document of domain d =
    * `targetTotal · √n_d / (Σ_e √n_e · n_d)`.
    *
    * Cross-engine exactness: α = 1/2 is computed as `floor(sqrt(n·10^8))`
    * — IEEE sqrt is correctly rounded, so any engine produces the SAME
    * integer score, and everything after is BigInt arithmetic (no pow(),
    * whose last-ulp behavior is library-specific, and no float summation
    * order to pin). Weights land in basis points and reuse
    * [[mixtureSample]]'s deterministic hash-fraction fan-out.
    *
    * Scale: one map-side-combined count aggregate (exchange carries ≤
    * partitions × domains pre-combined rows), a Zipf-small driver pull
    * (one row per domain), then the map-only resample. The corpus is
    * scanned twice and shuffled never.
    */
  def temperatureMixture(df: DataFrame, targetTotal: Option[Long] = None,
      srcCol: String = "source", idCol: String = "doc_id",
      salt: String = ""): DataFrame = {
    val counts = df.groupBy(col(srcCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    // preserve-size default: the corpus total IS the sum of the domain
    // counts just aggregated — a separate df.count() would be a third
    // full corpus scan for a number this pass already produced
    val target = targetTotal.getOrElse(counts.values.sum)
    mixtureSample(df, temperatureWeightsBp(counts, target),
      srcCol, idCol, salt)
  }

  /** √-temperature weights in basis points (see [[temperatureMixture]]).
    * BigInt internally: at 100 TB (n_d ~ 10^10, targetTotal ~ 10^10) the
    * numerator 10^4·T·√(n·10^8) ≈ 10^23 overflows Long silently.
    */
  def temperatureWeightsBp(counts: Map[String, Long],
      targetTotal: Long): Map[String, Int] = {
    require(targetTotal > 0 && counts.values.forall(_ > 0))
    val score = counts.map { case (d, n) =>
      d -> BigInt(math.floor(math.sqrt(n.toDouble * 1e8)).toLong)
    }
    val ssum = score.values.sum
    counts.map { case (d, n) =>
      val bp = (BigInt(10000) * BigInt(targetTotal) * score(d)) /
        (ssum * BigInt(n))
      require(bp.isValidInt, s"weight overflow for domain $d: $bp bp")
      d -> bp.toInt
    }
  }

  /** Excess-surprisal domain weights in basis points — the DoReMi
    * intuition (Xie, Pham, Dong, Du, Liu, Lu, Liang, Re, Ma, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining",
    * arXiv:2305.10429) collapsed to its measurable core: domains a
    * reference LM finds HARD (high mean surprisal = high excess loss)
    * get more of the training budget. DoReMi proper learns weights with
    * a proxy-model minimax round; this one-pass form uses per-domain
    * excess surprisal over the easiest domain as the weight signal:
    *
    *   excess_d = mean_surp_e4(d) − min_e mean_surp_e4(e) + 1   (≥ 1)
    *   expected copies/doc of d = T · excess_d / (Σ_e excess_e · n_d)
    *
    * Σ_d n_d · copies/doc = T — the budget is conserved exactly. The +1
    * floor keeps the easiest domain sampled (DoReMi's uniform-smoothing
    * role). Integer end-to-end: mean_surp is an integer division of the
    * t15 e4-scaled surprisal sums, the weight product runs in BigInt
    * (10^4·T·excess ≈ 10^19+ at corpus scale — Long would wrap), so any
    * engine derives the SAME basis points.
    *
    * `stats`: domain → (n_docs, Σ surp_mean_e4) as produced by one
    * count+sum aggregate over the t15 score table.
    */
  def excessWeightsBp(stats: Map[String, (Long, Long)],
      targetTotal: Long): Map[String, Int] = {
    require(targetTotal > 0 && stats.nonEmpty &&
      stats.values.forall(_._1 > 0))
    val mean = stats.map { case (d, (n, s)) => d -> s / n }
    val minMean = mean.values.min
    val excess = mean.map { case (d, m) => d -> BigInt(m - minMean + 1) }
    val esum = excess.values.sum
    stats.map { case (d, (n, _)) =>
      val bp = (BigInt(10000) * BigInt(targetTotal) * excess(d)) /
        (esum * BigInt(n))
      require(bp.isValidInt, s"weight overflow for domain $d: $bp bp")
      d -> bp.toInt
    }
  }

  /** Excess-surprisal domain rebalancing ([[excessWeightsBp]] +
    * [[mixtureSample]]'s deterministic hash-fraction fan-out): the input
    * carries a per-doc integer surprisal column (t15's
    * `surp_mean_e4`); weights derive from one count+sum aggregate and a
    * Zipf-small driver pull (one row per domain), then the resample is
    * map-only — the corpus shuffles never.
    */
  def excessSurprisalMixture(df: DataFrame, targetTotal: Option[Long] = None,
      srcCol: String = "source", surpCol: String = "surp_mean_e4",
      idCol: String = "doc_id", salt: String = ""): DataFrame = {
    val stats = df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n"), sum(col(surpCol)).as("s"))
      .collect()
      .map { r =>
        // loud, not silent: a null domain would consume budget that
        // mixtureSample's equality fan-out can never spend (rows dropped
        // AND every other weight deflated), and an all-null surprisal sum
        // would unbox to 0 and masquerade as the easiest domain
        require(!r.isNullAt(0), s"excessSurprisalMixture: null $srcCol key")
        require(!r.isNullAt(2),
          s"excessSurprisalMixture: domain '${r.getString(0)}' has no " +
            s"non-null $surpCol values")
        r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("s"))
      }
      .toMap
    val target = targetTotal.getOrElse(stats.values.map(_._1).sum)
    mixtureSample(df, excessWeightsBp(stats, target), srcCol, idCol, salt)
  }

  /** Per-stratum percentile calibration: map each row's score to its
    * rank percentile WITHIN its stratum, in basis points — the
    * quality-normalization step in front of a global threshold
    * (Dolma/RefinedWeb-style: a raw quality score is not comparable
    * across domains; "keep the top 30% of each domain" is). Integer-
    * exact and fully deterministic: pct_bp = 10000·(rank−1) div (n−1)
    * with rank by (score asc, id asc); a single-row stratum reports 0.
    *
    * One exchange on the stratum key (the rank window + the count ride
    * the same partitioning); at 100 TB the stratum sort is the cost —
    * the same envelope as any per-domain ranking, and strata are
    * domains, so parallelism is |domains| × AQE-split skew handling.
    */
  def percentileRank(df: DataFrame, strataCol: String, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col(scoreCol), col(idCol))
    val wAll = Window.partitionBy(col(strataCol))
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("pct_bp",
        when(col("__n") <= 1, lit(0)).otherwise(
          // floor-of-double division, the t13 convention: both operands
          // are exact in double ≪ 2^53, and the oracle runs the SAME ops
          floor((col("__rk") - 1) * lit(10000.0) / (col("__n") - 1))
            .cast("int")))
      .drop("__rk", "__n")
  }

  /** Deterministic stratified sample: EXACTLY `n` rows per stratum (when
    * the stratum has that many), chosen by hash order — reproducible,
    * auditable, and independent of physical row order, unlike
    * `sampleBy`'s Bernoulli draw which only hits `n` in expectation.
    *
    * Plans as the row_number-filter idiom, which
    * [[graft.plans.TopKPerKey]] (part of the engine's SQL surface)
    * turns into the two-phase bounded-heap operator: map partitions thin
    * to ≤n rows per stratum before the exchange, no sorts.
    */
  def stratifiedTake(df: DataFrame, strataCol: String, idCol: String,
      n: Int, salt: String = ""): DataFrame =
    takeByPriority(df, strataCol, idCol, idHash(col(idCol), salt), n)

  /** Shared top-n-per-stratum skeleton: rank by (priority asc, id) and
    * keep `rn ≤ n` — the row_number-filter idiom [[graft.plans.TopKPerKey]]
    * rewrites into its two-phase bounded-heap operator. Both samplers are
    * thin priority choices over this.
    */
  private def takeByPriority(df: DataFrame, strataCol: String, idCol: String,
      priority: Column, n: Int): DataFrame =
    df.withColumn("__prio", priority)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(strataCol)).orderBy(col("__prio"), col(idCol))))
      .where(col("rn") <= n)
      .drop("__prio")

  /** Per-stratum BEST-k selection: the top `n` rows per stratum by score
    * (descending, ties to the smaller id) — domain balancing in the
    * RefinedWeb/Dolma sense: cap every domain's contribution to the
    * training mix while keeping that domain's best-quality documents,
    * so no source can flood the corpus. Deterministic (no RNG at all —
    * the cap keeps the best, not a sample; [[stratifiedTake]] /
    * [[weightedTake]] are the randomized variants). Plans as the
    * row_number-filter idiom → [[graft.plans.TopKPerKey]]'s bounded-heap
    * operator.
    */
  def rankedTake(df: DataFrame, strataCol: String, idCol: String,
      scoreCol: Column, n: Int): DataFrame =
    takeByPriority(df, strataCol, idCol, -scoreCol.cast("long"), n)

  /** Deterministic WEIGHTED priority sample: the top `n` rows per stratum
    * by priority `u / w`, where `u` is the id's hash-uniform in [0, 1)
    * and `w > 0` the row's weight (quality score, importance) — higher
    * weight ⇒ stochastically smaller priority ⇒ more likely selected, the
    * quality-weighted selection step of corpus curation.
    *
    * Engine-agnostic by construction, like every sampler here: `u` is the
    * exact 60-bit [[idHash]] over 2⁶⁰ and the priority is ONE
    * correctly-rounded IEEE division — no transcendental functions, no
    * RNG state — so the selection reproduces bit-identically on any
    * engine (the DuckDB oracle runs the same formula). This is priority
    * sampling in the u/w form; the classic Efraimidis–Spirakis
    * u^(1/w) keys would need `pow`, whose last-ulp behavior is libm-
    * dependent — deliberately avoided.
    *
    * Plans as the row_number-filter idiom → [[graft.plans.TopKPerKey]]'s
    * bounded-heap operator; rows with w ≤ 0 or null never
    * qualify.
    */
  def weightedTake(df: DataFrame, strataCol: String, idCol: String,
      weightCol: Column, n: Int, salt: String = ""): DataFrame = {
    val u = idHash(col(idCol), salt).cast("double") / lit(1152921504606846976.0) // 2^60
    takeByPriority(
      df.withColumn("__w", weightCol.cast("double")).where(col("__w") > 0),
      strataCol, idCol, u / col("__w"), n)
      .drop("__w")
  }

  /** Deterministic epoch shuffle: assign every document a shard and a
    * position inside that shard by hashing its id — the global "random"
    * training order, reproducible run-to-run and auditable per document
    * (`salt` = epoch number gives a fresh order each epoch). Shard count
    * bounds the per-shard sort: at 100 TB pick shards of a few GB and each
    * sorts independently after one hash-partition exchange — there is no
    * global sort and no driver-side state.
    */
  def epochShuffle(df: DataFrame, idCol: String = "doc_id",
      numShards: Int = 32, salt: String = ""): DataFrame = {
    val h = idHash(col(idCol), salt)
    df.withColumn("shard", pmod(h, lit(numShards)).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(h, col(idCol))))
  }

  /** Sequential pack: concatenate documents in a deterministic order per
    * group (e.g. per language) into a token stream, then chunk the stream
    * into fixed `budget`-token context windows — the GPT-style
    * concat-then-chunk batching. Each document gets the window (`bin`) its
    * first token lands in and its offset inside that window; a document may
    * straddle a boundary (that is the semantics of chunked packing).
    *
    * One shuffle on the group key; the running sum is a window frame
    * (`rows unbounded preceding → -1`), partial per group — at 100 TB the
    * group key (language/source shard) bounds each partition's stream.
    */
  def sequentialPack(docs: DataFrame, groupCol: String, orderCol: String,
      tokenCountCol: Column, budget: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("n_tok", tokenCountCol)
      .withColumn("offset", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("bin", floor(col("offset") / budget))
      .withColumn("bin_offset", pmod(col("offset"), lit(budget.toLong)))
  }

  /** Stride-overlap context chunking: each document becomes overlapping
    * `win`-token windows starting every `stride` tokens (stride < win ⇒
    * adjacent chunks share `win - stride` tokens — the sliding-window
    * alternative to [[sequentialPack]] when examples must not straddle
    * document boundaries and boundary context should repeat).
    *
    * Every token is covered: when `n - win` is not a stride multiple the
    * aligned windows stop short of the document tail, so a final
    * END-ALIGNED window at `n - win + 1` is appended (randomized coverage
    * property in `KernelPropertySpec`; without it the last
    * `(n - win) mod stride` tokens would silently vanish from the
    * training set).
    *
    * Map-only: tokenization runs once per row (fenced), the starts
    * sequence explodes off the token count, and each chunk slices the
    * in-row token array — no shuffle at any size; output count is
    * ~n_tokens/stride rows per document.
    */
  def chunkStride(docs: DataFrame, win: Int, stride: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(win > 0 && stride > 0, "win and stride must be positive")
    require(stride <= win,
      s"stride ($stride) must be <= win ($win): a larger stride leaves " +
        "stride - win tokens uncovered between windows, breaking the " +
        "every-token-covered contract")
    val toks = docs.select(col(idCol).as("doc_id"),
      graft.functions.OptimizerFence(
        split(Dedup.normalize(col(textCol)), " ")).as("toks"))
      .withColumn("n", size(col("toks")))
    val maxStart = greatest(col("n") - (win - 1), lit(1))
    val aligned = sequence(lit(1), maxStart, lit(stride))
    val starts = when(element_at(aligned, -1) === maxStart, aligned)
      .otherwise(concat(aligned, array(maxStart)))
    toks
      .select(col("doc_id"), col("toks"), col("n"), explode(starts).as("start"))
      .select(col("doc_id"),
        // ceil((start-1)/stride): exact for aligned starts, and the
        // unaligned tail start lands strictly between two aligned ones so
        // it gets the next ordinal — no index collision
        ceil((col("start") - 1) / lit(stride.toDouble)).cast("int").as("chunk_idx"),
        col("start"),
        least(lit(win), col("n") - col("start") + 1).cast("int").as("n_toks"),
        array_join(slice(col("toks"), col("start"), lit(win)), " ").as("chunk"))
  }

  /** Sentence-boundary-respecting greedy chunking — the RAG/context-prep
    * splitter (the recursive-character-splitter staple, reduced to its
    * deterministic core): documents split into sentences, consecutive
    * sentences greedily packed into chunks of at most `maxChars`
    * characters, never cutting inside a sentence. The boundary-preserving
    * complement of [[chunkStride]] (which hard-splits on token windows).
    *
    * Exact contract (each rule oracle-mirrored in p10):
    *   - sentence split: boundaries after `.`/`!`/`?` followed by a
    *     space (portable two-step: mark with  then split — Spark's
    *     regexp_replace is global by default, DuckDB mirrors with the
    *     'g' flag; no lookbehind, which RE2 lacks); empty sentences drop.
    *   - greedy packing in document order: a sentence joins the current
    *     chunk when currentLen + 1 (separator) + len(s) ≤ maxChars, else
    *     starts the next chunk. A single sentence longer than maxChars
    *     gets its own OVERSIZED chunk — the operator never cuts inside a
    *     sentence by contract (callers wanting hard caps compose with
    *     chunkStride).
    *   - chunk text = its sentences joined by one space; chunk_idx is
    *     0-based.
    *
    * Scale shape: strictly map-only (split + one linear `aggregate` fold
    * for the assignment + per-chunk rebuild), zero shuffle, zero UDFs.
    * The rebuild scans the sentence array once per chunk (O(sents ×
    * chunks) per ROW — the q79 bounded in-row envelope; row cost is a
    * function of document length, not corpus size).
    */
  def sentenceChunks(docs: DataFrame, maxChars: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxChars >= 1, "maxChars must be positive")
    val marked = regexp_replace(col(textCol), "([.!?]) ", "$1")
    val sentsRaw = filter(split(marked, ""), s => s =!= "")
    val base = docs.select(col(idCol).as("doc_id"),
      graft.functions.OptimizerFence(sentsRaw).as("sents"))
    val accType = "array<struct<idx:bigint,cur:bigint>>"
    val fold = aggregate(col("sents"),
      expr(s"CAST(array() AS $accType)"),
      (acc, s) => {
        // size-guard the empty-accumulator access (the Bpe.scala
        // pattern): element_at(acc, -1) on an empty array is NULL under
        // the repo's non-ANSI sessions but THROWS under ANSI mode (the
        // Spark 4 default a library caller may run with)
        val empty = size(acc) === 0
        val prevIdx = when(empty, lit(0L))
          .otherwise(element_at(acc, -1).getField("idx"))
        val prevCur = when(empty, lit(0L))
          .otherwise(element_at(acc, -1).getField("cur"))
        val sl = length(s).cast("long")
        val cont = prevCur + lit(1L) + sl
        val newIdx = when(prevCur === 0L, lit(0L))
          .when(cont <= maxChars, prevIdx).otherwise(prevIdx + 1L)
        val newCur = when(prevCur === 0L, sl)
          .when(cont <= maxChars, cont).otherwise(sl)
        concat(acc, array(struct(newIdx.as("idx"), newCur.as("cur"))))
      })
    val withAssign = base.select(col("doc_id"), col("sents"),
      graft.functions.OptimizerFence(
        transform(fold, x => x.getField("idx"))).as("assign"))
    val maxIdx = element_at(col("assign"), -1)
    val chunks = when(size(col("sents")) === 0,
        expr("CAST(array() AS array<struct<idx:bigint,txt:string,ns:bigint>>)"))
      .otherwise(transform(sequence(lit(0L), maxIdx), k => {
        val mine = filter(
          zip_with(col("sents"), col("assign"), (s, a) => when(a === k, s)),
          x => x.isNotNull)
        struct(k.as("idx"), array_join(mine, " ").as("txt"),
          size(mine).cast("long").as("ns"))
      }))
    withAssign.select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"),
        col("c").getField("idx").as("chunk_idx"),
        col("c").getField("txt").as("chunk_text"),
        col("c").getField("ns").as("n_sents"),
        length(col("c").getField("txt")).cast("long").as("n_chars"))
  }

  /** DSIR-shaped importance weights (Xie, Santurkar, Ma, Liang, "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023): score each corpus document by how much its hashed-n-gram
    * profile looks like a TARGET distribution (a benchmark, a trusted
    * high-quality set) relative to the SOURCE (the raw corpus itself),
    * then resample by that weight. This is the standard
    * "target-distribution matching" selection step between quality
    * filtering and mixture assembly.
    *
    * DSIR proper scores log p_target(x) − log p_source(x) =
    * Σ_features cnt · ln(p_t[f]/p_s[f]). The q51/t11/t13 rationale
    * applies — `ln` breaks cross-engine bit-equality — so each feature
    * carries the RAW probability ratio in ten-thousandths instead:
    * both unigram models are first quantized to integer parts-per-1e9
    * (present-bucket counts add-one smoothed), each feature's ratio is
    * `(10000·p_t_e9) div max(p_s_e9, 1)`, and a doc's weight is the
    * integer SUM of its features' ratios (order-free) plus the
    * per-feature mean. Monotone per feature; the cross-feature mixture
    * is arithmetic- rather than geometric-mean-shaped (favors docs with
    * a few strongly-target-like features — acceptable for a reweighting
    * whose consumers threshold or rank).
    *
    * DELIBERATE deviation on smoothing: a bucket with NO target evidence
    * contributes 0, not an add-one floor. With hashed buckets, a floor
    * ratio is dominated by 1/p_source — it would hand every
    * rare-in-source gram a large weight precisely when the target says
    * nothing about it, and at small target sizes that noise drowns the
    * matching signal. The sharp prior keeps weights conservative
    * ("weight follows observed overlap only"); consumers that need every
    * doc selectable add a floor to the WEIGHT (as p04 does with `+ 1`),
    * not to the model.
    *
    * Features are hashed n-gram BUCKETS ([[idHash]] of the gram string
    * mod `buckets`), exactly DSIR's hashed feature space: the model is
    * `buckets` rows regardless of corpus size.
    *
    * Scale shape: the SOURCE corpus is normalized+shingled+hashed ONCE —
    * the `(doc_id, bucket)` int-pair projection is persisted
    * (MEMORY_AND_DISK, columnar — 12 bytes/gram, the d17 norm-projection
    * rule) and feeds both the source model and the scoring pass; the
    * target (small by construction) explodes once more. Both models
    * aggregate map-side onto at most `buckets` keys (tiny exchanges);
    * the ratio table is ≤ `buckets` rows and BROADCASTS to the scoring
    * pass, whose per-doc sums combine map-side — the one full-size
    * exchange carries a row per doc. Corpus text never shuffles.
    *
    * OVERFLOW FENCE: the e9 quantization multiplies `1e9·(cnt+1)`, exact
    * in BIGINT while a model side's total gram count stays below
    * 2^63/1e9 ≈ 9.2e9 grams. Past that (a 100 TB run is ~1e13 grams) set
    * `wide = true`: the two quantization expressions compute in
    * DECIMAL(38,0) — same math, same truncation — and divide back down
    * to the same e9 BIGINT integers ([[graft.operators]]'
    * `ScoringPropertySpec` pins wide ≡ narrow on in-range corpora).
    */
  def dsirWeights(source: DataFrame, target: DataFrame,
      n: Int = 2, buckets: Int = 1024,
      textCol: String = "text", idCol: String = "doc_id",
      wide: Boolean = false, persistGrams: Boolean = true): DataFrame = {
    require(n >= 1 && buckets >= 1, "dsirWeights: n and buckets must be ≥ 1")
    def grams(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      explode(Dedup.shinglesFromToks(
        graft.functions.OptimizerFence(
          split(Dedup.normalize(col(textCol)), " ")), n)).as("g"))
      .select(col("doc_id"), pmod(idHash(col("g")), lit(buckets)).as("b"))
    // unigram model over the hashed feature space, quantized to integer
    // parts-per-1e9 with add-one smoothing. `wide` routes the multiply
    // through DECIMAL(38,0) (integral div of decimals is still exact and
    // returns BIGINT); the narrow path is plain BIGINT arithmetic.
    val quant =
      if (wide) "(CAST(1000000000 AS DECIMAL(38,0)) * (cnt + 1)) div (tot + 1)"
      else "(1000000000 * (cnt + 1)) div (tot + 1)"
    def modelFrom(g: DataFrame, pCol: String) = {
      val cnts = g.groupBy(col("b")).agg(count(lit(1)).as("cnt"))
      cnts.crossJoin(broadcast(cnts.agg(sum(col("cnt")).as("tot"))))
        .select(col("b"), expr(quant).as(pCol))
    }
    // one tokenize+hash pass over the source: these int pairs feed the
    // source model AND the scoring join below
    val srcGrams = {
      val g = grams(source)
      if (persistGrams)
        g.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else g
    }
    // Scoring only ever looks up buckets present in SOURCE grams, so ps
    // exists for every consulted row; a bucket the target never produced
    // scores 0 — the deliberate sharp no-evidence prior (see scaladoc),
    // NOT an add-one floor. The full-outer + fences keep the expression
    // total anyway.
    val ratio = modelFrom(srcGrams, "ps")
      .join(modelFrom(grams(target), "pt"), Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("pt"), lit(0L)).as("pt"),
        coalesce(col("ps"), lit(0L)).as("ps"))
      .select(col("b"),
        expr("(10000 * pt) div (CASE WHEN ps > 0 THEN ps ELSE 1 END)").as("r"))
    srcGrams
      .join(broadcast(ratio), Seq("b"), "left")
      .select(col("doc_id"), coalesce(col("r"), lit(0L)).as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("r")).as("w_sum_e4"))
      .select(col("doc_id"), col("n_grams"), col("w_sum_e4"),
        expr("w_sum_e4 div n_grams").as("w_mean_e4"))
  }
}
