package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.OptimizerFence

/** Similarity search over an embedding column (`array<float>`).
  *
  * Literature: random-hyperplane signatures — Charikar (STOC 2002);
  * inverted-file (IVF) coarse quantization — Sivic & Zisserman "Video
  * Google" (ICCV 2003) / Jégou et al., "Product quantization for nearest
  * neighbor search" (TPAMI 2011, the IVF stage without PQ refinement).
  *
  * Two tiers, per the build brief:
  *   - `bruteForceTopK`: exact cosine top-k — the correctness baseline.
  *     The query set is broadcast; the corpus streams through one scan, and
  *     per-query top-k is a window row_number (partial top-k per partition
  *     via AQE/TakeOrdered would be the next refinement at 100 TB).
  *   - `lshCosinePairs`: random-hyperplane LSH — the scale path for
  *     near-pair generation. Signatures are per-row (map-only); candidate
  *     generation shuffles only (bucket, id) pairs, never vectors.
  *   - `ivfTopK` / `pqTrain`+`pqEncode`+`pqTopK`: the two classic ANN
  *     serving shapes — coarse cells with probe re-rank, and m-byte code
  *     compression with ADC shortlist + exact re-rank.
  *
  * All vector math is `zip_with`/`aggregate` higher-order built-ins over
  * `array<double>` (codegen-friendly, no UDFs), except the per-row inner
  * loops that earn dedicated codegen kernels (`VectorExprs.dot`,
  * `VectorExprs.PqCodes`).
  */
object Similarity {

  /** Sequential-order dot product (index 0..n-1, the same summation order
    * as DuckDB's list_inner_product — bit-stable across engines).
    * Codegen'd kernel; the equivalent
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` composition interprets its
    * lambdas per element.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot(a, b)

  /** L2 norm, fenced: norms are derived once per vector but referenced per
    * candidate pair — without the fence, CollapseProject/pushdown inline
    * the O(dim) interpreted fold into every pair comparison (measured 5×
    * on the cross-join paths).
    */
  def l2norm(v: Column): Column = OptimizerFence(sqrt(dot(v, v)))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Shared prep: (outId, vector-as-double, fenced norm) — the exact and
    * re-rank paths must keep ONE cosine/tie-break contract, so the
    * scaffolding lives once.
    */
  private def prepVectors(df: DataFrame, outId: String,
      vecCol: String, idCol: String, v: String, n: String): DataFrame =
    df.select(col(idCol).as(outId), col(vecCol).cast("array<double>").as(v))
      .withColumn(n, l2norm(col(v)))

  /** Shared ranking tail: per-query top-k by (cos desc, neighbor asc). */
  private def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"))
  }

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ranked (cosine desc, id asc).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c = prepVectors(corpus, "neighbor_id", vecCol, idCol, "cv", "cn")
    val q = prepVectors(queries, "query_id", vecCol, idCol, "qv", "qn")
    topKByCos(c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("cv"), col("qn"), col("cn"))), k)
  }

  /** Lloyd (k-means) refinement of a centroid seed, expressed as
    * map-side-combined DataFrame aggregates — no window, no collect:
    *
    *   assign: nearest centroid per vector as a `max_by` ARGMAX aggregate
    *     over the broadcast centroid cross product (one exchanged row per
    *     corpus vector — the [[ivfTopK]] assignment shape);
    *   update: element-wise cell mean via posexplode → sum/count per
    *     (cell, dim). Partial aggregation combines map-side, so the
    *     exchange carries ≤ partitions × cells × dim pre-combined rows —
    *     never corpus × dim — and the array rebuild
    *     (collect_list of (pos, mean) structs → array_sort → transform)
    *     touches only the ≤cells-row aggregate.
    *
    * Cells that capture no vectors drop out (standard Lloyd behavior —
    * fewer, better-placed cells). Refined centroids keep their seed's
    * cent_id, so downstream probing/tie-breaks are unchanged in shape.
    * Cosine assignment + plain mean = spherical k-means' assignment with
    * an unnormalized mean; the mean is not re-normalized because every
    * consumer divides by the centroid's own l2 norm, making cell choice
    * scale-invariant.
    *
    * Input/output schema: (cent_id, cv, cn) with (id, v, n) corpus rows.
    */
  private def lloydRefine(e: DataFrame, seed: DataFrame, iters: Int): DataFrame = {
    var cent = seed
    for (_ <- 0 until iters) {
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("ccos", cosine(col("v"), col("cv"), col("n"), col("cn")))
        .groupBy(col("id"))
        .agg(
          max_by(col("cent_id"), struct(col("ccos"), (-col("cent_id")).as("tb")))
            .as("cent_id"),
          first(col("v")).as("v"))
      cent = assigned
        .select(col("cent_id"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), (col("sx") / col("cnt")).as("m")))),
          s => s.getField("m")).as("cv"))
        .withColumn("cn", l2norm(col("cv")))
    }
    cent
  }

  /** IVF (inverted-file) approximate top-k: the classic two-stage ANN.
    *
    * Build: pick a small deterministic centroid set (`vec_id % centroidMod
    * == 0` seed; `lloydIters` > 0 refines it with [[lloydRefine]] k-means
    * rounds — measured on the test embeddings to lift recall at every
    * fixed probe count (e.g. @2: 0.317 → 0.400 with 2 iterations), though
    * not to halve the probe count on this data: the vectors are
    * near-isotropic, so no centroid placement concentrates cells. The
    * same-probe lift is pinned by `SimilaritySpec`; re-measure the
    * probe-count trade on clustered production embeddings), then assign
    * every corpus vector to
    * its nearest centroid as an ARGMAX AGGREGATE over the broadcast
    * centroid cross product: `groupBy(nid).agg(max_by(...))` partial-combines
    * map-side, so the only exchange carries ONE row per corpus vector —
    * never |corpus|×|centroids| rows (the previous `row_number` window
    * clustered the whole cross product on nid: a corpus-multiplied
    * shuffle-and-sort at 100 TB).
    *
    * Query: probe the `nProbe` nearest cells per query (window over
    * |queries|×|centroids| — the QUERY side is the small one), rank
    * candidates in those cells by exact cosine, keep top k. Scan cost drops
    * from O(corpus) to O(corpus × nProbe / nCells) per query.
    *
    * SIZING AT SCALE: a fixed `centroidMod` keeps cell SIZE constant but
    * grows the centroid count ∝ n, so the assignment cross product is
    * ∝ n²/mod — the r16 factor-30 probe's named superlinear term
    * (`s07_ivfpq_prod` 21.9× at 30×, PROBE30_r16.json). Corpus-scale
    * callers pass `centroidMod = ivfAutoCentroidMod(count)` (√n cells
    * of √n vectors → assignment n^1.5).
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int = 2, centroidMod: Int = 37, lloydIters: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = corpus.select(col(idCol).as("nid"),
      col(vecCol).cast("array<double>").as("nv"))
      .withColumn("nn", l2norm(col("nv")))
    val seed = corpus.filter(col(idCol) % centroidMod === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val cent =
      if (lloydIters <= 0) seed
      else lloydRefine(
        e.select(col("nid").as("id"), col("nv").as("v"), col("nn").as("n")),
        seed, lloydIters)

    // max_by over struct(ccos, -cent_id) ≡ ORDER BY ccos DESC, cent_id ASC
    // LIMIT 1 per nid: highest cosine wins, ties go to the smallest cell id.
    val assigned = e.crossJoin(broadcast(cent))
      .withColumn("ccos", cosine(col("nv"), col("cv"), col("nn"), col("cn")))
      .groupBy(col("nid"))
      .agg(
        max_by(col("cent_id"), struct(col("ccos"), (-col("cent_id")).as("tb")))
          .as("cent_id"),
        first(col("nv")).as("nv"), first(col("nn")).as("nn"))
      .select(col("cent_id"), col("nid"), col("nv"), col("nn"))

    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", l2norm(col("qv")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("ccos", cosine(col("qv"), col("cv"), col("qn"), col("cn")))
      .withColumn("rn", row_number().over(wProbe))
      .where(col("rn") <= nProbe)
      .select(col("cent_id"), col("query_id"), col("qv"), col("qn"))

    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("nid"))
    probes.join(assigned, "cent_id")
      .where(col("query_id") =!= col("nid"))
      .withColumn("cos", cosine(col("qv"), col("nv"), col("qn"), col("nn")))
      .withColumn("rank", row_number().over(wRank))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("nid").as("neighbor_id"))
  }

  /** IVF-cell near-pair candidates (SemDeDup §2's k-means-cell blocking;
    * centroids are deterministic mod-sampled seeds, Lloyd-refined when
    * `lloydIters` > 0): every vector multi-probes its `nProbe` nearest cells
    * ([[graft.functions.NearestCells]] — broadcast centroid matrix,
    * map-only, zero shuffle), candidates are pairs sharing ANY probed
    * cell, and every candidate verifies with EXACT cosine ≥ threshold —
    * so the result is a subset of the exact pair set, like the LSH
    * generator. Pair volume is Σ_cell |cell|² instead of n².
    *
    * The centroid pull (`collect`) is the bounded-driver-state pattern of
    * the Bloom build: centroids ≪ corpus by construction (n/centroidMod).
    */
  def ivfCellPairs(
      emb: DataFrame, threshold: Double,
      centroidMod: Int = 37, nProbe: Int = 2, lloydIters: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", l2norm(col("v")))
    val seed = e.filter(col("id") % centroidMod === 0)
      .select(col("id").as("cent_id"), col("v").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val centDf = if (lloydIters <= 0) seed else lloydRefine(e, seed, lloydIters)
    val centRows = centDf.select(col("cent_id"), col("cv")).collect()
    val centIds = centRows.map(_.getLong(0))
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    val cells = e.select(col("id"), col("v"), col("n"),
      explode(graft.functions.NearestCells(col("v"), centIds, cents, nProbe))
        .as("cell"))
    val a = cells.select(col("cell"), col("id").as("ia"),
      col("v").as("va"), col("n").as("na"))
    val b = cells.select(col("cell"), col("id").as("ib"),
      col("v").as("vb"), col("n").as("nb"))
    a.join(b, Seq("cell")).where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .groupBy("ia", "ib").agg(first("cos").as("cos")) // dedup multi-cell hits
      .where(col("cos") >= threshold)
      .select("ia", "ib")
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * a ±1 weight derived from xxhash64 — reproducible on any cluster, no
    * driver-side randomness shipped to executors.
    */
  private def planeWeight(plane: Int, dim: Column): Column =
    when(xxhash64(lit(plane), dim).bitwiseAND(lit(1L)) === 1L, lit(1.0)).otherwise(lit(-1.0))

  /** Random-hyperplane signature: bit p = sign(⟨w_p, v⟩) with w_p ∈ {±1}^d.
    * Per-row, map-only.
    */
  def rhpSignature(v: Column, nPlanes: Int): Column = {
    val planeBits = (0 until nPlanes).map { p =>
      val proj = aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1), (x, i) => x * planeWeight(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, call_function("shiftleft", lit(1L), lit(p))).otherwise(lit(0L))
    }
    planeBits.reduce(_ + _)
  }

  /** Plane count that bounds expected LSH bucket occupancy at
    * `targetOccupancy` for an `n`-vector corpus: 2^planes buckets per
    * table ≥ n / targetOccupancy, floored at 4 planes (16 buckets) so
    * tiny corpora keep the high-recall low-threshold design point.
    * Candidate pairs per table are then ∝ n · targetOccupancy — linear in
    * the corpus — instead of the ∝ n² / 2^planes a fixed plane count
    * degrades to. Used by `Dedup.SemPairGen.Lsh`'s auto default; recall
    * consequences are documented there.
    */
  /** √n-balanced IVF sizing: `centroidMod ≈ √n` gives ≈√n cells of ≈√n
    * vectors each, so the broadcast-centroid ASSIGNMENT pass costs
    * n·(n/mod) ≈ n^1.5 cosine evaluations and the per-query candidate
    * scan nProbe·√n — the classic IVF balance. A FIXED mod keeps cell
    * SIZE constant but grows the centroid count ∝ n, degrading
    * assignment to ∝ n²/mod: the r16 factor-30 probe named exactly this
    * as the one superlinear term in the ANN family (`s07_ivfpq_prod`
    * read 21.9× at 30× data — the n²/mod assignment+train compute —
    * while every banded family stayed ≤ 4.5× and the partition-pruned
    * s12 serve path read 2.6×; PROBE30_r16.json). s07 passes the
    * auto-sized mod since r18 (the corpus count is deterministic for a
    * fixed dataset, so its recall gate stays a corpus constant); s12
    * keeps a fixed mod — its claim is served ≡ in-query EQUALITY at any
    * quality point, and a fixed mod keeps the artifact's partition
    * count pinned for the ≤nProbe-partitions-read spec.
    */
  def ivfAutoCentroidMod(n: Long): Int =
    math.max(37L, math.round(math.sqrt(n.toDouble))).toInt

  def lshAutoPlanes(n: Long, targetOccupancy: Int = 32): Int = {
    require(targetOccupancy > 0, s"targetOccupancy must be positive: $targetOccupancy")
    val needed = math.ceil(math.log(math.max(1L, n).toDouble / targetOccupancy)
      / math.log(2.0)).toInt
    math.max(4, needed)
  }

  /** Table count that holds the TOTAL signature budget (planes × tables ≈
    * `bitBudget` plane-projections per row) constant as [[lshAutoPlanes]]
    * grows the plane count, clamped to [4, 16]: at the 4-plane floor this
    * is the unchanged 16-table high-recall design point, and at large
    * corpora (10+ planes) it stops auto mode doing 16 tables' work where
    * the scaladoc's own analysis recommends ~4-6. Recall consequence
    * (per-pair, 1 − (1 − p^planes)^tables): at the near-identical
    * SemDeDup regime the auto pairing stays high — e.g. planes = 10,
    * tables = 6 gives 0.997 at cos 0.99 (p ≈ 0.955) and ≥ 0.95 down to
    * cos ≈ 0.97 — while moderate-threshold recall on a growing corpus
    * decays with plane count for ANY fixed budget (the n^(1+ρ) law);
    * that regime passes an explicit `Lsh(planes, tables)`. Used by
    * `Dedup.SemPairGen.Lsh`'s auto default.
    */
  def lshAutoTables(planes: Int, bitBudget: Int = 64): Int = {
    require(planes > 0 && bitBudget > 0)
    math.max(4, math.min(16, math.round(bitBudget.toDouble / planes).toInt))
  }

  /** LSH-bucketed candidate near pairs: same nPlanes-bit signature bucket
    * → candidate; verify with exact cosine ≥ threshold. Multi-probe via
    * `nTables` independent plane families reduces misses.
    */
  def lshCosinePairs(
      emb: DataFrame, threshold: Double,
      nPlanes: Int = 12, nTables: Int = 4,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val e = emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", l2norm(col("v")))
    val sigs = e.select(col("id"), col("v"), col("n"),
      posexplode(array((0 until nTables).map { t =>
        val planeBase = t * nPlanes
        val bits = (0 until nPlanes).map { p =>
          val proj = aggregate(
            zip_with(col("v"), sequence(lit(0), size(col("v")) - 1),
              (x, i) => x * planeWeight(planeBase + p, i)),
            lit(0.0), (acc, x) => acc + x)
          when(proj > 0, call_function("shiftleft", lit(1L), lit(p))).otherwise(lit(0L))
        }
        bits.reduce(_ + _)
      }: _*)))
      .toDF("id", "v", "n", "table", "bucket")
    val a = sigs.select(col("table"), col("bucket"), col("id").as("ia"),
      col("v").as("va"), col("n").as("na"))
    val b = sigs.select(col("table"), col("bucket"), col("id").as("ib"),
      col("v").as("vb"), col("n").as("nb"))
    a.join(b, Seq("table", "bucket")).where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .groupBy("ia", "ib").agg(first("cos").as("cos")) // dedup multi-table hits
      .where(col("cos") >= threshold)
      .select("ia", "ib")
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * compression step of a vector pipeline (4× smaller than float32; a
    * 100 TB embedding store becomes 25 TB and dot products move to SIMD
    * int8 at serving time). Per vector: scale = 127 / max|v_i|, q_i =
    * floor(v_i·scale + 0.5) (round-half-up — floor is EXACT on the
    * computed double, so unlike engine `round()` builtins, whose
    * half-way convention differs between engines, the quantizer is
    * reproducible bit-for-bit anywhere IEEE division/multiply/floor
    * exist). All-zero vectors quantize to all zeros (scale guard).
    *
    * Output: (id, q array<int>, scale double) — map-only, zero shuffle.
    * Dequantize as q_i / scale.
    */
  // ---- product quantization (PQ) -----------------------------------------

  /** A trained PQ codebook set: `codebooks(s)(j)` is centroid j of
    * subspace s (each `subDim` doubles). Driver-held by design — the
    * whole model is m·k·subDim doubles (≤ a few KB), the bounded-driver-
    * state pattern of the Bloom build / IVF centroid pull — so it embeds
    * into scoring plans as a LITERAL and encode/score stay map-only.
    */
  final case class PqModel(codebooks: Vector[Vector[Array[Double]]], subDim: Int) {
    def m: Int = codebooks.length
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "PQ model must have at least one centroid per subspace")

    /** Flat layout for the codegen'd encode kernel: every centroid's
      * subDim doubles back to back, indexed per subspace in centroid
      * units by (starts, counts).
      */
    lazy val (flat, starts, counts): (Array[Double], Array[Int], Array[Int]) = {
      val counts = codebooks.map(_.length).toArray
      val starts = counts.scanLeft(0)(_ + _).init
      (codebooks.flatten.flatten.toArray, starts, counts)
    }
  }

  /** Unit-normalize (zero vectors pass through): PQ here quantizes
    * L2 distance on the unit sphere, where ‖a−b‖² = 2 − 2·cos(a,b) —
    * ascending approximate distance IS descending approximate cosine, so
    * PQ results are directly comparable to the cosine-ranked exact paths.
    */
  private def pqNormalize(v: Column): Column = {
    val n = l2norm(v)
    when(n === 0.0, v).otherwise(transform(v, x => x / n))
  }

  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** ADC score of one corpus row against one query's lookup table:
    * Σ_s tbl[s][codes[s]] as the codegen'd [[graft.functions.VectorExprs.AdcSum]]
    * kernel — bit-identical (null algebra included) to the interpreted
    * `aggregate(zip_with(codes, tbl, (c, t) => element_at(t, c + 1)), 0.0, _+_)`
    * composition it replaces (r19; SimilaritySpec pins kernel ≡ HOF).
    * This is the highest row-count expression in every PQ serving path
    * (evaluated per candidate (corpus × query) pair).
    */
  private def adcScore(codes: Column, tbl: Column): Column =
    graft.functions.VectorExprs.adcSum(codes, tbl)

  /** Nearest-centroid code for one subvector against one subspace's
    * codebook literal: a fold over the k centroids carrying (best d², j).
    * Strict `<` keeps the FIRST minimum — ties break to the lowest code,
    * deterministically, in one pass.
    */
  private def argminCode(sv: Column, codebook: Vector[Array[Double]]): Column = {
    val tbl = typedlit(codebook.map(_.toSeq))
    aggregate(
      sequence(lit(0), lit(codebook.length - 1)),
      struct(lit(Double.MaxValue).as("d"), lit(0).as("j")),
      (acc, j) => {
        val d = dist2(sv, element_at(tbl, j + 1))
        when(d < acc.getField("d"), struct(d.as("d"), j.cast("int").as("j")))
          .otherwise(acc)
      },
      acc => acc.getField("j"))
  }

  /** PQ code array (one int per subspace) for a NORMALIZED vector column
    * — the codegen'd [[graft.functions.VectorExprs.PqCodes]] kernel
    * (tight primitive loops; the HOF composition below interprets its
    * lambdas per element, ~m·k·subDim dispatches per vector).
    */
  private def pqCodesExpr(nv: Column, model: PqModel): Column =
    graft.functions.VectorExprs.pqCodes(nv,
      model.flat, model.starts, model.counts, model.subDim)

  /** The HOF composition the kernel must match bit-for-bit (same strict-<
    * first-minimum, same sequential summation) — kept as the spec's
    * equivalence reference, never on the hot path.
    */
  private[operators] def pqCodesHof(nv: Column, model: PqModel): Column =
    array(model.codebooks.zipWithIndex.map { case (cb, s) =>
      argminCode(slice(nv, lit(s * model.subDim + 1), lit(model.subDim)), cb)
    }: _*)

  /** Train PQ codebooks (Jégou, Douze, Schmid, "Product quantization for
    * nearest neighbor search", TPAMI 2011): split each unit-normalized
    * vector into `m` contiguous subspaces and k-means each subspace to
    * `k` centroids — a vector then compresses to m small codes (m bytes
    * at k ≤ 256: a 100 TB float32 embedding store becomes ~0.8 TB of
    * codes, the canonical storage+ANN-serving shape at that scale).
    *
    * All m codebooks train in ONE job per Lloyd round, not m:
    *   - seed: per (subspace, hash-bucket j) the min-id subvector —
    *     deterministic spread over real data points, computed as a
    *     `min_by` aggregate (map-side combined, never a corpus window);
    *   - assign: codes via [[argminCode]] against the current codebooks
    *     as literals — strictly map-only, the corpus never shuffles;
    *   - update: per (subspace, code, dim) mean via posexplode — the
    *     exchange carries ≤ partitions × m·k·subDim pre-combined rows;
    *   - pull: the ≤ m·k-row codebook aggregate collects to the driver
    *     (bounded by construction, the IVF centroid-pull pattern).
    * Cells that capture no vectors drop out (standard Lloyd); codes are
    * renumbered contiguously per subspace after training.
    *
    * `dim % m == 0` is required (64-dim test embeddings: m ∈ {2,4,8,16}).
    * Determinism: seeds are min-by-id over xxhash64 buckets, assignment
    * ties break to the lowest code, means are fixed-order sums — same
    * corpus in, same model out, which is what lets [[pqTopK]] sit under a
    * self-measured recall gate.
    */
  def pqTrain(corpus: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id"): PqModel = {
    require(m >= 1 && k >= 2 && iters >= 0,
      s"pqTrain: need m ≥ 1, k ≥ 2, iters ≥ 0 (got m=$m k=$k iters=$iters)")
    val dim = corpus.select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException("pqTrain: empty corpus"))
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val subDim = dim / m
    val base = corpus.select(col(idCol).as("id"),
      OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))).as("nv"))
    val subRows = base.select(col("id"), posexplode(
      array((0 until m).map(s =>
        slice(col("nv"), lit(s * subDim + 1), lit(subDim))): _*))
      .as(Seq("sub", "sv")))

    def pull(df: DataFrame): Vector[Vector[Array[Double]]] = {
      val rows = df.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      val bySub = rows.groupBy(_._1)
      Vector.tabulate(m)(s => bySub.getOrElse(s, Array.empty)
        .sortBy(_._2).map(_._3).toVector)
    }

    // seed: min-id subvector per (sub, xxhash64 bucket) — k real points
    // per subspace, deterministic, aggregate-shaped
    var cbs = pull(subRows
      .withColumn("cid", pmod(xxhash64(col("id")), lit(k.toLong)).cast("int"))
      .groupBy(col("sub"), col("cid"))
      .agg(min_by(col("sv"), col("id")).as("cv"))
      .select(col("sub"), col("cid"), col("cv")))

    for (_ <- 0 until iters) {
      val model = PqModel(cbs, subDim)
      cbs = pull(base
        .select(posexplode(pqCodesExpr(col("nv"), model)).as(Seq("sub", "cid")),
          col("nv"))
        .select(col("sub"), col("cid"),
          posexplode(slice(col("nv"), col("sub") * subDim + 1, lit(subDim)))
            .as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cid"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .groupBy(col("sub"), col("cid"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), (col("sx") / col("cnt")).as("v")))),
          s => s.getField("v")).as("cv"))
        .select(col("sub"), col("cid"), col("cv")))
    }
    PqModel(cbs, subDim)
  }

  /** Compress a corpus to PQ codes: (id, codes array<int>) — map-only
    * against the literal codebooks, zero shuffle. This is the table a
    * production pipeline PERSISTS (m ints per vector); [[pqTopK]] accepts
    * either raw vectors or this output.
    */
  def pqEncode(corpus: DataFrame, model: PqModel,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    corpus.select(col(idCol),
      pqCodesExpr(OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))),
        model).as("codes"))

  /** PQ approximate top-k by asymmetric distance computation (ADC): per
    * query, one k·m lookup table (exact subspace distances from the RAW
    * query to every centroid) computed once and carried broadcast; per
    * corpus row the approximate distance is m table lookups over the
    * codes — no vector math on the corpus side at all.
    *
    * `refine` > 0 adds the standard serving refinement (Jégou et al.
    * §IV.B): shortlist the top-`refine` per query by ADC, then re-rank
    * the shortlist by EXACT cosine against the raw vectors (`rerank`, or
    * `encoded` itself when it still carries the vector column). Recall
    * then depends on P(true top-k ∈ ADC top-refine) — far gentler than
    * raw code precision, which is what makes m-byte codes servable even
    * on unclustered corpora.
    *
    * Scale shape: the corpus side never shuffles and never touches its
    * float vectors (codes only); queries (small by contract, like
    * [[bruteForceTopK]]) broadcast with their tables; the exchanges are
    * the per-query top-k heaps ([[graft.plans.TopKPerKey]], ≤ refine rows per
    * query), and the re-rank joins the BROADCAST shortlist back to the
    * corpus — a broadcast semi-join, so the 100 TB side still never
    * shuffles. Ranking ascends approximate ‖·‖² on the unit sphere ≡
    * descends approximate cosine — directly comparable to the exact
    * paths; catalog s06 gates measured recall against s01's truth.
    */
  def pqTopK(encoded: DataFrame, queries: DataFrame, model: PqModel, k: Int,
      refine: Int = 0, rerank: Option[DataFrame] = None,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = model.m; val subDim = model.subDim
    val qRaw = queries.select(col(idCol).as("query_id"),
      OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))).as("qv"))
    val q = qRaw
      .select(col("query_id"), OptimizerFence(array((0 until m).map { s =>
        val qs = slice(col("qv"), lit(s * subDim + 1), lit(subDim))
        transform(typedlit(model.codebooks(s).map(_.toSeq)), c => dist2(qs, c))
      }: _*)).as("tbl"))
    val c =
      if (encoded.columns.contains("codes")) encoded.select(col(idCol), col("codes"))
      else pqEncode(encoded, model, vecCol, idCol)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ad"), col("neighbor_id"))
    val adcK = if (refine > 0) math.max(refine, k) else k
    val adc = c.toDF(Seq("neighbor_id", "codes"): _*)
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("ad", adcScore(col("codes"), col("tbl")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= adcK)
    if (refine <= 0)
      adc.select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"))
    else {
      val rerankSrc = rerank.getOrElse {
        require(encoded.columns.contains(vecCol),
          s"pqTopK(refine>0): pass rerank= raw vectors, or an `encoded` " +
            s"input that still carries '$vecCol'")
        encoded
      }
      val vecs = rerankSrc.select(col(idCol).as("neighbor_id"),
        OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))).as("cv"))
      val shortlist = adc.select(col("query_id"), col("neighbor_id"))
      val wx = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      // broadcast the Q×refine shortlist INTO the corpus: the big side
      // stays shuffle-free; vectors on unit sphere ⇒ plain dot IS cosine
      vecs.join(broadcast(shortlist), Seq("neighbor_id"))
        .join(broadcast(qRaw), Seq("query_id"))
        .withColumn("cos", dot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(wx))
        .where(col("rank") <= k)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"))
    }
  }

  /** IVF-PQ — the canonical billion-scale ANN serving composition (Jégou
    * et al. 2011 §V, "IVFADC"): an IVF coarse quantizer prunes the corpus
    * to each query's `nProbe` nearest cells, PQ asymmetric-distance
    * scoring ranks only those cells' m-byte codes, and (with `refine` > 0)
    * the shortlist re-ranks by exact cosine. This is [[ivfTopK]]'s
    * pruning with [[pqTopK]]'s code-only scan: at 100 TB the corpus is
    * visited as ~m bytes/vector of codes, each query touches only
    * ~nProbe/|cells| of them, and float vectors surface solely for the
    * bounded shortlist re-rank.
    *
    * Determinism: cells, codes and all rankings are deterministic given
    * the model (ties to the smaller id everywhere) — same contract as the
    * other ANN paths.
    *
    * Scale shape: the corpus side is strictly MAP-ONLY and never shuffles
    * — cell assignment is the broadcast centroid kernel
    * ([[graft.functions.NearestCells]], one cell per vector), codes are
    * the literal-codebook expression, and the probe join BROADCASTS the
    * (cell, query, ADC-table) side into it. The only exchanges carry
    * (query, neighbor, distance) candidate rows from the probed cells
    * (the per-query top-k heaps), and the re-rank reuses pqTopK's
    * broadcast-shortlist-into-corpus join. The centroid pull is the
    * bounded-driver-state pattern (n/centroidMod rows by construction).
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, model: PqModel, k: Int,
      nProbe: Int = 2, centroidMod: Int = 37, lloydIters: Int = 0,
      refine: Int = 0,
      vecCol: String = "embedding", idCol: String = "vec_id",
      precomputedCentroids: Option[(Array[Long], Array[Array[Double]])] = None
      ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = model.m; val subDim = model.subDim
    val (centIds, cents) = precomputedCentroids.getOrElse(
      ivfPqCentroids(corpus, centroidMod, lloydIters, vecCol, idCol))
    // corpus side: one cell per vector + m-byte codes — strictly map-only
    val assigned = corpus.select(col(idCol).as("neighbor_id"),
        OptimizerFence(col(vecCol).cast("array<double>")).as("rv"))
      .withColumn("cell",
        element_at(graft.functions.NearestCells(col("rv"), centIds, cents, 1), 1))
      .select(col("cell"), col("neighbor_id"),
        pqCodesExpr(OptimizerFence(pqNormalize(col("rv"))), model).as("codes"))
    // query side: nProbe probes, each carrying the per-query ADC table
    val qRaw = queries.select(col(idCol).as("query_id"),
      OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))).as("qv"),
      OptimizerFence(col(vecCol).cast("array<double>")).as("rqv"))
    val q = qRaw.select(col("query_id"), col("qv"),
        explode(graft.functions.NearestCells(col("rqv"), centIds, cents, nProbe))
          .as("cell"))
      .select(col("cell"), col("query_id"),
        OptimizerFence(array((0 until m).map { s =>
          val qs = slice(col("qv"), lit(s * subDim + 1), lit(subDim))
          transform(typedlit(model.codebooks(s).map(_.toSeq)), c => dist2(qs, c))
        }: _*)).as("tbl"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ad"), col("neighbor_id"))
    val adcK = if (refine > 0) math.max(refine, k) else k
    val adc = assigned.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("ad", adcScore(col("codes"), col("tbl")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= adcK)
    if (refine <= 0)
      adc.select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"))
    else {
      val vecs = corpus.select(col(idCol).as("neighbor_id"),
        OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))).as("cv"))
      val shortlist = adc.select(col("query_id"), col("neighbor_id"))
      val wx = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      vecs.join(broadcast(shortlist), Seq("neighbor_id"))
        .join(broadcast(qRaw.select(col("query_id"), col("qv"))), Seq("query_id"))
        .withColumn("cos", dot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(wx))
        .where(col("rank") <= k)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"))
    }
  }

  /** The coarse-centroid pull of [[ivfPqTopK]], exposed so callers can
    * run it CONCURRENTLY with [[pqTrain]] (guide §2.6 — the two chains
    * are independent: centroids depend only on (corpus, centroidMod,
    * lloydIters), the PQ model only on (corpus, m, k, iters), yet a
    * sequential caller pays pqTrain's bounded pulls and the Lloyd
    * centroid collect back-to-back). The plan and the UNordered collect
    * are byte-identical to what [[ivfPqTopK]] runs inline — same seed
    * filter, same [[lloydRefine]] chain, same row order — so passing the
    * result via `precomputedCentroids` cannot change any cell
    * assignment; `SimilaritySpec` pins precomputed ≡ inline row-for-row.
    * Bounded pull by construction (n/centroidMod rows).
    */
  def ivfPqCentroids(corpus: DataFrame, centroidMod: Int, lloydIters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id")
      : (Array[Long], Array[Array[Double]]) = {
    val eRaw = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", l2norm(col("v")))
    val seed = corpus.filter(col(idCol) % centroidMod === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val centDf = if (lloydIters <= 0) seed else lloydRefine(eRaw, seed, lloydIters)
    val centRows = centDf.select(col("cent_id"), col("cv")).collect()
    (centRows.map(_.getLong(0)), centRows.map(_.getSeq[Double](1).toArray))
  }

  // ---- persisted index artifacts (build once, serve many) --------------

  /** The driver-side half of a persisted IVF-PQ index: coarse centroids
    * + the PQ model (both bounded — |cells| + m·k codebook rows); the
    * codes table stays distributed on disk.
    */
  final case class IvfPqIndex(centIds: Array[Long],
      cents: Array[Array[Double]], model: PqModel)

  /** Build and PERSIST the IVF-PQ index — the production serving layer
    * [[ivfPqTopK]] computes in-query. Artifacts under `dir`:
    * `centroids` (cent_id, cv), `codebooks` (sub, code, center),
    * `meta` (m, sub_dim), and `codes` (neighbor_id, codes) written
    * `partitionBy(cell)`. The cell partitioning is the point: a serve
    * job filters the codes scan to its probed cells, so at 100 TB the
    * index READ is ~nProbe/|cells| of the corpus codes — decided by
    * partition pruning in the planner, not by code — and the expensive
    * parts (PQ training sub-rows, the one assignment pass over the
    * corpus) are paid once, not per query batch. Serving reproduces the
    * in-query operator EXACTLY (same centroid rule, same codes; doubles
    * are binary-exact through parquet) — pinned in `AnnIndexSpec`.
    * Centroids are ordered by cent_id on save AND load so cell
    * assignment cannot depend on collect order.
    */
  def saveIvfPqIndex(corpus: DataFrame, dir: String, m: Int = 8,
      kCodes: Int = 16, trainIters: Int = 2, centroidMod: Int = 37,
      lloydIters: Int = 0, vecCol: String = "embedding",
      idCol: String = "vec_id"): IvfPqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // bounded pull: the centroid table (same class as lloydRefine's),
    // collected ONCE — the centroid ARTIFACT is then written from the
    // collected rows (r19 verdict item 5: one fewer corpus-side job; the
    // old shape ran the centroid subplan twice, once for the write and
    // once for the collect — at lloydIters > 0 that re-ran the whole
    // Lloyd chain). Rows are sorted by cent_id before writing, matching
    // what the loader orders by anyway. The collect runs
    // CONCURRENTLY with pqTrain's bounded pulls (guide §2.6): the two
    // chains are independent (centroids ← (corpus, centroidMod,
    // lloydIters); model ← (corpus, m, kCodes, trainIters)), so a
    // driver-thread Future overlaps their dispatch rounds without
    // touching either computation.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val eRaw = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .withColumn("n", l2norm(col("v")))
    val seed = corpus.filter(col(idCol) % centroidMod === 0)
      .select(col(idCol).as("cent_id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val centDf = if (lloydIters <= 0) seed else lloydRefine(eRaw, seed, lloydIters)
    val centF = Future(centDf.select(col("cent_id"), col("cv"))
      .orderBy(col("cent_id")).collect())
    val model = pqTrain(corpus, m, kCodes, trainIters, vecCol, idCol)
    val centRows = Await.result(centF, Duration.Inf)
    val centIds = centRows.map(_.getLong(0))
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    centIds.zip(cents.map(_.toSeq)).toSeq.toDF("cent_id", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    model.codebooks.zipWithIndex.flatMap { case (cb, sub) =>
      cb.zipWithIndex.map { case (center, code) => (sub, code, center.toSeq) }
    }.toDF("sub", "code", "center").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    Seq((model.m, model.subDim)).toDF("m", "sub_dim").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    corpus.select(col(idCol).as("neighbor_id"),
        OptimizerFence(col(vecCol).cast("array<double>")).as("rv"))
      .withColumn("cell",
        element_at(graft.functions.NearestCells(col("rv"), centIds, cents, 1), 1))
      .select(col("cell"), col("neighbor_id"),
        pqCodesExpr(OptimizerFence(pqNormalize(col("rv"))), model).as("codes"))
      // cluster by the partition column BEFORE the partitioned write:
      // without this every write task fans out one file per cell it
      // sees (tasks × |cells| small files — measured 3× the entry's
      // whole runtime at sf0.1); clustered, each cell's rows land in
      // one task → ~|cells| right-sized files
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/codes")
    IvfPqIndex(centIds, cents, model)
  }

  /** Append NEW vectors to a saved index WITHOUT retraining: cell
    * assignment and codes use the STORED centroids/codebooks (exactly
    * what a serve reads), written mode-append into the cell partitions —
    * the incremental-ingest half of the build-once pattern. The model
    * deliberately does not drift (appended vectors quantize in the
    * original space — the standard IVF trade; periodic re-train is a
    * full [[saveIvfPqIndex]]). Map-only over the new batch. Returns the
    * loaded index for chaining.
    */
  def appendToIvfPqIndex(newVectors: DataFrame, dir: String,
      vecCol: String = "embedding", idCol: String = "vec_id"): IvfPqIndex = {
    val spark = newVectors.sparkSession
    val idx = loadIvfPqIndex(spark, dir)
    newVectors.select(col(idCol).as("neighbor_id"),
        OptimizerFence(col(vecCol).cast("array<double>")).as("rv"))
      .withColumn("cell", element_at(
        graft.functions.NearestCells(col("rv"), idx.centIds, idx.cents, 1), 1))
      .select(col("cell"), col("neighbor_id"),
        pqCodesExpr(OptimizerFence(pqNormalize(col("rv"))), idx.model).as("codes"))
      .repartition(col("cell")) // same small-files guard as the build
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
    idx
  }

  /** Load the bounded half of a saved index (centroids + codebooks +
    * meta — three small parquet pulls, the documented-pull class).
    */
  def loadIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfPqIndex = {
    // the three bounded artifact pulls are INDEPENDENT — run them as
    // concurrent driver-thread jobs (guide §2.6: actions are sequential
    // only because driver code calls them sequentially) so a serve-path
    // load pays ~one dispatch round instead of three
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val metaF = Future(spark.read.parquet(s"$dir/meta").collect().head)
    val cbF = Future(spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"),
        r.getAs[Seq[Double]]("center").toArray)))
    val centF = Future(spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cent_id")).collect())
    val meta = Await.result(metaF, Duration.Inf)
    val m = meta.getAs[Int]("m")
    val subDim = meta.getAs[Int]("sub_dim")
    val cbRows = Await.result(cbF, Duration.Inf)
    val codebooks = Vector.tabulate(m)(s =>
      cbRows.filter(_._1 == s).sortBy(_._2).map(_._3).toVector)
    val centRows = Await.result(centF, Duration.Inf)
    IvfPqIndex(centRows.map(_.getAs[Long]("cent_id")),
      centRows.map(_.getAs[Seq[Double]]("cv").toArray),
      PqModel(codebooks, subDim))
  }

  /** Serve top-k from a SAVED index: probe assignment + ADC scoring
    * against the stored codes, optional exact re-rank against the
    * original corpus (full vectors are deliberately NOT index artifacts
    * — pass `refineCorpus` for the two-stage read). The probed cell set
    * is collected and applied as a STATIC partition filter, so the
    * codes scan reads ONLY probed cells' files (pinned:
    * `selectedPartitions` in AnnIndexSpec); the pull is bounded by
    * min(|queries|·nProbe, |cells|) DISTINCT values — never more than
    * the centroid count, i.e. bounded at ANY query-batch size.
    */
  def servedIvfPqTopK(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nProbe: Int = 2, refine: Int = 0,
      refineCorpus: Option[DataFrame] = None,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(refine <= 0 || refineCorpus.nonEmpty,
      "servedIvfPqTopK: refine > 0 needs refineCorpus (full vectors are not index artifacts)")
    val idx = loadIvfPqIndex(spark, dir)
    val model = idx.model
    val m = model.m
    val subDim = model.subDim
    val qRaw = queries.select(col(idCol).as("query_id"),
      OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))).as("qv"),
      OptimizerFence(col(vecCol).cast("array<double>")).as("rqv"))
    val q = qRaw.select(col("query_id"), col("qv"),
        explode(graft.functions.NearestCells(col("rqv"), idx.centIds,
          idx.cents, nProbe)).as("cell"))
      .select(col("cell"), col("query_id"),
        OptimizerFence(array((0 until m).map { s =>
          val qs = slice(col("qv"), lit(s * subDim + 1), lit(subDim))
          transform(typedlit(model.codebooks(s).map(_.toSeq)), c => dist2(qs, c))
        }: _*)).as("tbl"))
    // bounded pull: the probed cell set, for static partition pruning
    val probedCells = q.select(col("cell")).distinct().collect().map(_.getLong(0))
    val codes = spark.read.parquet(s"$dir/codes")
      .withColumn("cell", col("cell").cast("long"))
      .where(col("cell").isin(probedCells: _*))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ad"), col("neighbor_id"))
    val adcK = if (refine > 0) math.max(refine, k) else k
    val adc = codes.join(broadcast(q), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("ad", adcScore(col("codes"), col("tbl")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= adcK)
    if (refine <= 0)
      adc.select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"))
    else {
      val vecs = refineCorpus.get.select(col(idCol).as("neighbor_id"),
        OptimizerFence(pqNormalize(col(vecCol).cast("array<double>"))).as("cv"))
      val shortlist = adc.select(col("query_id"), col("neighbor_id"))
      val wx = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id"))
      vecs.join(broadcast(shortlist), Seq("neighbor_id"))
        .join(broadcast(qRaw.select(col("query_id"), col("qv"))), Seq("query_id"))
        .withColumn("cos", dot(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(wx))
        .where(col("rank") <= k)
        .select(col("query_id"), col("rank").cast("int").as("rank"),
          col("neighbor_id"))
    }
  }

  /** Exact-cosine re-rank of a candidate shortlist — the second stage
    * behind any compressed first pass (PQ codes, PCA-reduced vectors,
    * LSH buckets): the cheap pass proposes `(query_id, neighbor_id)`
    * candidates, this ranks them by FULL-dimension cosine and keeps the
    * top k. The shortlist (queries × shortlist-size rows — bounded by
    * construction) and the query vectors broadcast INTO the corpus, so
    * the big side never shuffles; float vectors surface only for
    * shortlisted rows.
    */
  def rerankExact(corpus: DataFrame, queries: DataFrame,
      shortlist: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val c = prepVectors(corpus, "neighbor_id", vecCol, idCol, "cv", "cn")
    val q = prepVectors(queries, "query_id", vecCol, idCol, "qv", "qn")
    topKByCos(c
      .join(broadcast(shortlist.select("query_id", "neighbor_id")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", cosine(col("qv"), col("cv"), col("qn"), col("cn"))), k)
  }

  /** Semi-hard triplet mining (Schroff, Kalenichenko, Philbin, "FaceNet",
    * CVPR 2015 §3.2) — the contrastive-training data step: for each
    * anchor, its nearest same-label positive and the k hardest negatives
    * that are still FARTHER than the positive (cos(a,n) < cos(a,p) —
    * "semi-hard": hard enough to carry gradient, not so hard they are
    * label noise, which at corpus scale is usually an undetected dup).
    *
    * Output: (anchor_id, pos_id, rank, neg_id), rank 1..k by cosine desc
    * (ties to the smaller id — fully deterministic). Anchors with no
    * same-label partner, or no negative below their positive, emit no
    * rows (strict semi-hard; the caller widens the anchor batch, not the
    * definition).
    *
    * Scale design: anchors are a training batch — Zipf-small against the
    * corpus — and are broadcast; the corpus side is a single map-only
    * scoring scan. The positive is ONE `max`-of-struct aggregate per
    * anchor (map-side combined argmax — no window), and the negative
    * ranking is the window-top-k shape the heap-top-k rule plans into
    * per-partition partial heaps, so the exchange carries at most
    * partitions × anchors × k candidate rows, never the scored cross
    * product.
    */
  def semiHardTriplets(corpus: DataFrame, anchors: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1)
    val c = corpus.select(col(idCol).as("cand_id"),
      col(labelCol).as("cand_label"),
      col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", l2norm(col("cv")))
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("anchor_label"),
      col(vecCol).cast("array<double>").as("av"))
      .withColumn("an", l2norm(col("av")))
    val scored = c.crossJoin(broadcast(a))
      .where(col("cand_id") =!= col("anchor_id"))
      .withColumn("cos", cosine(col("av"), col("cv"), col("an"), col("cn")))
    // argmax as an aggregate: (cos desc, id asc) tie-break via negated id
    val pos = scored.where(col("cand_label") === col("anchor_label"))
      .groupBy(col("anchor_id"))
      .agg(max(struct(col("cos"), (-col("cand_id")).as("nid"),
        col("cand_id").as("pid"))).as("p"))
      .select(col("anchor_id"), col("p.pid").as("pos_id"),
        col("p.cos").as("pos_cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    scored.where(col("cand_label") =!= col("anchor_label"))
      .join(broadcast(pos), Seq("anchor_id"))
      .where(col("cos") < col("pos_cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("anchor_id"), col("pos_id"),
        col("rank").cast("int").as("rank"), col("cand_id").as("neg_id"))
  }

  /** A trained PCA basis: `components(i)` is the i-th principal axis
    * (orthonormal, eigenvalue-descending), `eigenvalues(i)` its captured
    * variance, `mean` the per-dimension corpus mean, `totalVar` the trace
    * of the covariance (so callers can report explained-variance ratios
    * without another corpus pass).
    */
  final case class PcaModel(mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double],
      totalVar: Double) {
    def dim: Int = mean.length
  }

  /** PCA training — the embedding whitening/reduction step in front of
    * semantic dedup and ANN (SemDeDup clusters on normalized embeddings;
    * OPQ/IVF recall improves markedly on decorrelated axes; a 100 TB
    * float32 embedding store shrinks 64→16 dims with single-digit recall
    * loss when variance is concentrated).
    *
    * Scale design: the corpus is touched EXACTLY ONCE — each row expands
    * to its (dim + dim²) first/second-moment contributions (the
    * concatenated vector-and-outer-product array), posexplode + one
    * position-sum aggregate with map-side combine, so the exchange
    * carries ≤ partitions × (dim + dim²) pre-combined rows and the
    * driver pulls dim + dim² cells — bounded by construction, never by
    * corpus size (the Lloyd-update shape). Eigenvectors come from
    * deterministic power iteration with deflation on the driver-side
    * d×d covariance (C = M2/n − μμᵀ): d ≤ a few thousand for any real
    * embedding, so the O(d² · iters · k) driver work is microscopic next
    * to the corpus pass.
    */
  def pcaTrain(corpus: DataFrame, nComponents: Int, powerIters: Int = 60,
      vecCol: String = "embedding"): PcaModel = {
    require(nComponents >= 1 && powerIters >= 1)
    val v = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) > 0)
    // one corpus pass: [x_0..x_{d-1}, x_0·x_0..x_0·x_{d-1}, x_1·x_0, ...]
    val moments = v.select(posexplode(concat(col("v"),
        flatten(transform(col("v"), x => transform(col("v"), y => x * y))))))
      .groupBy(col("pos")).agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .collect()
    require(moments.nonEmpty, "pcaTrain: empty corpus")
    // mixed-dimension corpora would silently cross-aggregate first and
    // second moments into the same position buckets; uniform dims show as
    // a uniform per-position row count, so the check is free (no extra
    // corpus pass)
    val counts = moments.map(_.getAs[Long]("n"))
    require(counts.min == counts.max,
      s"pcaTrain: mixed embedding dimensions (per-position counts " +
        s"${counts.min}..${counts.max})")
    val n = counts.head.toDouble
    val d = math.round((math.sqrt(4.0 * moments.length + 1) - 1) / 2).toInt
    require(d * (d + 1) == moments.length && nComponents <= d,
      s"pcaTrain: inconsistent dims (cells=${moments.length}, d=$d)")
    val flat = new Array[Double](d + d * d)
    moments.foreach(r => flat(r.getAs[Int]("pos")) = r.getAs[Double]("s"))
    val mean = Array.tabulate(d)(i => flat(i) / n)
    val cov = Array.tabulate(d, d)((i, j) =>
      flat(d + i * d + j) / n - mean(i) * mean(j))
    // per-vector orthogonal iteration: power steps on the ORIGINAL
    // covariance with explicit Gram-Schmidt against the components
    // already found, every step. Deflation alone is not enough — in a
    // near-degenerate eigenspace (isotropic noise dims) power iteration
    // converges arbitrarily slowly, and deflating with a half-converged
    // vector leaks it into every later component (measured 7e-4
    // off-orthogonality); in-loop re-orthogonalization keeps the basis
    // orthonormal to machine precision REGARDLESS of eigengap, and the
    // Rayleigh quotient then equals the component's projected variance
    // exactly (the s09 data-side check relies on this). Deterministic
    // start = e_argmax(residual diag) perturbed by a small DENSE ramp:
    // the argmax coordinate gives fast convergence when the dominant
    // eigenvector loads on it, and the dense term guarantees nonzero
    // overlap with an eigenvector the argmax axis is STRUCTURALLY
    // orthogonal to (block-decoupled covariances are common — a pure
    // e_argmax start is exactly stationary on the wrong axis there,
    // and power iteration would silently return a non-principal
    // component).
    val comps = Array.ofDim[Array[Double]](nComponents)
    val eigs = new Array[Double](nComponents)
    def matVec(x: Array[Double]): Array[Double] =
      Array.tabulate(d)(i =>
        (0 until d).foldLeft(0.0)((acc, j) => acc + cov(i)(j) * x(j)))
    def orthonormalize(x: Array[Double], m: Int): Array[Double] = {
      val y = x.clone()
      for (p <- 0 until m) {
        val proj = (0 until d).foldLeft(0.0)((a, i) => a + y(i) * comps(p)(i))
        for (i <- 0 until d) y(i) -= proj * comps(p)(i)
      }
      val norm = math.sqrt(y.map(v => v * v).sum)
      if (norm > 1e-300) y.map(_ / norm) else y
    }
    for (m <- 0 until nComponents) {
      val start = (0 until d).maxBy { i =>
        cov(i)(i) - (0 until m).foldLeft(0.0)((a, p) =>
          a + eigs(p) * comps(p)(i) * comps(p)(i))
      }
      var vec = orthonormalize(
        Array.tabulate(d)(i =>
          (if (i == start) 1.0 else 0.0) + 1e-3 * (i + 1) / d), m)
      for (_ <- 1 to powerIters) vec = orthonormalize(matVec(vec), m)
      comps(m) = vec
      val mv = matVec(vec)
      eigs(m) = math.max((0 until d).foldLeft(0.0)((a, i) =>
        a + vec(i) * mv(i)), 0.0)
    }
    // discovery order tracks the spectrum only up to convergence error —
    // in a near-flat spectrum (isotropic embeddings) adjacent Rayleigh
    // quotients can invert. The model's contract is eigenvalue-descending
    // components, so sort (stable; ties keep discovery order).
    val order = eigs.indices.sortBy(i => -eigs(i))
    PcaModel(mean, order.map(comps).toArray, order.map(eigs).toArray,
      (0 until d).map(i => cov(i)(i)).sum)
  }

  /** Map-only projection onto a trained basis: output `(…, pc)` where
    * `pc(i) = ⟨x − μ, componentᵢ⟩`, optionally whitened (divided by
    * √eigenvalueᵢ — unit variance per axis, the SemDeDup/OPQ input
    * convention). Components ride the plan as literal arrays (the
    * literal-codebook pattern): zero shuffle, zero driver participation
    * at any corpus size.
    */
  def pcaProject(corpus: DataFrame, model: PcaModel, whiten: Boolean = false,
      vecCol: String = "embedding", outCol: String = "pc"): DataFrame = {
    val meanLit = typedLit(model.mean.toSeq)
    val compCols = model.components.zipWithIndex.map { case (comp, i) =>
      val scale = if (whiten && model.eigenvalues(i) > 0)
        1.0 / math.sqrt(model.eigenvalues(i)) else 1.0
      (dot(zip_with(col(vecCol).cast("array<double>"), meanLit, _ - _),
        typedLit(comp.toSeq)) * lit(scale)).as(s"__pc$i")
    }
    corpus.withColumn(outCol, array(compCols: _*))
  }

  /** Embedding outlier scoring — the drop-the-noise curation filter (the
    * embedding-space analog of a CLIP-score gate): per group (label /
    * domain / cluster), score each vector by its squared deviation from
    * the group centroid and flag the k most deviant. Operates on the
    * [[quantizeInt8]] representation (v · 127/max|v| — per-vector
    * L∞-normalized, so the deviation measures DIRECTION, not magnitude),
    * which makes the whole computation INTEGER-EXACT: with S_i = Σ q_i
    * and n the group size, dev = Σ_i (q_i·n − S_i)² is the squared
    * distance to the centroid scaled by n² — identical in any engine, no
    * float summation order to pin (the reason this is not cosine-to-mean:
    * a float centroid is order-dependent across engines and runs).
    *
    * Overflow: |q_i·n − S_i| ≤ 254·n, so dev ≤ dim·(254·n)² — Long holds
    * to n ≈ 3.8·10⁶/√dim per GROUP; beyond that the BigDecimal-free
    * escape is scoring against a quantized mean (divide S_i by n first),
    * which trades exactness for range. The entry pins the exact regime.
    *
    * Scale shape: one map-side-combined aggregate per group for (S, n)
    * — the exchange carries ≤ partitions × groups × dim pre-combined
    * rows (the Lloyd/PCA moment shape) — broadcast back, then a map-only
    * deviation pass and the heap-top-k rank window. Corpus vectors never
    * shuffle.
    */
  def outlierScores(emb: DataFrame, k: Int,
      groupCol: String = "label", vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    require(k >= 1)
    val q = quantizeInt8(emb, vecCol, idCol)
      .select(col(idCol), col("q"))
      .join(emb.select(col(idCol), col(groupCol)), Seq(idCol))
    val sums = q.select(col(groupCol), posexplode(col("q")))
      .groupBy(col(groupCol), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .groupBy(col(groupCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        p => p.getField("s")).as("sums"), max(col("n")).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col("dev").desc, col(idCol))
    q.join(broadcast(sums), Seq(groupCol))
      .withColumn("dev", aggregate(
        zip_with(col("q"), col("sums"),
          (qi, si) => { val d = qi.cast("long") * col("n") - si; d * d }),
        lit(0L), _ + _))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(groupCol), col(idCol), col("dev"),
        col("rank").cast("int").as("rank"))
  }

  def quantizeInt8(
      emb: DataFrame,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    emb.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__m", graft.functions.OptimizerFence(
        array_max(transform(col("__v"), x => abs(x)))))
      .withColumn("__s",
        when(col("__m") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("__m")))
      .select(
        col(idCol),
        transform(col("__v"), x =>
          when(col("__s") === 0.0, lit(0))
            .otherwise(floor(x * col("__s") + lit(0.5)).cast("int"))).as("q"),
        col("__s").as("scale"))
}
