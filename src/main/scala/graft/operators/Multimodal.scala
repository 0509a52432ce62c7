package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus per-partition feature extraction.
  *
  * IMAGE AND PCM-AUDIO DECODE ARE REAL: payloads whose magic bytes mark
  * a JDK-decodable image format (PNG/JPEG/GIF/BMP) are decoded with
  * `javax.imageio.ImageIO` — features are true luma-pixel statistics and
  * resize is true nearest-neighbor pixel sampling re-encoded as PNG —
  * and RIFF/WAVE payloads are decoded by a hand-parsed PCM reader
  * ([[tryDecodeWav]]): features are true mono-mixed sample statistics.
  * Any other payload (compressed audio/video, for which this container
  * ships no codec) takes the deterministic byte-hash fallback, so the
  * operators stay total and oracle-checkable over arbitrary binary
  * columns.
  *
  * Scale notes: payloads stay in executor memory one partition at a time;
  * `spark.sql.files.maxPartitionBytes` bounds the working set, and feature
  * extraction is map-only (no shuffle). Feature vectors (small) — not
  * payloads (large) — flow into downstream joins/ANN.
  */
object Multimodal {

  // in-memory ImageInputStreams only: the default disk-cache tempfile per
  // decode would be pure overhead (and tmpdir churn) on executors
  javax.imageio.ImageIO.setUseCache(false)

  /** Cheap magic-byte gate: true iff the payload starts like a format the
    * JDK's ImageIO ships a reader for (PNG, JPEG, GIF, BMP). Keeps
    * arbitrary non-image payloads from paying a reader probe per row.
    */
  private[operators] def looksLikeImage(p: Array[Byte]): Boolean =
    p != null && p.length >= 4 && (
      (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
      (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte && p(2) == 0xFF.toByte) ||
      (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
      (p(0) == 'B' && p(1) == 'M'))

  /** Decode an image payload, or None when the magic bytes don't match a
    * JDK format / the bytes are corrupt (ImageIO returns null or throws on
    * truncated streams — both map to the fallback path, never a task kill).
    */
  private[operators] def tryDecode(p: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (!looksLikeImage(p)) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p)))
    // NonFatal, not just IOException: arbitrary bytes can pass the magic
    // gate (text starting "BM…"), and a reader parsing a garbage header
    // may throw unchecked — any decode failure means "not an image"
    catch { case scala.util.control.NonFatal(_) => None }

  /** Row-major integer luma (ITU-R 601 weights, integer-exact:
    * `(299r+587g+114b)/1000`) — the pixel-domain input to feature chunks.
    */
  private[operators] def lumaPixels(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth; val h = img.getHeight
    val out = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff; val g = (rgb >> 8) & 0xff; val b = rgb & 0xff
        out(y * w + x) = (299 * r + 587 * g + 114 * b) / 1000
        x += 1
      }
      y += 1
    }
    out
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  /** Build a media table from documents: payload = utf-8 bytes of the text
    * (a stand-in for image bytes; the testdata ships no binary columns),
    * with populated metadata.
    */
  def asMediaTable(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("utf8-stub").as("format"),
        lit(64).as("width"),
        lit(64).as("height"),
        length(encode(col(textCol), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  /** RIFF/WAVE magic gate (12-byte preamble: "RIFF" <size> "WAVE"). */
  private[operators] def looksLikeWav(p: Array[Byte]): Boolean =
    p != null && p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E'

  /** Hand-parsed PCM WAV decode — the audio analog of the ImageIO path.
    * The container ships no audio codecs, but uncompressed WAV needs
    * none: the format IS the sample data (RIFF chunk walk → fmt/data),
    * so parsing it directly is a REAL decode, in the same spirit as the
    * repo's hand-rolled wire codecs. Supports PCM (format 1) at 8/16
    * bits, any channel count; frames mono-mix by integer-mean into
    * non-negative ints (16-bit signed + 32768 → [0, 65535]; 8-bit
    * unsigned << 8 — same scale). Returns None for anything malformed,
    * truncated, or non-PCM (IEEE-float, ADPCM, compressed) — those fall
    * back to the byte featurizer rather than failing the task.
    */
  private[operators] def tryDecodeWav(p: Array[Byte]): Option[Array[Int]] = {
    if (!looksLikeWav(p)) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      // chunk walk: collect fmt + data wherever they sit (word-aligned).
      // No iteration-count guard: pos strictly advances ≥8 bytes per
      // chunk, so the walk is bounded by payload size — a count cap would
      // only let a many-junk-chunk file push a REAL data chunk past the
      // cap into the silent byte-featurizer fallback. Bound checks run in
      // Long: a crafted size near Int.MaxValue overflows the Int sum,
      // sneaks past the fence, and reaches the frame allocation.
      var fmtAt = -1; var dataAt = -1; var dataLen = 0
      var pos = 12
      while (pos + 8 <= p.length && (fmtAt < 0 || dataAt < 0)) {
        val size = bb.getInt(pos + 4)
        if (size < 0 || pos.toLong + 8 + size > p.length) return None // truncated/hostile
        val id = new String(p, pos, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (id == "fmt " && size >= 16) fmtAt = pos + 8
        if (id == "data") { dataAt = pos + 8; dataLen = size }
        pos += 8 + size + (size & 1)
      }
      if (fmtAt < 0 || dataAt < 0) return None
      dataLen = math.min(dataLen, p.length - dataAt) // belt-and-braces alloc bound
      val audioFormat = bb.getShort(fmtAt) & 0xffff
      val channels = bb.getShort(fmtAt + 2) & 0xffff
      val bits = bb.getShort(fmtAt + 14) & 0xffff
      if (audioFormat != 1 || channels < 1 || (bits != 8 && bits != 16)) return None
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * channels
      val frames = dataLen / frameBytes
      val out = new Array[Int](frames)
      var f = 0
      while (f < frames) {
        var acc = 0L
        var c = 0
        while (c < channels) {
          val at = dataAt + f * frameBytes + c * bytesPerSample
          acc += (if (bits == 16) (bb.getShort(at).toInt + 32768)
                  else (p(at) & 0xff) << 8)
          c += 1
        }
        out(f) = (acc / channels).toInt
        f += 1
      }
      Some(out)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fallback featurizer for NON-IMAGE payloads: chunk-wise byte sums mod
    * a prime — integer-valued floats, so the DuckDB oracle reproduces them
    * bit-exactly over text-byte fixtures (a byte-mean variant would compare
    * float rounding paths across engines instead of the plumbing).
    */
  private[operators] def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    if (payload == null || payload.isEmpty) return Array.fill(dim)(0f)
    val chunk = math.max(1, payload.length / dim)
    Array.tabulate(dim) { i =>
      val from = i * chunk
      val until = math.min(payload.length, from + chunk)
      if (from >= payload.length) 0f
      else {
        var s = 0L; var j = from
        while (j < until) { s += payload(j) & 0xff; j += 1 }
        (s % 1009).toFloat
      }
    }
  }

  /** Chunk-sum featurization over an integer signal (luma pixels or PCM
    * samples): the shared shape of every real-decode path.
    */
  private def chunkSums(signal: Array[Int], dim: Int): Array[Float] = {
    val chunk = math.max(1, signal.length / dim)
    Array.tabulate(dim) { i =>
      val from = i * chunk
      val until = math.min(signal.length, from + chunk)
      if (from >= signal.length) 0f
      else {
        var s = 0L; var j = from
        while (j < until) { s += signal(j); j += 1 }
        (s % 1009).toFloat
      }
    }
  }

  /** Featurize one payload: real pixel path for decodable images, real
    * PCM-sample path for decodable WAVs (same integer chunk-sum shape in
    * both — deterministic, oracle-friendly), byte fallback otherwise.
    */
  private[operators] def decodeFeatures(payload: Array[Byte], dim: Int): Array[Float] =
    tryDecode(payload) match {
      case Some(img) => chunkSums(lumaPixels(img), dim)
      case None => tryDecodeWav(payload) match {
        case Some(samples) if samples.nonEmpty => chunkSums(samples, dim)
        case _ => decodeStub(payload, dim)
      }
    }

  /** Per-partition feature extraction over the binary column — the Scala
    * analog of a Pandas-UDF `mapInPandas`: one iterator pass per partition,
    * no per-row task overhead, decoder state (a real model handle) would be
    * initialized once per partition here.
    */
  def extractFeatures(media: DataFrame, dim: Int = 8): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    media.mapPartitions { rows =>
      // per-partition init happens here (decoder/model handle)
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        Row(id, decodeFeatures(payload, dim).toSeq)
      }
    }(enc)
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint — the standard
    * image-corpus dedup key (re-encodes, recompression and small edits
    * land within a few Hamming bits; see pHash family, e.g. Zauner,
    * "Implementation and benchmarking of perceptual image hash
    * functions", 2010): decode → 8×8 nearest-neighbor luma grid →
    * threshold each cell against the grid mean (strict, integer-exact:
    * `cell·64 > Σcells`) → one bit per cell. Non-decodable payloads take
    * the byte-grid fallback over the declared meta dims (the
    * [[resizeStub]] index mapping, bytes read unsigned) — the m01/m03
    * pattern: real decode proven on PNG fixtures in `MultimodalSpec`,
    * byte path oracle-checked in DuckDB. Empty payloads hash to 0.
    */
  private[operators] def aHash(payload: Array[Byte], srcW: Int, srcH: Int): Long =
    aHashGrid(payload, srcW, srcH, 8)(0) // one algorithm, one implementation

  /** 256-bit aHash (16×16 grid) — the pair-generation fingerprint for
    * [[phashNearDups]]. Same decode/fallback split and integer-exact
    * threshold (`cell·256 > Σcells`) as the 64-bit [[aHash]]; bit `i`
    * (grid cell `(i/16, i%16)`) lands in long `i/64`, bit `i%64`. The
    * wider grid exists for SCALE, not extra recall: splitting 256 bits
    * into `maxDist+1` bands leaves every band ≥ 32 bits (2³²⁺ key
    * values), so band buckets are governed by true fingerprint
    * collisions — a 64-bit hash over 7 bands leaves ~9-bit bands (≤1024
    * values), whose buckets grow ∝ corpus and candidates ∝ n²/2⁹ (the
    * r8-filed defect this retires).
    */
  private[operators] def aHash256(payload: Array[Byte], srcW: Int, srcH: Int): Array[Long] =
    aHashGrid(payload, srcW, srcH, 16)

  /** G×G aHash generalization: g² bits packed little-endian into g²/64
    * longs (g a multiple of 8). The grid size is the TOLERANCE dial for
    * [[phashNearDups]]: band keys keep ≥ 16 bits as long as
    * g²/(maxDist+1) ≥ 16, so a larger Hamming budget gets a finer grid
    * rather than narrower (saturating) bands.
    */
  private[operators] def aHashGrid(payload: Array[Byte], srcW: Int, srcH: Int,
      g: Int): Array[Long] = {
    require(g >= 8 && g % 8 == 0, s"grid $g: must be a positive multiple of 8")
    val bits = g * g
    val grid: Array[Long] = tryDecode(payload) match {
      case Some(img) =>
        val lum = lumaPixels(img); val w = img.getWidth; val h = img.getHeight
        Array.tabulate(bits) { i =>
          val y = i / g; val x = i % g
          lum((y * h / g) * w + (x * w / g)).toLong
        }
      case None =>
        if (payload == null || payload.isEmpty) return new Array[Long](bits / 64)
        Array.tabulate(bits) { i =>
          val y = i / g; val x = i % g
          val idx = math.min(payload.length - 1, (y * srcH / g) * srcW + (x * srcW / g))
          (payload(idx) & 0xff).toLong
        }
    }
    var sum = 0L; var i = 0
    while (i < bits) { sum += grid(i); i += 1 }
    val out = new Array[Long](bits / 64)
    i = 0
    while (i < bits) {
      if (grid(i) * bits.toLong > sum) out(i / 64) |= 1L << (i % 64)
      i += 1
    }
    out
  }

  /** 256-bit fingerprints `(media_id, phash: array<long>[4])` — same
    * mapPartitions batch shape as [[perceptualHash]].
    */
  def perceptualHash256(media: DataFrame): DataFrame =
    perceptualHashGrid(media, 16)

  /** G×G fingerprints `(media_id, phash: array<long>[g²/64])`. */
  def perceptualHashGrid(media: DataFrame, g: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", ArrayType(LongType, containsNull = false), nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val metaIdx = media.schema.fieldIndex("meta")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        val meta = if (r.isNullAt(metaIdx)) null else r.getStruct(metaIdx)
        val srcW = if (meta == null || meta.isNullAt(1)) g else meta.getInt(1)
        val srcH = if (meta == null || meta.isNullAt(2)) g else meta.getInt(2)
        Row(id, aHashGrid(payload, srcW, srcH, g).toSeq)
      }
    }(enc)
  }

  /** Perceptual fingerprints over the binary column — same mapPartitions
    * batch shape as [[extractFeatures]]; output `(media_id, phash)`.
    * The compact 64-bit key: right for storage/clustering columns;
    * [[phashNearDups]] pairs on the 256-bit [[perceptualHash256]] so its
    * banding keys keep pruning at corpus scale.
    */
  def perceptualHash(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val metaIdx = media.schema.fieldIndex("meta")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        val meta = if (r.isNullAt(metaIdx)) null else r.getStruct(metaIdx)
        val srcW = if (meta == null || meta.isNullAt(1)) 8 else meta.getInt(1)
        val srcH = if (meta == null || meta.isNullAt(2)) 8 else meta.getInt(2)
        Row(id, aHash(payload, srcW, srcH))
      }
    }(enc)
  }

  /** Near-duplicate image pairs by perceptual hash: pigeonhole banding —
    * the 256-bit fingerprint ([[perceptualHash256]]) splits into
    * `max(maxDist + 1, 4)` bands, and any pair within `maxDist` Hamming
    * bits agrees EXACTLY on at least one band (pigeonhole holds for ANY
    * band count > maxDist), so banding is a candidate filter with recall
    * 1.0 (not probabilistic like MinHash bands), verified by full
    * popcount. Output `(a, b, dist)`, a < b — provably ALL qualifying
    * pairs, `dist` in 256-bit Hamming units (the 16×16 grid: small
    * re-encodes land within a few bits, structural change tens of bits —
    * thresholds scale 4× vs the 64-bit hash).
    *
    * Scale shape: fingerprints are map-only; the exchange carries
    * (band_idx, band_bits, id, fp) tuples — `nBands` rows of ~50 bytes
    * per image, never payloads. At the default tolerance every band is
    * ≥ 32 bits wide (the ≥4 band floor caps width at 64, and
    * 256/(maxDist+1) ≥ 32 through maxDist = 7), so band-bucket sizes
    * are governed by true fingerprint collisions, not by a saturated
    * key space: the r8-filed defect — 64/7 ≈ 9-bit bands, ≤ 512
    * values, buckets ∝ n, candidates ∝ n²/512 — is retired by
    * construction at this design point (the catalog corpus's low-entropy
    * ASCII grids make the TRUE answer ∝ n² there — output size, not plan
    * shape). Recall-1.0 equality banding forces nBands ≥ maxDist+1, so
    * band width shrinks as g²/(maxDist+1): the TOLERANCE DIAL is the
    * `grid` parameter, not narrower bands — 16×16 carries maxDist ≤ 15
    * at ≥ 16-bit keys, 32×32 carries ≤ 63, 64×64 ≤ 255 — and the
    * require below rejects saturating combinations (the r8 defect
    * class) instead of silently degrading.
    */
  def phashNearDups(media: DataFrame, maxDist: Int = 6,
      grid: Int = 16): DataFrame = {
    val bits = grid * grid
    require(maxDist >= 0 && maxDist < bits)
    // key-width floor: below 16-bit band keys the value space saturates
    // (the r8 defect class) — a larger Hamming budget needs a FINER grid
    // (32×32 carries maxDist ≤ 63, 64×64 ≤ 255), not narrower bands
    require(bits / (maxDist + 1) >= 16,
      s"maxDist $maxDist saturates the $bits-bit fingerprint's band keys " +
        s"(${bits / (maxDist + 1)} bits); use a finer grid " +
        s"(grid*grid >= ${16 * (maxDist + 1)})")
    // ≥ bits/64 bands so every band fits a 64-bit key; extra bands never
    // break the pigeonhole guarantee (nBands > maxDist suffices)
    val nBands = math.max(maxDist + 1, bits / 64)
    // balanced band boundaries: the first (bits mod nBands) bands carry
    // one extra bit, so every band stays ≤ 64 wide
    val bounds = {
      val base = bits / nBands; val rem = bits % nBands
      (0 to nBands).map(b => b * base + math.min(b, rem))
    }
    // band bits [lo, hi) extracted from the little-endian long packing;
    // straddles a long boundary at most once (width ≤ 64)
    def bandKey(fp: Column, lo: Int, hi: Int): Column = {
      val j0 = lo / 64; val j1 = (hi - 1) / 64; val s = lo % 64; val w = hi - lo
      val mask = if (w == 64) lit(-1L) else lit((1L << w) - 1L)
      if (j0 == j1)
        shiftrightunsigned(element_at(fp, j0 + 1), s).bitwiseAND(mask)
      else
        shiftrightunsigned(element_at(fp, j0 + 1), s)
          .bitwiseOR(shiftleft(element_at(fp, j1 + 1), 64 - s))
          .bitwiseAND(mask)
    }
    val ph = perceptualHashGrid(media, grid)
    // COMPOUND band key (multi-index-hashing style): a band's bucket is
    // (band bits, complement-popcount bucket). If a pair within maxDist
    // agrees exactly on band b, its OTHER bands carry all ≤ maxDist
    // differing bits, so the complementary popcounts differ by ≤ maxDist
    // — bucketing cpc at width maxDist+1 and probing the adjacent bucket
    // on one side keeps recall exactly 1.0 while splitting the
    // degenerate hot buckets a low-entropy band otherwise forms
    // (constant bands are REAL at corpus scale: uniform sky rows, padded
    // scans — and the stub corpus's clamped short-document grids;
    // measured on the catalog corpus at sf0.1: 33.8M → 1.47M candidate
    // pairs, output unchanged).
    val totpc = aggregate(
      transform(col("phash"), x => bit_count(x).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val w = maxDist + 1
    val banded = ph.select(col("media_id"), col("phash"), totpc.as("tot"),
      posexplode(array((0 until nBands).map { b =>
        bandKey(col("phash"), bounds(b), bounds(b + 1))
      }: _*)))
      .toDF("id", "fp", "tot", "band", "bits")
      .withColumn("cpc", col("tot") - bit_count(col("bits")).cast("long"))
    val a = banded.select(col("band"), col("bits"),
      expr(s"cpc div $w").as("bkt"),
      col("id").as("a"), col("fp").as("fpa"))
    val b = banded.select(col("band"), col("bits"), col("cpc"),
        col("id").as("b"), col("fp").as("fpb"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("probe"))
      .withColumn("bkt", expr(s"cpc div $w") + col("probe"))
      .drop("probe", "cpc")
    val hamming = aggregate(
      zip_with(col("fpa"), col("fpb"), (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    a.join(b, Seq("band", "bits", "bkt")).where(col("a") < col("b"))
      .select(col("a"), col("b"), col("fpa"), col("fpb")).dropDuplicates("a", "b")
      .withColumn("dist", hamming)
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
  }

  /** Fallback resize for NON-IMAGE payloads: treat the payload as a
    * row-major `srcH`×`srcW` byte grid and nearest-neighbor sample it down
    * to `dstW`×`dstH` (flat index clamped into the actual payload, which
    * may be shorter than the declared grid).
    */
  private[operators] def resizeStub(payload: Array[Byte],
      srcW: Int, srcH: Int, dstW: Int, dstH: Int): Array[Byte] = {
    if (payload == null || payload.isEmpty) return Array.emptyByteArray
    Array.tabulate(dstW * dstH) { i =>
      val y = i / dstW
      val x = i % dstW
      val idx = math.min(payload.length - 1, (y * srcH / dstH) * srcW + (x * srcW / dstW))
      payload(idx)
    }
  }

  /** Real image resize: nearest-neighbor pixel sampling (the same
    * `y*srcH/dstH`, `x*srcW/dstW` index arithmetic as the byte fallback,
    * applied to decoded pixels — a hand-rolled loop, not Graphics2D, so
    * the mapping is integer-exact and JVM-independent), re-encoded as PNG
    * (lossless, so a spec can decode the output and assert exact pixels).
    */
  private[operators] def resizeImage(img: java.awt.image.BufferedImage,
      dstW: Int, dstH: Int): Array[Byte] = {
    val srcW = img.getWidth; val srcH = img.getHeight
    val out = new java.awt.image.BufferedImage(
      dstW, dstH, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < dstH) {
      var x = 0
      while (x < dstW) {
        out.setRGB(x, y, img.getRGB(x * srcW / dstW, y * srcH / dstH))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Media resize over the binary column — same `mapPartitions` batch
    * shape as [[extractFeatures]] (map-only, decoder state per partition),
    * emitting the resized payload with updated metadata.
    */
  def resize(media: DataFrame, dstW: Int, dstH: Int): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = true),
      StructField("meta", StructType(Seq(
        StructField("format", StringType, nullable = true),
        StructField("width", IntegerType, nullable = true),
        StructField("height", IntegerType, nullable = true),
        StructField("n_bytes", LongType, nullable = true))), nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    val idIdx = media.schema.fieldIndex("media_id")
    val payloadIdx = media.schema.fieldIndex("payload")
    val metaIdx = media.schema.fieldIndex("meta")
    media.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(idIdx)
        val payload = if (r.isNullAt(payloadIdx)) null else r.getAs[Array[Byte]](payloadIdx)
        // meta is declared nullable: a null meta row falls back to the
        // destination dimensions and a null format instead of NPE-ing
        val meta = if (r.isNullAt(metaIdx)) null else r.getStruct(metaIdx)
        // real images resize in the pixel domain (source dims come from
        // the decoded header, not the meta column) and come back as PNG;
        // everything else takes the declared-grid byte fallback
        tryDecode(payload) match {
          case Some(img) =>
            val out = resizeImage(img, dstW, dstH)
            Row(id, out, Row("png", dstW, dstH, out.length.toLong))
          case None =>
            val srcW = if (meta == null || meta.isNullAt(1)) dstW else meta.getInt(1)
            val srcH = if (meta == null || meta.isNullAt(2)) dstH else meta.getInt(2)
            val fmt = if (meta == null) null else meta.getString(0)
            val out = resizeStub(payload, srcW, srcH, dstW, dstH)
            Row(id, out, Row(fmt, dstW, dstH, out.length.toLong))
        }
      }
    }(enc)
  }

  /** "Frame sampling" over a binary payload: every `stride`-th byte window
    * as its own row (the video-frame analog; byte windows stand in for
    * decoded frames).
    */
  def frameSample(media: DataFrame, frameBytes: Int = 64, stride: Int = 4): DataFrame = {
    val span = frameBytes * stride
    val nFrames = greatest(
      floor(length(col("payload")).cast("double") / span).cast("int"), lit(1))
    media.select(col("media_id"),
      posexplode(transform(sequence(lit(0), nFrames - 1),
        i => call_function("substring", col("payload"), i * span + 1, lit(frameBytes)))))
      .toDF("media_id", "frame_idx", "frame_bytes")
  }
}
