package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column handling: media payloads travel as opaque `binary`
  * columns with typed metadata, the way a 100 TB training-data lake
  * stores images/audio/video next to text. The container has no media
  * codecs, so the DECODE step is a clearly-marked deterministic STUB
  * (`fakeDecode`); everything Spark-side — binary column, schema,
  * metadata extraction, partition-batched decode plumbing — is real.
  *
  * `multimodal_meta` is the oracle-checked projection (payload synthesis
  * + typed metadata, scan→project, no shuffle). `decodeBatched` is the
  * typed Dataset path: per-partition iteration in fixed-size batches,
  * the same shape a vectorized (Arrow/pandas-batch) decoder plugs into.
  */
object Multimodal {

  /** Decode batch size — the unit a real decoder would vectorize over. */
  val DecodeBatch = 64

  private def h48(hex: Column, from: Int): Column =
    conv(substring(hex, from, 6), 16, 10).cast("bigint")

  /** Payload synthesis (UTF-8 bytes of the doc text — the opaque blob
    * stand-in) + typed metadata: byte length, content md5, modality tag,
    * and stub-decoded dimensions/duration derived from the content hash.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    metaRows(spark, dir).orderBy(col("doc_id"))

  /** [[multimodalMeta]] without the presentation sort — composition
    * point for downstream passes (dedup) whose first shuffle would
    * destroy the order anyway.
    */
  private def metaRows(spark: SparkSession, dir: String): DataFrame = {
    val payload = encode(col("text"), "UTF-8")
    val dig = md5(payload)
    val modality = element_at(
      typedLit(Seq("image", "audio", "video")), (col("doc_id") % 3 + 1).cast("int"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        // hex, not raw binary: the driver's pandas-based comparer can't
        // sort bytearray cells; the typed binary stays internal
        lower(hex(payload)).as("payload_hex"),
        octet_length(payload).as("n_bytes"),
        dig.as("payload_md5"),
        modality.as("modality"),
        when(modality =!= "audio", (h48(dig, 1) % 1857 + 64).cast("int")).as("width"),
        when(modality =!= "audio", (h48(dig, 7) % 1017 + 64).cast("int")).as("height"),
        when(modality =!= "image", round(((h48(dig, 13) % 36000).cast("double")) / 100.0, 6)).as("duration_s"))
  }

  /** Content-hash dedup over the BINARY payloads — the baseline
    * multimodal dedup pass (identical images/clips recur constantly in
    * scraped corpora; byte-identical dedup runs before any perceptual
    * hashing). Same single-shuffle window shape as the text dedups,
    * keyed on (modality, payload_md5): keep-first by doc_id, every row
    * carries its verdict and copy count.
    */
  def multimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("modality"), col("payload_md5"))
    val wOrd = w.orderBy(col("doc_id"))
    metaRows(spark, dir)
      .select(col("doc_id"), col("modality"), col("payload_md5"), col("n_bytes"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_kept", row_number().over(wOrd) === 1)
      .orderBy(col("doc_id"))
  }

  /** Target shard size (bytes) for the export packer. */
  private val ShardBytes = 65536L

  /** Shard packing — the EXPORT step of a multimodal lake (webdataset/
    * tar-shard creation for dataloaders): assets stream into fixed-size
    * shards per modality, each asset placed at a byte offset in its
    * shard sequence. Same integer window math as the text-side
    * `corpus_pack_contexts` (running byte total per modality →
    * floor-division shard ids), because stream-concatenation packing IS
    * the shape: no greedy loop, no driver. An asset whose span crosses
    * a boundary reports both shards (real tar packers either split
    * there or round the shard up — either policy reads off these
    * columns). The running byte total is the two-phase
    * [[CorpusOps.keyedCumsum]], so 3 modalities does not mean 3 tasks.
    */
  def multimodalShardPack(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.packStream(
      metaRows(spark, dir)
        .select(col("doc_id"), col("modality"), col("n_bytes").cast("bigint").as("n_bytes")),
      partCol = "modality", sizeCol = "n_bytes", unit = ShardBytes,
      outPrefix = "shard", offCols = ("byte_off", "off_in_shard"))
      .select("doc_id", "modality", "n_bytes", "byte_off",
        "shard_first", "shard_last", "off_in_shard")
      .orderBy(col("doc_id"))

  /** Legacy byte-window fingerprint parameters: 4-byte feature windows
    * at stride 1, 16-bit fingerprint, 4 bands of 4 bits, Hamming
    * radius 3. Still the fingerprint of the `multimodal_phash` dump
    * (one codegen'd scan) and the streaming admission probe; the PAIR
    * search over it is spec-only — 4-bit bands have 2^4 buckets and
    * go pigeonhole-quadratic, so the oracle-checked pair queries all
    * run on the 64-bit DCT fingerprint with 16-bit bands.
    */
  private val PhashWindow = 4
  private val PhashBands = 4
  private[graft] val PhashRadius = 3

  /** 16-bit perceptual fingerprint over the BINARY payload — the
    * near-dup pass byte-exact `multimodal_dedup` cannot make: a
    * re-encoded thumbnail or a clip with retouched metadata changes its
    * md5 but not most of its content. Features are deterministic
    * sliding byte windows (`PhashWindow` bytes, stride 1, the
    * codec-free stand-in for pHash's DCT blocks — a real image
    * pipeline swaps the window hash for a frequency-domain feature at
    * the `decodeBatched` seam, the banding machinery is identical);
    * each window hashes to 16 bits and the fingerprint is the per-bit
    * MAJORITY over all windows, so flipping a few bytes flips a few
    * window votes, not the fingerprint. Map-side explode + one
    * aggregation per payload — work ∝ total payload bytes, the scan
    * cost any fingerprint pass pays.
    */
  def multimodalPhash(spark: SparkSession, dir: String): DataFrame =
    phashFingerprints(phashMeta(spark, dir)).orderBy(col("doc_id"))

  /** Banded perceptual near-dup PAIRS within each modality — the
    * SELF-CONTAINED coarse-banded search over the 64-bit DCT
    * fingerprints (4 bands × 16 bits, radius [[DctRadiusCoarse]]:
    * lossless by pigeonhole, 2^16 buckets per band so bucket occupancy
    * is ∝ n/65536). This query computes the fingerprints inline;
    * [[multimodalPhashDctPairsR3]] is its served twin reading the
    * persisted artifact. The legacy 16-bit byte-window pair search
    * ([[phashPairsOver]]) had only 2^4 buckets per 4-bit band —
    * pigeonhole-quadratic candidate growth (it was the fleet's #1
    * shuffler at sf0.1) — and is retained spec-only as the banding-
    * machinery exemplar over plantable payloads.
    */
  def multimodalPhashPairs(spark: SparkSession, dir: String): DataFrame =
    dctPairsOver(dctFingerprints(spark, dir).localCheckpoint(), DctRadiusCoarse)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The (doc_id, modality, payload_hex, payload_md5) projection the
    * perceptual pass consumes.
    */
  private def phashMeta(spark: SparkSession, dir: String): DataFrame =
    metaRows(spark, dir)
      .select(col("doc_id"), col("modality"), col("payload_hex"), col("payload_md5"))

  /** Fingerprints over any (doc_id, modality, payload_hex, payload_md5)
    * relation — exposed so specs can plant near-identical payloads.
    *
    * The whole fingerprint is ONE map-side call of the native
    * [[graft.functions.Phash16]] expression (integer window mixing +
    * per-bit majority inside a codegen'd loop): scan in, scan out —
    * no per-byte-offset explode, no 16-column vote aggregation. The
    * md5-per-window predecessor spent a cryptographic hash per payload
    * BYTE and was the dominant cost of the multimodal fleet.
    */
  private[graft] def phashFingerprints(meta: DataFrame): DataFrame =
    meta.select(col("doc_id"), col("modality"), col("payload_md5"),
      call_function("phash16", col("payload_hex")).as("phash"))

  /** The banded pair search over any phash-able meta relation. */
  /** Banded fingerprint keys over any phash-able meta relation: each
    * fingerprint unpivots to its `PhashBands` 4-bit band keys — the
    * probe/index relation both the batch pair search and the streaming
    * admission path share (pigeonhole: any pair within `PhashRadius`
    * agrees on at least one whole band).
    */
  private[graft] def phashBandKeysOf(meta: DataFrame): DataFrame =
    phashFingerprints(meta)
      .select(col("doc_id"), col("modality"), col("payload_md5"), col("phash"),
        explode(array((0 until PhashBands).map(b => struct(
          lit(b).as("band_idx"),
          shiftright(col("phash"), 4 * b).bitwiseAND(lit(15L)).as("band_bits"))): _*)).as("bb"))
      .select(col("doc_id"), col("modality"), col("payload_md5"), col("phash"),
        col("bb.band_idx"), col("bb.band_bits"))

  private[graft] def phashPairsOver(meta: DataFrame): DataFrame = {
    // both self-join sides read the fingerprints: checkpoint so the
    // per-byte window explode + 16 vote sums run once (the
    // dedup_simhash_pairs discipline)
    val bands = phashBandKeysOf(meta).localCheckpoint()
    val a = bands.select(col("modality"), col("doc_id").as("doc_a"),
      col("phash").as("fa"), col("payload_md5").as("ma"),
      col("band_idx"), col("band_bits"))
    val b = bands.select(col("modality"), col("doc_id").as("doc_b"),
      col("phash").as("fb"), col("payload_md5").as("mb"),
      col("band_idx"), col("band_bits"))
    a.join(b, Seq("modality", "band_idx", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select("modality", "doc_a", "doc_b", "fa", "fb", "ma", "mb").distinct()
      .withColumn("hamming", expr("bit_count(fa ^ fb)").cast("long"))
      .filter(col("hamming") <= PhashRadius)
      .select(col("modality"), col("doc_a"), col("doc_b"), col("hamming"),
        (col("ma") === col("mb")).as("byte_identical"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // --- typed batched-decode plumbing (spec-covered, not oracle-able) ---

  case class MediaRow(doc_id: Long, payload: Array[Byte], modality: String)
  case class DecodedRow(doc_id: Long, modality: String, n_bytes: Int,
      width: Int, height: Int, batch_ordinal: Int)

  /** STUB decoder: a real implementation would hand `batch` to an image
    * /audio library (e.g. via Arrow) and return pixel/sample features.
    * Here it derives deterministic fake dimensions from the payload so
    * the plumbing is testable without codecs.
    */
  private def fakeDecode(batch: Seq[MediaRow], ordinal: Int): Seq[DecodedRow] =
    batch.map { r =>
      val n = r.payload.length
      DecodedRow(r.doc_id, r.modality, n, 64 + n % 1857, 64 + (n * 31) % 1017, ordinal)
    }

  /** Partition-batched decode: each partition is consumed in
    * `DecodeBatch`-sized chunks (bounded memory, vectorizable), the
    * Scala analogue of `mapInPandas` batch iteration.
    */
  def decodeBatched(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(DecodeBatch).zipWithIndex.flatMap { case (batch, i) => fakeDecode(batch, i) }
    }
  }

  // --- DCT perceptual hash over the decoded luma plane ---

  /** Decoded luma grid edge: the classic pHash preprocessing size. */
  val LumaGrid = 32

  /** Low-frequency block kept from the DCT: 8×8 = 64 hash bits. */
  val DctBlock = 8

  case class LumaRow(doc_id: Long, modality: String, luma: Array[Double])
  case class DctHashRow(doc_id: Long, modality: String, phash64: Long)

  /** Luma fixed-point scale: planes are quantized to 1/256 of a byte
    * level, so every value the transform consumes is an exact integer
    * `round(luma · 256)` — the repo-wide integer-scaled discipline that
    * makes the DuckDB oracle an exact replay instead of a float race.
    */
  private[graft] val LumaScale = 256L

  /** STUB luma decode — the codec seam's imaging half: a real
    * implementation hands the payload to an image/video decoder and
    * downsamples the luma channel to `LumaGrid`²; here each grid cell
    * averages its byte slice of the payload, so near-identical payloads
    * produce near-identical planes (the property the perceptual hash
    * needs) without any codec in the container. Deterministic, pure;
    * the average is floor-quantized to 1/[[LumaScale]] so the cell
    * value is an exact dyadic rational both engines reproduce.
    */
  private[graft] def fakeLuma(payload: Array[Byte]): Array[Double] = {
    val cells = LumaGrid * LumaGrid
    val out = new Array[Double](cells)
    val n = payload.length
    if (n == 0) return out
    var i = 0
    while (i < cells) {
      val from = (i.toLong * n / cells).toInt
      val to = math.max(from + 1, ((i + 1).toLong * n / cells).toInt)
      var s = 0L; var j = from
      while (j < to) { s += payload(j) & 0xff; j += 1 }
      out(i) = (s * LumaScale / (to - from)).toDouble / LumaScale
      i += 1
    }
    out
  }

  /** Fixed-point scale of the quantized DCT basis. 2^14 keeps the
    * worst-case separable transform inside int64 (|b| ≤ 2^12, luma ≤
    * 2^16, 32-term sums twice → < 2^61) while the quantization error
    * (~1e-4 relative) is orders of magnitude below the coefficient
    * spread a perceptual hash discriminates on.
    */
  private[graft] val BasisScale = 1L << 14

  /** Orthonormal DCT-II basis, cos((2x+1)uπ/2N) with the α(u) norm,
    * quantized to integers at [[BasisScale]]. Rows u ≥ 1 are corrected
    * to EXACT zero sum (the residual — a few rounding units — is folded
    * into the largest-magnitude entry), so a constant luma offset moves
    * ONLY the DC coefficient: brightness invariance holds exactly in
    * integer arithmetic, not just approximately.
    */
  private[graft] lazy val dctBasisQ: Array[Array[Long]] = {
    val n = LumaGrid
    val rows = Array.tabulate(DctBlock) { u =>
      val a = if (u == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n)
      Array.tabulate(n)(x =>
        math.rint(a * math.cos((2 * x + 1) * u * math.Pi / (2 * n)) * BasisScale).toLong)
    }
    var u = 1
    while (u < DctBlock) {
      val r = rows(u).sum
      if (r != 0L) {
        var best = 0; var x = 1
        while (x < n) { if (math.abs(rows(u)(x)) > math.abs(rows(u)(best))) best = x; x += 1 }
        rows(u)(best) -= r
      }
      u += 1
    }
    rows
  }

  /** The REAL pHash recipe (the published DCT method: Zauner 2010,
    * "Implementation and Benchmarking of Perceptual Image Hash
    * Functions"): 2-D DCT-II of the 32×32 luma plane, keep the
    * low-frequency `DctBlock`² block, threshold each coefficient at
    * the MEDIAN of the block's non-DC coefficients — 64 bits that
    * survive resizing/re-encoding noise because they encode coarse
    * frequency structure, not bytes. Separable transform: 2·8·32
    * dot-products of length 32 per plane — a few k mults, constant
    * per payload. All arithmetic is int64 over the quantized basis
    * ([[dctBasisQ]]) and the ×[[LumaScale]] plane, so the fingerprint
    * is bit-replayable by the DuckDB oracle (no float summation-order
    * dependence anywhere).
    */
  private[graft] def dctPhash64(luma: Array[Double]): Long = {
    val n = LumaGrid; val b = DctBlock
    val li = new Array[Long](n * n)
    var i = 0
    while (i < n * n) { li(i) = math.rint(luma(i) * LumaScale).toLong; i += 1 }
    // rows first: r(u, y) = Σx basisQ(u)(x) · li(x, y)
    val r = Array.ofDim[Long](b, n)
    var u = 0
    while (u < b) {
      var y = 0
      while (y < n) {
        var s = 0L; var x = 0
        while (x < n) { s += dctBasisQ(u)(x) * li(x * n + y); x += 1 }
        r(u)(y) = s; y += 1
      }
      u += 1
    }
    val coef = new Array[Long](b * b)
    u = 0
    while (u < b) {
      var v = 0
      while (v < b) {
        var s = 0L; var y = 0
        while (y < n) { s += dctBasisQ(v)(y) * r(u)(y); y += 1 }
        coef(u * b + v) = s; v += 1
      }
      u += 1
    }
    // 63 non-DC coefficients: the median is the single rank-32 element
    // (odd count), an exact integer — no float averaging of middles
    val sortedNonDc = coef.drop(1).sorted
    val med = sortedNonDc(sortedNonDc.length / 2)
    var h = 0L; i = 0
    while (i < b * b) { if (coef(i) > med) h |= 1L << i; i += 1 }
    h
  }

  /** Batched luma decode — the same bounded-chunk `mapPartitions`
    * shape as [[decodeBatched]] (one seam discipline for every codec
    * stage).
    */
  def decodeLumaBatched(media: Dataset[MediaRow]): Dataset[LumaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map(r =>
        LumaRow(r.doc_id, r.modality, fakeLuma(r.payload))))
    }
  }

  /** Re-encode synthesis: every `ReencodeMod`-th doc contributes a
    * second media row (id + offset, SAME modality) whose payload has a
    * few low bits flipped — the lossy re-encode/resize copy scraped
    * corpora are full of, which byte-exact dedup cannot catch. Same
    * inject-the-phenomenon pattern as the containment excerpts
    * (Dedup.ExcerptMod) and the PII scrub's planted matches: the
    * corpus holds no same-modality perceptual-only near-dups of its
    * own, so the operator's target is synthesized deterministically.
    */
  private[graft] val ReencodeMod = 17

  /** Variant-id offset: one past the corpus's max doc_id, derived at
    * runtime (a parquet-statistics max, no data scan), so synthesized
    * re-encode ids can NEVER alias a real document at any scale factor
    * — a fixed constant would silently corrupt the pair semantics the
    * moment a dataset carries doc_ids above it.
    */
  private[graft] def reencodeIdOffset(spark: SparkSession, dir: String): Long =
    Tables.documents(spark, dir).agg(max(col("doc_id"))).head.getLong(0) + 1L

  private def reencode(p: Array[Byte]): Array[Byte] = {
    val out = p.clone()
    var i = 0
    while (i < out.length) { out(i) = (out(i) ^ 1).toByte; i += 509 }
    out
  }

  /** DCT perceptual fingerprints end-to-end from the decoded plane:
    * payload → batched luma decode → separable DCT → median-threshold
    * hash — the honest perceptual claim ([[multimodalPhash]]'s
    * `phash16` byte-window mix is the codec-free stand-in; this path
    * derives its bits from frequency structure of the DECODED plane,
    * with only the decode itself stubbed). The corpus is augmented
    * with the [[reencode]] variants so the perceptual-only match class
    * exists. Work ∝ payloads, map-side only. Because every step is
    * integer-disciplined (floor-quantized luma, quantized basis, int64
    * transform), the oracle replays the whole derivation — decode, DCT,
    * median threshold — term for term in DuckDB; the spec additionally
    * pins the algebra (brightness invariance, mode placement, noise
    * robustness).
    */
  def multimodalPhashDct(spark: SparkSession, dir: String): DataFrame =
    dctFingerprints(spark, dir).orderBy(col("doc_id"))

  /** The re-encode-augmented media relation the DCT queries run over:
    * corpus payloads plus the synthesized variant rows.
    */
  private[graft] def augmentedMedia(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val offset = reencodeIdOffset(spark, dir)
    val media = metaRows(spark, dir)
      .select(col("doc_id"), unhex(col("payload_hex")).as("payload"), col("modality"))
      .as[MediaRow]
    val variants = media.filter((r: MediaRow) => r.doc_id % ReencodeMod == 0)
      .map(r => MediaRow(r.doc_id + offset, reencode(r.payload), r.modality))
    media.union(variants)
  }

  /** DCT fingerprints (doc_id, modality, phash64) over any media
    * relation — the map-side payload → luma → DCT → threshold chain.
    * Per-row independent, so the relation is ADDITIVE: a batch's
    * fingerprints never change the existing ones, which is what makes
    * the maintained fingerprint table a pure insert
    * ([[IndexMaintenance.refreshPhash]]).
    */
  private[graft] def dctFingerprintsOf(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    decodeLumaBatched(media)
      .map(l => DctHashRow(l.doc_id, l.modality, dctPhash64(l.luma)))
      .toDF()
  }

  private[graft] def dctFingerprints(spark: SparkSession, dir: String): DataFrame =
    dctFingerprintsOf(augmentedMedia(spark, dir))

  /** The fingerprint relation SERVED from its write-once bucketed
    * artifact ([[graft.sources.ArtifactStore]]): the decode + DCT pass
    * runs once per JVM, every perceptual-dedup query reads the table —
    * completing the serving story for the perceptual side the way
    * `dedup_sigs` completes it for the text side.
    */
  private[graft] def servedDctFingerprints(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "phash_dct", "doc_id", 8)(
      dctFingerprints(spark, dir))

  /** Banding radius for DCT pairs: the published ≤10/64-bit near-dup
    * cut; 16 four-bit bands make the banded search lossless to radius
    * 15 (pigeonhole), so every ≤10 pair is found by an equi-join.
    */
  val DctRadius = 10
  private val DctBands = 16

  /** Perceptual near-dup pairs over the DCT fingerprints — the same
    * banded equi-join discipline as [[multimodalPhashPairs]], never
    * payloads².
    */
  def multimodalPhashDctPairs(spark: SparkSession, dir: String): DataFrame =
    dctPairsOver(dctFingerprints(spark, dir).localCheckpoint())
      .orderBy(col("doc_a"), col("doc_b"))

  /** The pairs query SERVED from the persisted fingerprint table —
    * per-query cost is the banded self-join probe alone, the decode +
    * DCT training pass amortized across every caller. Shares the base
    * query's oracle SQL (identical result by construction).
    */
  def multimodalPhashDctPairsServed(spark: SparkSession, dir: String): DataFrame =
    dctPairsOver(servedDctFingerprints(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The banding lossless at Hamming `radius`, as (band_idx, lo_bit,
    * width): `radius + 1` near-equal bands over the 64 bits — the
    * minimum band count pigeonhole-lossless at `radius` (`radius`
    * flips cannot touch every band), with the WIDEST buckets that
    * count allows. At [[DctRadius]] = 10 (the exact search, r12) that
    * is 11 uneven bands of width 5-6: candidate mass per modality is
    * Σ_bands occupancy² ∝ n²·Σ 2^−width = 0.20 n², versus the old
    * uniform 16×4's 16·n²/16 = n² — ~5× fewer candidates for the
    * identical result set (any lossless banding yields the same pairs,
    * so the DuckDB oracle's uniform banding replays unchanged). At
    * [[DctRadiusCoarse]] = 3 it is the coarse search's 4 × 16 bits.
    */
  private def bandsFor(radius: Int): Seq[(Int, Int, Int)] = {
    val cuts = (0 to radius + 1).map(b => 64 * b / (radius + 1))
    cuts.sliding(2).toSeq.zipWithIndex.map {
      case (Seq(lo, hi), i) => (i, lo, hi - lo)
    }
  }

  /** Band keys of a fingerprint relation under [[bandsFor]]`(radius)`
    * — the probe/index shape the batch pair search, the incremental
    * refresh, and the capped search all share.
    */
  private def dctBandsOf(fp: DataFrame, radius: Int): DataFrame =
    fp.select(col("doc_id"), col("modality"), col("phash64"),
      explode(array(bandsFor(radius).map { case (i, lo, w) => struct(
        lit(i).as("band_idx"),
        shiftright(col("phash64"), lo)
          .bitwiseAND(lit((1L << w) - 1)).as("band_bits"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("modality"), col("phash64"),
        col("bb.band_idx"), col("bb.band_bits"))

  /** The DCT band bucket: pairs never cross a modality. */
  private val DctBucket = Seq("modality", "band_idx", "band_bits")

  /** The banded pair search within each modality: pairs sharing a band
    * key under [[bandsFor]]`(radius)`, Hamming-verified to `radius` —
    * [[dctNewPairs]] over an empty base. The base is an empty local
    * relation, not `fp.limit(0)`: the optimizer drops it before
    * constant folding, so the probe folds to the plain self-join.
    */
  private[graft] def dctPairsOver(fp: DataFrame, radius: Int = DctRadius): DataFrame =
    dctNewPairs(fp, fp.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), fp.schema), radius)

  /** The distinct (modality, doc_a, doc_b, fa, fb) candidate pairs of a
    * [[Dedup.bandProbe]] over (…, phash64) keys whose fingerprints lie
    * within Hamming `radius`, with the distance.
    */
  private def withinRadius(cand: DataFrame, radius: Int): DataFrame =
    cand.select(col("modality"), col("doc_a"), col("doc_b"),
        col("phash64_a").as("fa"), col("phash64_b").as("fb"))
      .distinct()
      .withColumn("hamming", expr("bit_count(fa ^ fb)").cast("long"))
      .filter(col("hamming") <= radius)
      .select("modality", "doc_a", "doc_b", "hamming")

  /** The coarse-banded production operating point: 4 bands × 16 bits,
    * lossless to radius [[DctRadiusCoarse]]. The exact ≤10 search's
    * banding ([[bandsFor]] at radius 10: 11 uneven 5-6-bit bands
    * since r12) is lossless at the full cut but its buckets are at most 2^6 wide —
    * occupancy grows ∝ n and candidates ∝ 0.2 n² (quadratic however
    * banded: 11 bands cannot be wider). 16-bit bands give 2^16
    * buckets per band: occupancy ∝ n/2^16, the same pigeonhole
    * machinery at the coarseness a billion-image corpus actually runs
    * (every planted re-encode variant sits at hamming ≤ 2, well
    * inside the coarse radius — spec-pinned banded ≡ brute-force at
    * radius 3). Reads the served fingerprint artifact: this IS the
    * production form.
    */
  val DctRadiusCoarse = 3
  /** PERCEPTUAL Hamming sensitivity — [[Dedup.dedupSimhashSensitivity]]
    * with the DCT family's OBSERVED column: the exact search's banding
    * ([[bandsFor]] at radius 10) is lossless at the full ≤10 cut, so
    * its pair mass at h ∈ [0, 10] is the TRUE pair count per distance, and the
    * analytic columns price the
    * production operating points against real mass — rows with
    * p_b4x16 = 1.0 are exactly what the coarse `_r3` form catches
    * (the spec asserts that equality against the r3 query itself),
    * and the mass × probability product beyond them is the recall the
    * coarse form trades for its 2^16-wide buckets. Same exact-rational
    * analytic table as the simhash twin (shared [[Dedup.bandRecall6]]
    * literals on both sides).
    *
    * Scale note (r12, the [[AnnSearch.annLshSensitivity]] discipline):
    * the fine search's 4-bit buckets make its candidates ∝ n²/16, so
    * the audit samples the fingerprint relation IN-QUERY down to
    * ~[[PhashCalibTarget]] rows (modulus = ⌈n/target⌉ from a 1-row
    * broadcast count, deterministic md5-hash-mod membership replayed
    * identically by the oracle) and scales observed mass by mod².
    * Below the target mod = 1 and the observed column is the exact
    * TRUE mass (all spec claims — including p=1.0 mass ≡ the coarse
    * r3 count — are stated there); above it the column is the
    * unbiased estimate, which is what a banding audit needs.
    */
  def multimodalPhashSensitivity(spark: SparkSession, dir: String): DataFrame =
    multimodalPhashSensitivityAt(spark, dir, PhashCalibTarget)

  /** Calibration-sample size target for the perceptual audit. */
  private val PhashCalibTarget = 1000

  /** [[multimodalPhashSensitivity]] with an explicit target — exposed
    * so specs can force mod > 1 on the small test corpora.
    */
  private[graft] def multimodalPhashSensitivityAt(
      spark: SparkSession, dir: String, target: Int): DataFrame = {
    import spark.implicits._
    val grid = (0 to 16).map { h =>
      (h.toLong, Dedup.bandRecall6(64, 4, h).toDouble,
        Dedup.bandRecall6(64, 8, h).toDouble,
        Dedup.bandRecall6(64, 16, h).toDouble)
    }.toDF("hamming", "p_b4x16", "p_b8x8", "p_b16x4")
    val fp = servedDctFingerprints(spark, dir)
    val modRow = fp.agg(count(lit(1)).as("n_fp"))
      .select(greatest(lit(1L),
        ceil(col("n_fp") / lit(target.toDouble)).cast("long")).as("smod"))
    val sampled = fp.crossJoin(broadcast(modRow))
      .filter(AnnSearch.sampleHash(col("doc_id")) % col("smod") === 0)
      .drop("smod")
    val observed = dctPairsOver(sampled)
      .groupBy(col("hamming").cast("long").as("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
    grid.join(observed, Seq("hamming"), "left")
      .crossJoin(broadcast(modRow))
      .withColumn("n_pairs_obs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("n_pairs", col("n_pairs_obs") * col("smod") * col("smod"))
      .withColumn("sample_mod", col("smod"))
      .select("hamming", "n_pairs", "n_pairs_obs", "sample_mod",
        "p_b4x16", "p_b8x8", "p_b16x4")
      .orderBy("hamming")
  }

  def multimodalPhashDctPairsR3(spark: SparkSession, dir: String): DataFrame =
    dctPairsOver(servedDctFingerprints(spark, dir), DctRadiusCoarse)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Bucket-occupancy threshold and sorted-window width of the CAPPED
    * fine pair search — the perceptual instance of the pair tier's
    * candidate levers ([[Dedup.BucketCliqueCap]] precedent, same
    * operating values): a fine-band bucket with ≤ `DctCliqueCap`
    * members emits its full clique (lossless there); a denser bucket
    * emits sorted-window edges, each member pairing with its next
    * `DctWindow` successors in (phash64, doc_id) order, read off one
    * window pass ([[Dedup.successors]]) — the candidate step's WORK,
    * not only its output, is ∝ occupancy·w. The sort key is the
    * FINGERPRINT first, not the doc id: identical fingerprints
    * (the dominant mass in a re-encode-heavy corpus) become CONTIGUOUS
    * runs, so every exact-dup pair within w of each other in its run
    * is kept and near-identical fingerprints sort adjacent more often
    * than random ids would — the sorted-neighborhood method with a
    * similarity-correlated key (Hernández & Stolfo, SIGMOD 1995).
    */
  private[graft] val DctCliqueCap = 16
  private[graft] val DctWindow = 8

  /** The FINE (radius ≤ [[DctRadius]]) pair search's BOUNDED
    * production twin — the last of the named organic super-linear
    * movers to get one (fusion → `ann_rrf_fusion_capped`, pairs →
    * `dedup_pairs_capped`, admission → `dedup_incremental_capped`,
    * spans → `dedup_exact_spans_capped`): the fine search's expected
    * candidate mass is ∝ n²/2^width (width 5-6 per band of
    * [[bandsFor]] at radius 10),
    * and the r15 organic point measured the occupancy crossing — byte
    * exp 2.96 at ×10. The coarse `_r3` form is the per-segment
    * production tool at 2^16-wide buckets; THIS form keeps the full
    * ≤ 10 radius corpus-wide at bounded cost: candidate mass ∝
    * n·(cap + w) per band at ANY corpus, never occupancy². Every
    * emitted pair carries its EXACT Hamming distance (verification is
    * the same bit_count filter — only candidate attribution is
    * capped); pair recall vs the uncapped fine search is measured, not
    * assumed (DedupCappedSpec states the number, floors pinned). Own
    * DuckDB oracle replaying the engine's exact uneven banding, gate,
    * and window — the lossless "any banding" aliasing of the uncapped
    * oracles does NOT hold for a capped build, so the oracle carries
    * the [[bandsFor]] layout at radius 10 literally.
    */
  def multimodalPhashDctPairsCapped(spark: SparkSession, dir: String): DataFrame =
    cappedDctPairsOver(servedDctFingerprints(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The capped fine pair search over any (doc_id, modality, phash64)
    * relation — exposed for specs (planted dense buckets) and the
    * scale bench.
    */
  private[graft] def cappedDctPairsOver(fp: DataFrame): DataFrame = {
    // dense buckets sort by (phash64, doc_id) — identical fingerprints
    // contiguous; successor pairs need doc-id normalization because
    // that order is NOT doc_id order
    val marked = Dedup.successors(dctBandsOf(fp, DctRadius), DctBucket,
        Seq(col("phash64"), col("doc_id")), DctWindow, Seq("doc_id", "phash64"))
      .localCheckpoint(false) // both clique sides + the successor side
    val clique = Dedup.bandProbe(
        Dedup.allNew(marked.filter(col("occ") <= DctCliqueCap)), DctBucket)
      .select("modality", "doc_a", "doc_b", "phash64_a", "phash64_b")
    val windowed = marked.filter(col("occ") > DctCliqueCap)
      .select(col("modality"), col("doc_id").as("da"), col("phash64").as("fra"),
        explode(col("next")).as("nxt"))
      .select(col("modality"),
        least(col("da"), col("nxt.doc_id")).as("doc_a"),
        greatest(col("da"), col("nxt.doc_id")).as("doc_b"),
        when(col("da") < col("nxt.doc_id"), col("fra")).otherwise(col("nxt.phash64")).as("phash64_a"),
        when(col("da") < col("nxt.doc_id"), col("nxt.phash64")).otherwise(col("fra")).as("phash64_b"))
    withinRadius(clique.union(windowed), DctRadius)
  }

  /** New perceptual pairs introduced by a fingerprint batch: batch
    * band keys against base ∪ batch ([[Dedup.bandProbe]] keyed
    * (modality, band_idx, band_bits), carrying phash64) — old-vs-old
    * is never re-examined, and because fingerprints are per-row
    * immutable the pair relation is additive, so maintained-pairs ∪
    * new-pairs equals the from-scratch build (the invariant
    * IndexMaintenanceSpec pins). Work ∝ batch × touched band buckets.
    */
  private[graft] def dctNewPairs(batchFp: DataFrame, baseFp: DataFrame,
      radius: Int = DctRadius): DataFrame =
    withinRadius(Dedup.bandProbe(Dedup.tagged(dctBandsOf(baseFp, radius),
      dctBandsOf(batchFp, radius)), DctBucket), radius)

  /** Frame sampling for the video rows: up to `MaxFrames` evenly-spaced
    * sample timestamps per clip, derived from the stub-decoded duration
    * — `sequence` + `explode`, so sampling is pure plan work that scales
    * with row count (a real decoder then seeks each (payload, frame_ts)
    * pair in the batched-decode path).
    */
  val MaxFrames = 8
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame = {
    val meta = metaRows(spark, dir)
      .filter(col("modality") === "video")
      .select(col("doc_id"), col("duration_s"))
    val nFrames = least(lit(MaxFrames), greatest(lit(1), ceil(col("duration_s")).cast("int")))
    meta
      .withColumn("n_frames", nFrames)
      .withColumn("frame_idx", explode(sequence(lit(0), col("n_frames") - 1)))
      .withColumn("frame_ts", round(col("frame_idx") * col("duration_s") / col("n_frames"), 6))
      .select("doc_id", "n_frames", "frame_idx", "frame_ts")
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Resize planning for the visual rows: fit-within-`FitBox` target
    * dimensions preserving aspect ratio, never upscaling. All-INTEGER
    * arithmetic (`w * box div max(w,h)`) so both engines produce the
    * identical pixel dims — float scale factors would differ in
    * rounding. This is the metadata half of a resize stage; the pixel
    * work belongs to the batched-decode seam (`decodeBatched`).
    */
  val FitBox = 224
  def multimodalResize(spark: SparkSession, dir: String): DataFrame = {
    val mx = greatest(col("width"), col("height")).cast("bigint")
    val needs = mx > FitBox
    metaRows(spark, dir)
      .filter(col("modality") =!= "audio")
      .select(
        col("doc_id"), col("modality"), col("width"), col("height"),
        when(needs, expr(s"CAST(width AS BIGINT) * $FitBox div greatest(width, height)"))
          .otherwise(col("width").cast("bigint")).cast("int").as("target_w"),
        when(needs, expr(s"CAST(height AS BIGINT) * $FitBox div greatest(width, height)"))
          .otherwise(col("height").cast("bigint")).cast("int").as("target_h"),
        needs.as("is_downscaled"))
      .orderBy(col("doc_id"))
  }

  /** Fixed 5-second window chunking for the audio rows — the unit a
    * speech/audio featurizer consumes. `sequence` + `explode` plan
    * work, same shape as frame sampling.
    */
  val ChunkSeconds = 5
  def multimodalAudioChunks(spark: SparkSession, dir: String): DataFrame = {
    val nChunks = greatest(lit(1), ceil(col("duration_s") / ChunkSeconds).cast("int"))
    metaRows(spark, dir)
      .filter(col("modality") === "audio")
      // a zero-length clip has no windows to tile; without this guard a
      // duration_s of exactly 0.0 (possible: the md5-derived hash can be
      // ≡ 0 mod 36000) would emit a degenerate [0.0, 0.0) chunk
      .filter(col("duration_s") > 0)
      .select(col("doc_id"), col("duration_s"))
      .withColumn("n_chunks", nChunks)
      .withColumn("chunk_idx", explode(sequence(lit(0), col("n_chunks") - 1)))
      .withColumn("chunk_start", (col("chunk_idx") * ChunkSeconds).cast("double"))
      .withColumn("chunk_end",
        round(least(col("duration_s"), (col("chunk_idx") + 1) * lit(ChunkSeconds.toDouble)), 6))
      .select("doc_id", "n_chunks", "chunk_idx", "chunk_start", "chunk_end")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_meta"   -> (multimodalMeta _),
    "multimodal_frames" -> (multimodalFrames _),
    "multimodal_resize" -> (multimodalResize _),
    "multimodal_audio_chunks" -> (multimodalAudioChunks _),
    "multimodal_dedup"  -> (multimodalDedup _),
    "multimodal_phash"  -> (multimodalPhash _),
    "multimodal_phash_pairs" -> (multimodalPhashPairs _),
    "multimodal_phash_dct" -> (multimodalPhashDct _),
    "multimodal_phash_dct_pairs" -> (multimodalPhashDctPairs _),
    "multimodal_phash_dct_pairs_served" -> (multimodalPhashDctPairsServed _),
    "multimodal_phash_dct_pairs_r3" -> (multimodalPhashDctPairsR3 _),
    "multimodal_phash_dct_pairs_capped" -> (multimodalPhashDctPairsCapped _),
    "multimodal_phash_sensitivity" -> (multimodalPhashSensitivity _),
    "multimodal_shard_pack" -> (multimodalShardPack _))

  /** Fingerprint CTEs ending in `ph(doc_id, modality, payload_md5,
    * phash)` — shared by the fingerprint and pair oracles. Relational
    * replay of [[graft.functions.Phash16]] term for term: per-window
    * 32-bit word → two multiplicative rounds + xor-fold → 16-bit hash
    * → per-bit majority. All arithmetic is non-negative int64, `//` and
    * `%` agree with the JVM loop exactly; bytes past the payload end
    * read as 0 (the `CASE WHEN ... <= n_bytes` guards).
    */
  private val phashCtes: String = {
    val votes = (0 until 16).map { b =>
      s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val fp = (0 until 16).map { b =>
      s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    val bytes = (0 until PhashWindow).map { k =>
      s"""CASE WHEN s.s + $k <= n_bytes
         |      THEN CAST(('0x' || substr(payload_hex, (s.s + $k - 1) * 2 + 1, 2)) AS BIGINT)
         |      ELSE 0 END AS b$k""".stripMargin
    }.mkString(",\n    ")
    s"""meta AS (
       |  SELECT doc_id,
       |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
       |    lower(hex(encode(text))) AS payload_hex,
       |    octet_length(encode(text)) AS n_bytes,
       |    md5(text) AS payload_md5
       |  FROM documents),
       |winbytes AS (
       |  SELECT doc_id, modality, payload_md5,
       |    $bytes
       |  FROM meta, unnest(generate_series(1, greatest(1, n_bytes - ${PhashWindow - 1}))) s(s)),
       |mix1 AS (
       |  SELECT doc_id, modality, payload_md5,
       |    ((b0 * 16777216 + b1 * 65536 + b2 * 256 + b3) * 49157) % 2147483648 AS h1
       |  FROM winbytes),
       |mix2 AS (
       |  SELECT doc_id, modality, payload_md5,
       |    (xor(h1, h1 // 32768) * 40503) % 2147483648 AS h3
       |  FROM mix1),
       |wins AS (
       |  SELECT doc_id, modality, payload_md5, (h3 // 32768) % 65536 AS h
       |  FROM mix2),
       |v AS (SELECT doc_id, modality, payload_md5, $votes FROM wins GROUP BY 1, 2, 3),
       |ph AS (SELECT doc_id, modality, payload_md5, $fp AS phash FROM v)""".stripMargin
  }

  /** DCT-fingerprint CTEs ending in `ph64(doc_id, modality, phash64)` —
    * an exact relational replay of payload → [[fakeLuma]] →
    * [[dctPhash64]], shared by the fingerprint and pair oracles. The
    * quantized basis [[dctBasisQ]] is embedded as a literal VALUES
    * table (single source of truth: the same array the JVM multiplies
    * by), luma cells are the floor-quantized byte averages, the
    * separable transform is two integer sum-joins, and the median is
    * the rank-32 element of the 63 non-DC coefficients. Every sum is
    * order-free int64; `//`/`%`/`>>`/`&`/`xor`/`bit_count` agree with
    * the JVM on negatives (truncating division, arithmetic shift,
    * two's complement), so the 64-bit fingerprints hash-match exactly.
    * Bit 63 cannot be built as `1 << 63` in DuckDB (overflow check):
    * it contributes Long.MinValue directly, summed in HUGEINT and cast.
    */
  private lazy val dctCtes: String = {
    val cells = LumaGrid * LumaGrid
    val basisRows = (for (u <- 0 until DctBlock; x <- 0 until LumaGrid)
      yield s"($u,$x,${dctBasisQ(u)(x)})").mkString(", ")
    val byteAt =
      "CAST(('0x' || substr(ph, p.p * 2 + 1, 2)) AS BIGINT)"
    s"""docs AS (
       |  SELECT doc_id, lower(hex(encode(text))) AS ph,
       |    octet_length(encode(text)) AS n,
       |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS modality
       |  FROM documents),
       |maxid AS (SELECT max(doc_id) + 1 AS off FROM documents),
       |media AS (
       |  SELECT doc_id, modality, ph, n, FALSE AS variant FROM docs
       |  UNION ALL
       |  SELECT doc_id + off, modality, ph, n, TRUE
       |  FROM docs, maxid WHERE doc_id % $ReencodeMod = 0),
       |basis AS (SELECT * FROM (VALUES $basisRows) b(u, x, w)),
       |cells AS (
       |  SELECT m.doc_id, m.modality, m.variant, m.ph, c.i AS ci,
       |    (c.i * m.n) // $cells AS frm,
       |    greatest((c.i * m.n) // $cells + 1, ((c.i + 1) * m.n) // $cells) AS upto
       |  FROM media m, unnest(generate_series(0, ${cells - 1})) c(i)),
       |lum AS (
       |  SELECT doc_id, modality, ci,
       |    CAST(sum(CASE WHEN variant AND p.p % 509 = 0
       |      THEN xor($byteAt, 1) ELSE $byteAt END) AS BIGINT)
       |      * $LumaScale // (upto - frm) AS li
       |  FROM cells, unnest(generate_series(frm, upto - 1)) p(p)
       |  GROUP BY doc_id, modality, ci, upto, frm),
       |rp AS (
       |  SELECT l.doc_id, l.modality, b.u, l.ci % $LumaGrid AS y,
       |    CAST(sum(b.w * l.li) AS BIGINT) AS r
       |  FROM lum l JOIN basis b ON b.x = l.ci // $LumaGrid
       |  GROUP BY 1, 2, 3, 4),
       |cf AS (
       |  SELECT r.doc_id, r.modality, r.u * $DctBlock + b.u AS bit,
       |    CAST(sum(b.w * r.r) AS BIGINT) AS coef
       |  FROM rp r JOIN basis b ON b.x = r.y
       |  GROUP BY 1, 2, 3),
       |med AS (
       |  SELECT doc_id, coef AS med FROM (
       |    SELECT doc_id, coef,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
       |    FROM cf WHERE bit > 0)
       |  WHERE rn = 32),
       |ph64 AS (
       |  SELECT c.doc_id, c.modality,
       |    CAST(sum(CASE WHEN c.coef > m.med THEN
       |      CASE WHEN c.bit = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
       |           ELSE CAST(1::BIGINT << c.bit AS HUGEINT) END
       |      ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS phash64
       |  FROM cf c JOIN med m USING (doc_id)
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The uniform-4-bit-banded DCT pair-search oracle over fingerprints
    * passing `where` — shared by the full-corpus oracles (where = TRUE)
    * and the maintenance-tier subset oracle ([[MaintQueries]]). Any
    * LOSSLESS banding yields the same pair set at radius ≤
    * [[DctRadius]] (pigeonhole), so this one replay oracles every
    * engine-side banding, including the r12 11-uneven-band form.
    */
  private[graft] def dctPairsOracleWhere(where: String): String =
    s"""WITH $dctCtes,
       |fps AS (SELECT * FROM ph64 WHERE $where),
       |${bandCandCtes("fps", DctBands, 4)}
       |${pairsFromCand(DctRadius)}""".stripMargin

  /** The coarse 4 × 16-bit banded pair oracle over every fingerprint. */
  private lazy val coarsePairsOracle: String =
    s"""WITH $dctCtes,
       |${bandCandCtes("ph64", 4, 16)}
       |${pairsFromCand(DctRadiusCoarse)}""".stripMargin

  /** `bands` (uniform `bits`-wide bands 0 until `nBands` of `from`'s
    * fingerprints) and `cand` (the distinct same-band pairs within a
    * modality, doc_a < doc_b, with both fingerprints) CTEs.
    */
  private def bandCandCtes(from: String, nBands: Int, bits: Int): String =
    s"""bands AS (
       |  SELECT doc_id, modality, phash64,
       |    b.b AS band_idx, (phash64 >> ($bits * b.b)) & ${(1L << bits) - 1} AS band_bits
       |  FROM $from, generate_series(0, ${nBands - 1}) b(b)),
       |cand AS (
       |  SELECT DISTINCT a.modality, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.phash64 AS fa, b.phash64 AS fb
       |  FROM bands a JOIN bands b
       |    ON a.modality = b.modality AND a.band_idx = b.band_idx
       |    AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id)""".stripMargin

  /** The `cand` pairs within Hamming `radius`, ordered. */
  private def pairsFromCand(radius: Int): String =
    s"""SELECT modality, doc_a, doc_b,
       |  CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= $radius
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The capped fine search's own oracle — unlike the uncapped
    * oracles (where any lossless banding yields the same pairs, so one
    * uniform replay covers every engine banding), a CAPPED build's
    * answer depends on the exact banding, so this replays the engine's
    * [[bandsFor]] layout at radius 10 literally (the VALUES rows are
    * generated from the same Scala sequence — zero drift surface), plus the
    * occupancy gate and the (phash64, doc_id)-sorted window.
    */
  private lazy val cappedDctPairsOracle: String = {
    val bandRows = bandsFor(DctRadius)
      .map { case (i, lo, w) => s"($i, $lo, $w)" }.mkString(", ")
    s"""WITH $dctCtes,
       |fb(band_idx, lo, w) AS (VALUES $bandRows),
       |bands AS (
       |  SELECT p.doc_id, p.modality, p.phash64, fb.band_idx,
       |    (p.phash64 >> fb.lo) & ((CAST(1 AS BIGINT) << fb.w) - 1) AS band_bits
       |  FROM ph64 p, fb),
       |bocc AS (
       |  SELECT modality, band_idx, band_bits, count(*) AS c
       |  FROM bands GROUP BY 1, 2, 3),
       |marked AS (
       |  SELECT b.doc_id, b.modality, b.phash64, b.band_idx, b.band_bits, o.c
       |  FROM bands b JOIN bocc o ON b.modality = o.modality
       |    AND b.band_idx = o.band_idx AND b.band_bits = o.band_bits),
       |dense AS (
       |  SELECT modality, band_idx, band_bits, doc_id, phash64,
       |    row_number() OVER (PARTITION BY modality, band_idx, band_bits
       |      ORDER BY phash64, doc_id) AS r
       |  FROM marked WHERE c > $DctCliqueCap),
       |cand AS (
       |  SELECT DISTINCT modality, doc_a, doc_b, fa, fb FROM (
       |    SELECT a.modality, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      a.phash64 AS fa, b.phash64 AS fb
       |    FROM marked a JOIN marked b
       |      ON a.modality = b.modality AND a.band_idx = b.band_idx
       |      AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
       |    WHERE a.c <= $DctCliqueCap
       |    UNION ALL
       |    SELECT x.modality,
       |      least(x.doc_id, y.doc_id) AS doc_a,
       |      greatest(x.doc_id, y.doc_id) AS doc_b,
       |      CASE WHEN x.doc_id < y.doc_id THEN x.phash64 ELSE y.phash64 END AS fa,
       |      CASE WHEN x.doc_id < y.doc_id THEN y.phash64 ELSE x.phash64 END AS fb
       |    FROM dense x JOIN dense y
       |      ON x.modality = y.modality AND x.band_idx = y.band_idx
       |      AND x.band_bits = y.band_bits
       |      AND y.r > x.r AND y.r <= x.r + $DctWindow) u)
       |SELECT modality, doc_a, doc_b,
       |  CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= $DctRadius
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the served twin computes the identical relation from the
    // persisted fingerprint table — same oracle (the established
    // served/indexed aliasing convention)
    "multimodal_phash_dct_pairs_served" -> dctPairsOracleWhere("TRUE"),
    "multimodal_phash_dct_pairs_r3" -> coarsePairsOracle,
    "multimodal_phash_dct" ->
      s"""WITH $dctCtes
         |SELECT doc_id, modality, phash64 FROM ph64
         |ORDER BY doc_id""".stripMargin,
    "multimodal_phash_dct_pairs" -> dctPairsOracleWhere("TRUE"),
    "multimodal_phash_dct_pairs_capped" -> cappedDctPairsOracle,
    "multimodal_phash" ->
      s"""WITH $phashCtes
         |SELECT doc_id, modality, payload_md5, phash FROM ph
         |ORDER BY doc_id""".stripMargin,
    "multimodal_phash_sensitivity" -> {
      val rows = (0 to 16).map { h =>
        s"($h, ${graft.operators.Dedup.bandRecall6(64, 4, h)}, " +
          s"${graft.operators.Dedup.bandRecall6(64, 8, h)}, " +
          s"${graft.operators.Dedup.bandRecall6(64, 16, h)})"
      }.mkString(",\n  ")
      s"""WITH $dctCtes,
         |smod AS (
         |  SELECT greatest(1, CAST(ceil(count(*) / $PhashCalibTarget.0) AS BIGINT)) AS m
         |  FROM ph64),
         |samp AS (
         |  SELECT p.* FROM ph64 p, smod
         |  WHERE CAST(('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % smod.m = 0),
         |${bandCandCtes("samp", DctBands, 4)},
         |obs AS (
         |  SELECT CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming,
         |    count(*) AS n_pairs
         |  FROM cand WHERE bit_count(xor(fa, fb)) <= $DctRadius
         |  GROUP BY 1),
         |grid(hamming, p_b4x16, p_b8x8, p_b16x4) AS (VALUES
         |  $rows)
         |SELECT CAST(g.hamming AS BIGINT) AS hamming,
         |  CAST(coalesce(n_pairs, 0) * smod.m * smod.m AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs_obs,
         |  CAST(smod.m AS BIGINT) AS sample_mod,
         |  g.p_b4x16, g.p_b8x8, g.p_b16x4
         |FROM grid g LEFT JOIN obs ON obs.hamming = g.hamming, smod
         |ORDER BY hamming""".stripMargin
    },
    // the self-contained coarse-banded twin of _r3 — identical result
    // by construction (same fingerprints, same bands, same radius), so
    // it shares the r3 oracle recipe
    "multimodal_phash_pairs" -> coarsePairsOracle,
    "multimodal_shard_pack" ->
      """WITH meta AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_bytes) OVER (PARTITION BY modality ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM meta)
        |SELECT doc_id, modality, CAST(n_bytes AS BIGINT) AS n_bytes,
        |  CAST(cum - n_bytes AS BIGINT) AS byte_off,
        |  CAST((cum - n_bytes) // 65536 AS BIGINT) AS shard_first,
        |  CAST(greatest((cum - 1) // 65536, (cum - n_bytes) // 65536) AS BIGINT) AS shard_last,
        |  CAST((cum - n_bytes) % 65536 AS BIGINT) AS off_in_shard
        |FROM c ORDER BY doc_id""".stripMargin,
    "multimodal_dedup" ->
      """WITH meta AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |    md5(text) AS payload_md5,
        |    octet_length(encode(text)) AS n_bytes
        |  FROM documents)
        |SELECT doc_id, modality, payload_md5, n_bytes,
        |  count(*) OVER (PARTITION BY modality, payload_md5) AS n_copies,
        |  (row_number() OVER (PARTITION BY modality, payload_md5 ORDER BY doc_id) = 1)
        |    AS is_kept
        |FROM meta ORDER BY doc_id""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        |  lower(hex(encode(text))) AS payload_hex,
        |  octet_length(encode(text)) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |  CASE WHEN doc_id % 3 <> 1 THEN CAST(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 1857 + 64 AS INT) END AS width,
        |  CASE WHEN doc_id % 3 <> 1 THEN CAST(CAST(('0x' || substr(md5(text), 7, 6)) AS BIGINT) % 1017 + 64 AS INT) END AS height,
        |  CASE WHEN doc_id % 3 <> 0 THEN round(CAST(CAST(('0x' || substr(md5(text), 13, 6)) AS BIGINT) % 36000 AS DOUBLE) / 100.0, 6) END AS duration_s
        |FROM documents ORDER BY doc_id""".stripMargin,
    "multimodal_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
        |    CAST(CAST(('0x' || substr(md5(text), 1, 6)) AS BIGINT) % 1857 + 64 AS INT) AS width,
        |    CAST(CAST(('0x' || substr(md5(text), 7, 6)) AS BIGINT) % 1017 + 64 AS INT) AS height
        |  FROM documents WHERE doc_id % 3 <> 1)
        |SELECT doc_id, modality, width, height,
        |  CAST(CASE WHEN greatest(width, height) > 224
        |       THEN CAST(width AS BIGINT) * 224 // greatest(width, height)
        |       ELSE width END AS INT) AS target_w,
        |  CAST(CASE WHEN greatest(width, height) > 224
        |       THEN CAST(height AS BIGINT) * 224 // greatest(width, height)
        |       ELSE height END AS INT) AS target_h,
        |  (greatest(width, height) > 224) AS is_downscaled
        |FROM m ORDER BY doc_id""".stripMargin,
    "multimodal_audio_chunks" ->
      """WITH aud AS (
        |  SELECT doc_id,
        |    round(CAST(CAST(('0x' || substr(md5(text), 13, 6)) AS BIGINT) % 36000 AS DOUBLE) / 100.0, 6) AS duration_s
        |  FROM documents WHERE doc_id % 3 = 1),
        |chunked AS (
        |  SELECT doc_id, duration_s,
        |    greatest(1, CAST(ceil(duration_s / 5) AS INT)) AS n_chunks
        |  FROM aud WHERE duration_s > 0)
        |SELECT doc_id, n_chunks, c.i AS chunk_idx,
        |  CAST(c.i * 5 AS DOUBLE) AS chunk_start,
        |  round(least(duration_s, CAST((c.i + 1) * 5 AS DOUBLE)), 6) AS chunk_end
        |FROM chunked, unnest(generate_series(0, n_chunks - 1)) c(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "multimodal_frames" ->
      """WITH vid AS (
        |  SELECT doc_id,
        |    round(CAST(CAST(('0x' || substr(md5(text), 13, 6)) AS BIGINT) % 36000 AS DOUBLE) / 100.0, 6) AS duration_s
        |  FROM documents WHERE doc_id % 3 = 2),
        |framed AS (
        |  SELECT doc_id, duration_s,
        |    least(8, greatest(1, CAST(ceil(duration_s) AS INT))) AS n_frames
        |  FROM vid)
        |SELECT doc_id, n_frames, f.i AS frame_idx,
        |  round(f.i * duration_s / n_frames, 6) AS frame_ts
        |FROM framed, unnest(generate_series(0, n_frames - 1)) f(i)
        |ORDER BY doc_id, frame_idx""".stripMargin)
}
