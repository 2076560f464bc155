package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextAnalysis.{gram, windows, words}

/** Corpus deduplication operators — the scale additions a training-data
  * pipeline needs on top of the reference's per-catalog dedup:
  * exact (content-hash groupBy), MinHash+LSH banding, SimHash, LSH-
  * candidate + exact n-gram Jaccard verification, and embedding-cosine
  * near-dup pairs.
  *
  * All hashing is md5-derived so Spark results and DuckDB oracles agree
  * bit-for-bit. Every operator is one or two shuffles on an explicit key
  * (content hash, doc id, band bucket) — no unblocked cross joins, so
  * the plans scale linearly with corpus size.
  */
object Dedup {

  private val NumHashes = 16
  private val BandSize = 2 // 8 bands of 2 → ~0.9 recall at jaccard 0.5
  private val NumBands = NumHashes / BandSize
  private[operators] val JaccardThreshold = 0.5

  /** 32-bit integer hash of a string expression, stable across engines. */
  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("bigint")
  private def h32Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  /** Exact dedup: cluster by content hash, canonical = min doc id. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("content_hash"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
      .orderBy(col("doc_id"))
  }

  /** Distinct word-bigram shingles per document: one row per
    * (doc_id, gram). The shingle relation is the shared input of the
    * minhash and jaccard operators.
    */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir))

  /** The same shingle explode over an arbitrary (doc_id, text) relation
    * — shared with [[dedupContainment]]'s excerpt-augmented corpus. The
    * `ids` columns are carried onto every shingle row. A document of
    * fewer than two tokens has no bigram and yields no rows.
    */
  private[graft] def shinglesOf(docs: DataFrame, ids: Seq[String] = Seq("doc_id")): DataFrame =
    docs
      .select(ids.map(col) :+ words(col("text")).as("toks"): _*)
      .select(ids.map(col) :+
        explode(array_distinct(windows("toks", 2)((_, ws) => gram(ws)))).as("gram"): _*)

  private def shinglesCteOver(rel: String) =
    s"""sh AS (
       |  SELECT DISTINCT doc_id, gram FROM (
       |    SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
       |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM $rel) d,
       |         unnest(generate_series(1, len(toks) - 1)) t(i)))""".stripMargin

  /** Universal-hash family over a single md5-derived base hash:
    * h_j(x) = (g(x) * (2j+1) + j*K) mod P — ONE md5 per shingle, 16
    * multiply-adds, instead of 16 md5 evaluations (16× less string
    * hashing in the hot aggregation).
    */
  private val HashP = 4294967291L // largest 32-bit prime
  private val HashK = 2654435761L // Knuth multiplicative constant
  private def hj(g: Column, j: Int): Column = (g * (2 * j + 1) + lit(j * HashK)) % HashP
  private def hjSql(g: String, j: Int): String = s"($g * ${2 * j + 1} + ${j * HashK}) % $HashP"

  /** MinHash signature (16-member universal hash family over bigram
    * shingles) + banded LSH bucket keys. Single aggregation over the
    * exploded shingle relation → map-side partial min, one shuffle on
    * doc_id.
    */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashFromShingles(shingles(spark, dir)).orderBy(col("doc_id"))

  /** The minhash aggregation over an existing shingle relation —
    * factored out so `dedupNgramJaccard` can feed the SAME materialized
    * shingles to signature generation and to Jaccard verification (one
    * corpus explode instead of two), and without the presentation sort.
    */
  private def minhashFromShingles(sh: DataFrame): DataFrame = {
    // doc_id, plus the shingles' other carried columns (the probe tag)
    val ids = sh.columns.filterNot(_ == "gram").map(col).toSeq
    val mins = (0 until NumHashes).map { j =>
      min(hj(col("g"), j)).as(s"m$j")
    }
    val bands = (0 until NumBands).map { b =>
      val parts = (0 until BandSize).map(i => col(s"m${b * BandSize + i}").cast("string"))
      substring(md5(concat_ws(",", parts: _*)), 1, 16).as(s"band$b")
    }
    sh
      .select(ids :+ h32(col("gram")).as("g"): _*)
      .groupBy(ids: _*)
      .agg(mins.head, mins.tail: _*)
      .select(ids ++ (0 until NumHashes).map(j => col(s"m$j")) ++ bands: _*)
  }

  /** Banded signature keys (doc_id, band_idx, bk) over any (doc_id,
    * text) relation — the probe relation shared by the incremental
    * admission operator and the streaming admission path
    * ([[graft.streaming.StreamOps.nearDupAdmissionStream]]).
    */
  private[graft] def bandKeysOf(docs: DataFrame): DataFrame =
    bandKeys(minhashFromShingles(shinglesOf(docs)))

  /** The band-key unpivot of a signature relation: its `band*` columns
    * to (doc_id, band_idx, bk) rows, one per band, carrying the
    * signature's other non-hash columns (the probe tag).
    */
  private def bandKeys(sig: DataFrame): DataFrame =
    sig.select(sig.columns.filterNot(_.matches("(m|band)\\d+")).map(col).toSeq :+ posexplode(
        array((0 until NumBands).map(b => col(s"band$b")): _*)).as(Seq("band_idx", "bk")): _*)

  /** The minhash bucket of a band-key relation. */
  private val BandBucket = Seq("band_idx", "bk")

  /** The banded candidate probe — the one body behind every near-dup
    * pair search (text bands here, DCT bands in [[Multimodal]]) and
    * the admission probes. `keys` holds (doc_id, is_new, bucket
    * columns…, carried columns…). Each batch key (`is_new`) meets every
    * member of its bucket, with one equi-join on the bucket columns:
    * old-vs-old pairs are never formed, and two batch docs pair once,
    * the later one as the new side. Output: the bucket columns, the
    * directed pair (new_id, cand_id), the pair normalized to
    * doc_a < doc_b, and every other column `c` of both sides as `c_a`,
    * `c_b`. Over all-new keys ([[allNew]]) it is the bucket self-join,
    * and the normalization folds to plain columns. A batch may repeat
    * a base doc_id (a retried batch whose other sub-table already
    * committed it): the base copy pairs with the other batch keys, never
    * with its own batch copy.
    */
  private[operators] def bandProbe(keys: DataFrame,
      bucket: Seq[String] = BandBucket): DataFrame = {
    val carried = keys.columns.filterNot(c => c == "doc_id" || bucket.contains(c)).toSeq
    def side(s: String) = keys.select(bucket.map(col) ++
      (col("doc_id").as(s"id_$s") +: carried.map(c => col(c).as(s"${c}_$s"))): _*)
    // a batch candidate always has the smaller id
    val candFirst = col("is_new_cand") || col("id_cand") < col("id_new")
    side("new").filter(col("is_new_new")).join(side("cand"), bucket)
      .filter((!col("is_new_cand") && col("id_cand") =!= col("id_new")) ||
        col("id_cand") < col("id_new"))
      .select(bucket.map(col) ++ Seq(col("id_new").as("new_id"), col("id_cand").as("cand_id")) ++
        (("id" -> "doc") +: carried.map(c => c -> c)).flatMap { case (c, out) => Seq(
          when(candFirst, col(s"${c}_cand")).otherwise(col(s"${c}_new")).as(s"${out}_a"),
          when(candFirst, col(s"${c}_new")).otherwise(col(s"${c}_cand")).as(s"${out}_b"))
        }: _*)
  }

  /** `keys` with every row a batch row: [[bandProbe]] over it is the
    * full build's bucket self-join.
    */
  private[operators] def allNew(keys: DataFrame): DataFrame =
    keys.withColumn("is_new", lit(true))

  /** The sorted-window successor probe — the one body behind every
    * capped family's DENSE buckets: the sorted-neighbourhood method
    * (Hernández & Stolfo, SIGMOD 1995). One window pass over `keys`,
    * partitioned by the `bucket` columns and ordered by `order`, gives
    * each member row its bucket's occupancy `occ` and, as `next`, its
    * next `w` members in that order (structs of the `carried` columns;
    * fewer at the bucket's end). No join anywhere: a bucket of
    * occupancy n costs n·w lead reads, never n².
    */
  private[graft] def successors(keys: DataFrame, bucket: Seq[String],
      order: Seq[Column], w: Int, carried: Seq[String]): DataFrame = {
    val byKey = Window.partitionBy(bucket.map(col): _*).orderBy(order: _*)
    val member = struct(carried.map(col): _*)
    keys
      .withColumn("occ", count(lit(1)).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("next", array_compact(array((1 to w).map(i => lead(member, i).over(byKey)): _*)))
  }

  /** The base rows tagged `is_new = false` and the batch rows (same
    * columns) tagged `true`, as one relation: the probe's input.
    */
  private[operators] def tagged(base: DataFrame, batch: DataFrame): DataFrame =
    base.withColumn("is_new", lit(false)).union(batch.withColumn("is_new", lit(true)))

  /** Exact shingle-set verification counts of an (a, b) pair relation
    * over a (doc_id, gram) shingle relation: the intersection count
    * n_inter plus both set sizes (na, nb). Every Jaccard and
    * containment verdict reads these three counts.
    */
  private def interSizes(pairs: DataFrame, sh: DataFrame, a: String, b: String): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    pairs
      .join(sh.select(col("doc_id").as(a), col("gram")), a)
      .join(sh.select(col("doc_id").as(b), col("gram")), Seq(b, "gram"))
      .groupBy(a, b).agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as(a), col("n_grams").as("na")), a)
      .join(sizes.select(col("doc_id").as(b), col("n_grams").as("nb")), b)
  }

  /** Exact Jaccard from the [[interSizes]] counts, 6-dp rounded. */
  private def jaccardOf: Column =
    round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6)

  /** The verified pair relation (doc_a, doc_b, n_inter, jaccard):
    * candidates whose exact Jaccard reaches [[JaccardThreshold]].
    */
  private def verifiedPairs(pairs: DataFrame, sh: DataFrame): DataFrame =
    interSizes(pairs, sh, "doc_a", "doc_b")
      .withColumn("jaccard", jaccardOf)
      .filter(col("jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "n_inter", "jaccard")

  private def minhashCteOver(rel: String): String = {
    val mins = (0 until NumHashes)
      .map(j => s"min(${hjSql("g", j)}) AS m$j").mkString(", ")
    val bands = (0 until NumBands).map { b =>
      val parts = (0 until BandSize).map(i => s"CAST(m${b * BandSize + i} AS VARCHAR)")
      s"substr(md5(${parts.mkString(" || ',' || ")}), 1, 16) AS band$b"
    }.mkString(", ")
    s"""${shinglesCteOver(rel)},
       |shg AS (SELECT doc_id, ${h32Sql("gram")} AS g FROM sh),
       |mh AS (SELECT doc_id, $mins FROM shg GROUP BY doc_id),
       |sig AS (SELECT *, $bands FROM mh)""".stripMargin
  }
  private val minhashCte: String = minhashCteOver("documents")

  /** LSH-candidate near-dup pairs verified with exact bigram Jaccard.
    * Candidates = documents sharing any LSH band bucket (union over
    * bands, each a self-equi-join on the bucket key — shuffle stays on
    * the bucket, never all-pairs); verification joins the shingle
    * relation to count the exact intersection.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(Tables.documents(spark, dir))

  /** The full banded-candidate + verified-Jaccard pair build over any
    * (doc_id, text) relation: [[ngramJaccardNewPairs]] over an empty
    * base, sorted. The corpus query above and the served pair
    * artifact run it.
    */
  private[graft] def ngramJaccardOf(docs: DataFrame): DataFrame =
    ngramJaccardNewPairs(docs.limit(0), docs).orderBy("doc_a", "doc_b")

  /** Shingle rows (observed on the eager shingle checkpoint) from which
    * the pair search materializes its candidate set before verifying:
    * the verify join then plans on the exact candidate size, where with
    * the band-join fan-out estimate it broadcast the gram relation and
    * probed the pairs from one coalesced partition. Below it the extra
    * job is pure overhead. Placed between walls at 4 cores (full
    * result, one JVM, alternating): 25,709 rows (500 docs) ran faster
    * without it, 128,058 rows (2,500 docs) and more with it.
    */
  private[graft] val WideShingleRows = 80000L

  /** Only the NEW near-dup pairs an ingest batch introduces: the
    * batch's band keys probe the combined signature relation
    * ([[bandProbe]] — never old-vs-old, the [[dedupIncremental]]
    * discipline), verified with exact Jaccard, doc_a < doc_b. Union
    * with the pre-batch pair table ≡ the from-scratch build over the
    * combined corpus (band keys are per-document, so the candidate
    * relation is split-invariant) — the invariant IndexMaintenanceSpec
    * pins. Work ∝ batch × touched buckets plus the base's shingles.
    * The batch's doc_ids must not be in the base: a repeated document
    * would count its shingles twice.
    */
  private[graft] def ngramJaccardNewPairs(baseDocs: DataFrame,
      batchDocs: DataFrame): DataFrame = {
    val docs = tagged(baseDocs.select("doc_id", "text"), batchDocs.select("doc_id", "text"))
    // ONE explode: the materialized shingles feed the signatures AND
    // the verification joins. localCheckpoint, not cache: its blocks
    // are released by the context cleaner once the result is dropped,
    // where cache() entries stay in the CacheManager until unpersisted
    // (on a cluster prefer reliable checkpoint(): these blocks die with
    // their executor). Its row count is observed on the way, without a
    // job of its own
    val shingleRows = Observation()
    val sh = shinglesOf(docs, Seq("doc_id", "is_new"))
      .observe(shingleRows, count(lit(1)).as("rows")).localCheckpoint()
    // NOT clustered on the bucket: on a duplicate-heavy corpus the
    // bucket key is exactly the skewed one (measured 4.16 s vs 3.10 s
    // at 32 cores when the join was pinned to bucket-hash partitions)
    val keys = bandKeys(minhashFromShingles(sh)).localCheckpoint()
    val pairs = bandProbe(keys).select("doc_a", "doc_b").distinct()
    val materialize = shingleRows.get("rows").asInstanceOf[Long] >= WideShingleRows
    verifiedPairs(if (materialize) pairs.localCheckpoint() else pairs, sh)
  }

  /** Span width for the prefix-filter pass. Prefix filtering REQUIRES
    * discriminative set elements: on this corpus the bigram vocabulary
    * collapses to ~1k types across 5000 docs (measured, templated
    * text), so 63% of ALL doc pairs share a bigram and no exact
    * candidate scheme can prune — the bigram-set near-dup question is
    * what MinHash compression (dedupNgramJaccard) is FOR. Five-token
    * spans are near-unique outside genuine near-dups (the
    * text_repeated_spans width), so the rarity-ordered prefix join's
    * keys are actually selective and candidate volume tracks true
    * near-dup mass.
    */
  private val PrefixShingleN = 5

  /** PREFIX-FILTERED exact Jaccard pairs — the AllPairs/PPJoin
    * candidate principle (Chaudhuri et al. SSJoin 2006; Xiao et al.
    * PPJoin 2008) as the LOSSLESS alternative to MinHash-LSH
    * candidates: order every doc's shingles by global rarity
    * (document frequency, gram tie-break), keep only each doc's
    * (|A| − ⌈t·|A|⌉ + 1)-prefix, and self-join on the prefix grams.
    * The prefix lemma guarantees every pair with Jaccard ≥ t shares a
    * gram inside both prefixes, so — unlike LSH banding, which is
    * probabilistic recall — the candidates provably contain EVERY
    * qualifying pair, and the oracle is the pure declarative all-pairs
    * definition (the driver check IS the losslessness proof). Runs at
    * the [[PrefixShingleN]]-gram span scale where set elements are
    * selective (see that constant for why bigrams degenerate). Exact
    * verification then mirrors [[dedupNgramJaccard]]'s confirm join.
    */
  def dedupPrefixFilter(spark: SparkSession, dir: String): DataFrame = {
    val sh = CorpusOps.grams(Tables.documents(spark, dir), PrefixShingleN).localCheckpoint()
    val dfreq = sh.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    val perDoc = Window.partitionBy(col("doc_id"))
    val prefix = sh.join(dfreq, "gram")
      .withColumn("pos", row_number().over(byDoc))
      .withColumn("n_grams", count(lit(1)).over(perDoc))
      .filter(col("pos") <=
        col("n_grams") - ceil(col("n_grams") * JaccardThreshold) + 1)
      .select(col("doc_id"), col("gram"))
      .localCheckpoint() // both self-join sides read it
    val pairs = prefix.select(col("doc_id").as("doc_a"), col("gram"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("gram")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifiedPairs(pairs, sh).orderBy("doc_a", "doc_b")
  }

  /** Signature-ESTIMATED Jaccard for the LSH candidate pairs: the
    * fraction of agreeing minhash components is an unbiased estimate of
    * the true Jaccard, computed from the 16-value signatures alone — no
    * shingle join, no second corpus pass. At 100 TB this estimate IS
    * the dedup filter (the signature relation is tiny next to the
    * shingle relation); exact verification (`dedupNgramJaccard`) runs
    * only on survivors when bit-exact decisions are required.
    */
  def dedupMinhashEst(spark: SparkSession, dir: String): DataFrame =
    candMatchCounts(spark, dir)
      .withColumn("est_jaccard",
        round(col("n_match") / lit(NumHashes.toDouble), 6))
      .filter(col("est_jaccard") >= JaccardThreshold)
      .select("doc_a", "doc_b", "est_jaccard")
      .orderBy("doc_a", "doc_b")

  /** Banded candidate pairs with their signature agreement count
    * (doc_a, doc_b, n_match) — shared by the estimate filter and the
    * sensitivity audit.
    */
  private def candMatchCounts(spark: SparkSession, dir: String): DataFrame = {
    val sig = minhashFromShingles(shingles(spark, dir)).localCheckpoint()
    val pairs = bandProbe(allNew(bandKeys(sig))).select("doc_a", "doc_b").distinct()
    val a = sig.select(col("doc_id").as("doc_a") +:
      (0 until NumHashes).map(j => col(s"m$j").as(s"a$j")): _*)
    val b = sig.select(col("doc_id").as("doc_b") +:
      (0 until NumHashes).map(j => col(s"m$j").as(s"b$j")): _*)
    val matches = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(a, "doc_a").join(b, "doc_b")
      .withColumn("n_match", matches.cast("long"))
      .select("doc_a", "doc_b", "n_match")
  }

  /** The (bands × rows) configurations the sensitivity audit scores —
    * every factorization of the 16-hash signature.
    */
  private val LshConfigs = Seq(16 -> 1, 8 -> 2, 4 -> 4, 2 -> 8)

  /** LSH BANDING SENSITIVITY — the tuning table for choosing (b, r)
    * at 100 TB: one row per possible signature agreement count
    * m ∈ [0, 16] carrying the observed banded-candidate mass at that
    * estimated similarity (m/16) and the ANALYTIC S-curve detection
    * probability 1 − (1 − sʳ)ᵇ for every (b, r) factorization of the
    * signature. Read it as: rows under the Jaccard threshold are
    * candidate work the estimate filter discards (precision cost),
    * rows above are the recall the current banding actually buys, and
    * the config columns say what each alternative banding would catch
    * at the same similarity. The observed side sees only pairs the
    * CURRENT banding surfaced — the analytic columns are exact for
    * every config, which is the tuning question; `dedup_prefix_filter`
    * is the in-repo lossless path when observed ground truth is
    * required.
    *
    * Determinism: m/16 is dyadic-exact; the S-curve is libm pow
    * rounded to 6 dp on both engines (the `text_perplexity` pow
    * precedent). One keyed aggregation over the candidate relation +
    * a 17-row grid join — audit cost ≪ the pair search it audits.
    */
  def dedupLshSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val observed = candMatchCounts(spark, dir)
      .groupBy(col("n_match")).agg(count(lit(1)).as("n_pairs"))
    val grid = spark.range(0, NumHashes + 1L)
      .select(col("id").as("n_match"))
    val s = col("n_match") / lit(NumHashes.toDouble)
    val base = grid.join(observed, Seq("n_match"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("est_jaccard", round(s, 6))
    LshConfigs.foldLeft(base) { case (df, (b, r)) =>
      df.withColumn(s"p_b${b}r$r",
        round(lit(1.0) - pow(lit(1.0) - pow(s, lit(r.toDouble)),
          lit(b.toDouble)), 6))
    }
      .select(col("n_match") +: col("est_jaccard") +: col("n_pairs") +:
        LshConfigs.map { case (b, r) => col(s"p_b${b}r$r") }: _*)
      .orderBy("n_match")
  }

  /** 64-bit SimHash: per-bit majority vote over md5-derived token
    * hashes, frequency-weighted (tokens exploded, not distinct). The
    * 64 vote bits come from the first sixteen hex chars of the token
    * md5 read as two 32-bit halves; bit b is set iff its vote sum is
    * strictly positive. Computed by the native
    * [[graft.functions.Simhash64Agg]] aggregate — one int-array buffer
    * and a single 64-bit loop per token instead of 64 separate
    * declarative sum-aggregates (which doubled the dump cost when the
    * fingerprint widened from 16 to 64 bits). A spec pins the native
    * aggregate bit-equal to the declarative 64-sum formulation.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashFingerprints(spark, dir).orderBy(col("doc_id"))

  private def simhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(words(col("text"))).as("tok"))
      .groupBy(col("doc_id"))
      .agg(expr("simhash64(tok)").as("simhash"))

  /** Hamming radius and banding for the simhash pair search:
    * hamming ≤ 3 over 64 bits, 4 bands of 16 bits — by pigeonhole any
    * pair within the radius agrees on at least one whole band, so the
    * banded equi-join is lossless at the radius. 16-bit bands give
    * 2^16 buckets per band: bucket occupancy ∝ n/65536 instead of the
    * old 16-bit fingerprint's n/16, which made candidates pigeonhole-
    * quadratic (the fleet's #2 shuffler at sf0.1 before this widening).
    */
  private val SimhashRadius = 3
  private val SimhashBands = 4
  private val SimhashBandBits = 16

  /** SimHash near-dup PAIRS — the fingerprint half of the Google-style
    * dedup pipeline: candidates come from a self-equi-join on banded
    * fingerprint bits (pigeonhole: any pair within hamming radius 3
    * shares at least one exact 16-bit band), then exact verification is
    * a single `bit_count(xor)` on the two 64-bit fingerprints — no
    * second corpus pass, no token re-join. One shuffle on the band key,
    * one distinct; cost scales with band-bucket occupancy, never
    * pairs². (`dedup_ngram_jaccard` verifies against the shingle
    * relation; this is the cheaper fingerprint-only verdict used when
    * the corpus no longer fits a shingle join.)
    */
  /** Exact binomial coefficient (incremental form — every partial
    * division is exact).
    */
  private def binom(n: Int, k: Int): BigInt =
    if (k < 0 || k > n) BigInt(0)
    else (1 to k).foldLeft(BigInt(1))((acc, i) => acc * (n - i + 1) / i)

  /** Detection probability of a `bands`-way disjoint banding of a
    * `bits`-bit fingerprint at Hamming distance h, assuming the h
    * flipped bits are uniformly placed: P(at least one band untouched)
    * by inclusion–exclusion over band subsets — exact BigInt
    * hypergeometrics, half-up rounded to a 6-dp DECIMAL STRING so the
    * engine and the oracle parse the identical literal (the DCT-basis
    * precedent: constants computed once in Scala, embedded on both
    * sides).
    */
  private[graft] def bandRecall6(bits: Int, bands: Int, h: Int): String = {
    val c = bits / bands
    val total = binom(bits, h)
    val num = (1 to bands).map { j =>
      val t = binom(bands, j) * binom(bits - c * j, h)
      if (j % 2 == 1) t else -t
    }.sum
    val q = (num * 2000000 + total) / (total * 2) // micro-units, half-up
    s"${q / 1000000}." + "%06d".format((q % 1000000).toLong)
  }

  /** Hamming grid ceiling for the sensitivity table. */
  private val SimhashSensGrid = 16

  /** HAMMING BANDING SENSITIVITY — the fingerprint twin of
    * [[dedupLshSensitivity]], quantifying the exact trade the
    * fine-vs-coarse band choice made: one row per Hamming distance
    * h ∈ [0, 16] with the observed pair mass from the banded search
    * (structurally zero beyond the radius) and the ANALYTIC detection
    * probability of 4×16-, 8×8-, and 16×4-bit bandings of the 64-bit
    * fingerprint under uniform error placement. Pigeonhole shows as
    * computed 1.0 rows (h < bands); beyond them the table says exactly
    * how much recall finer bands would buy — and what the candidate
    * cost multiplier is (bucket occupancy ∝ n/2^bits-per-band). The
    * analytic columns are exact rationals rounded once; audit cost is
    * the pair search it audits + a 17-row grid join. The same geometry
    * (64-bit fingerprint, 4×16 banding, radius 3) governs the DCT
    * perceptual family ([[Multimodal]] `_r3`), so the analytic columns
    * apply to it verbatim.
    */
  def dedupSimhashSensitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grid = (0 to SimhashSensGrid).map { h =>
      (h.toLong, bandRecall6(64, 4, h).toDouble,
        bandRecall6(64, 8, h).toDouble, bandRecall6(64, 16, h).toDouble)
    }.toDF("hamming", "p_b4x16", "p_b8x8", "p_b16x4")
    val observed = dedupSimhashPairs(spark, dir)
      .groupBy(col("hamming").cast("long").as("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
    grid.join(observed, Seq("hamming"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .select("hamming", "n_pairs", "p_b4x16", "p_b8x8", "p_b16x4")
      .orderBy("hamming")
  }

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    // checkpoint: both self-join sides read the fingerprints, and
    // without the materialization each side re-runs the whole
    // aggregation (the token explode + 64 vote sums — the expensive
    // part) — measured ~2× on the fixed-size corpus
    simhashPairsOver(simhashFingerprints(spark, dir).localCheckpoint())
      .orderBy(col("doc_a"), col("doc_b"))

  /** The banded pair search over any (doc_id, simhash) fingerprint
    * relation — shared by the self-contained and served forms.
    */
  private def simhashPairsOver(fp: DataFrame): DataFrame = {
    val bands = fp
      .select(col("doc_id"), col("simhash"), explode(array(
        (0 until SimhashBands).map(b => struct(
          lit(b).as("band_idx"),
          shiftright(col("simhash"), SimhashBandBits * b)
            .bitwiseAND(lit((1L << SimhashBandBits) - 1)).as("band_bits"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band_idx"), col("bb.band_bits"))
    val a = bands.select(col("doc_id").as("doc_a"), col("simhash").as("fa"),
      col("band_idx"), col("band_bits"))
    val b = bands.select(col("doc_id").as("doc_b"), col("simhash").as("fb"),
      col("band_idx"), col("band_bits"))
    a.join(b, Seq("band_idx", "band_bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "fa", "fb").distinct()
      .withColumn("hamming", expr("bit_count(fa ^ fb)").cast("long"))
      .filter(col("hamming") <= SimhashRadius)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** The 64-bit simhash fingerprints SERVED from their write-once
    * bucketed artifact table — the token explode + 64 vote sums (the
    * expensive half of the pair search) run once per JVM and every
    * later probe reads the table, completing the serving story for
    * the lexical-fingerprint side the way `phash_dct` completes it
    * for the perceptual side.
    */
  private[graft] def servedSimhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "simhash_fp", "doc_id", 8)(
      simhashFingerprints(spark, dir))

  /** The pair search served from the fingerprint artifact — per-query
    * cost is the banded self-join probe alone. Shares the base form's
    * oracle SQL (identical result by construction).
    */
  def dedupSimhashPairsServed(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOver(servedSimhashFingerprints(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Embedding-cosine near-dup pairs, blocked on the label column (the
    * coarse-cluster stand-in for an IVF/LSH partition at scale).
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    // norms precomputed per vector (O(n)), not per pair (O(n²))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(AnnSearch.dot(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("id_a"), col("label"), col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("label"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, "label").filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(AnnSearch.cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cosine") >= 0.35)
      .select("label", "id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** Label-free variant of `dedupEmbedding`: blocking comes from the
    * data itself via sign-LSH buckets (same 8 md5-derived hyperplanes
    * as `ann_lsh_topk`), so the operator needs NO precomputed cluster
    * column — the true 100 TB shape where candidate pairs exist only
    * within a bucket. Recall can be raised by unioning several
    * independent bucket families, same plan shape.
    */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = AnnSearch.bucketedVecs(spark, dir)
    val a = e.select(col("vec_id").as("id_a"), col("bucket"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("bucket"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, "bucket").filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(AnnSearch.cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cosine") >= 0.35)
      .select("bucket", "id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-style semantic dedup: near-dup pairs blocked on LEARNED
    * k-means clusters (the `ann_kmeans_train` assignment) instead of a
    * precomputed label (`dedup_embedding`) or data-derived LSH buckets
    * (`dedup_embedding_lsh`) — the published recipe for embedding-space
    * corpus pruning: cluster once, then compare only within clusters.
    * Pair cost scales with cluster occupancy; the cluster step itself
    * is broadcast-assign (K constant). Norms precomputed per vector.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val labeled = AnnSearch.kmeansAssignments(spark, dir)
      .withColumn("nrm", sqrt(AnnSearch.dot(col("v"), col("v"))))
      .select(col("vec_id"), col("cl").as("cluster"), col("v"), col("nrm"))
    val a = labeled.select(col("vec_id").as("id_a"), col("cluster"),
      col("v").as("va"), col("nrm").as("na"))
    val b = labeled.select(col("vec_id").as("id_b"), col("cluster"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, "cluster").filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(AnnSearch.cosinePre(col("va"), col("vb"), col("na"), col("nb")), 6))
      .filter(col("cosine") >= 0.35)
      .select("cluster", "id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }

  /** Near-dup CLUSTER assignment: connected components of the verified
    * jaccard pair graph via min-label propagation (Pregel-style): each
    * round every node takes the min label among itself and its
    * neighbors; at fixpoint the label is the smallest doc id reachable
    * — the cluster's canonical document. Convergence is checked with an
    * aggregate (sum of labels is strictly decreasing until fixpoint);
    * iteration count is bounded by the component diameter, which for
    * near-dup cliques is tiny. At extreme scale swap the loop body for
    * the large-star/small-star variant — same per-round plan shape.
    * No data ever reaches the driver: the loop condition is a 1-row
    * aggregate.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(dedupNgramJaccard(spark, dir).select("doc_a", "doc_b"))

  /** The same cluster assignment through the star-contraction engine
    * path ([[connectedComponentsStar]]) — both paths are oracle-checked
    * against the identical recursive CTE, the same two-paths-one-oracle
    * pattern as `events_asof_join` / `events_asof_native`.
    */
  def dedupComponentsStar(spark: SparkSession, dir: String): DataFrame =
    connectedComponentsStar(dedupNgramJaccard(spark, dir).select("doc_a", "doc_b"))

  /** Containment detection params: every 31st doc gets a synthetic
    * 40%-prefix excerpt (id + 100000) injected so the asymmetric case
    * actually exists in the driver corpus — same synthesis pattern as
    * `corpus_pii_scrub`'s injected PII. Containment ≥ 0.7 of the
    * smaller side flags a pair; `is_asymmetric` marks the pairs plain
    * Jaccard (≥ 0.5) would MISS.
    */
  private val ExcerptMod = 31
  private val ExcerptIdOffset = 100000L
  private val ContainmentThreshold = 0.7

  /** The corpus plus deterministic prefix-excerpt documents. */
  private def augmentedDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val excerpts = docs.filter(col("doc_id") % ExcerptMod === 0)
      .select(col("doc_id"), words(col("text")).as("toks"))
      .select(
        (col("doc_id") + ExcerptIdOffset).as("doc_id"),
        concat_ws(" ", expr(
          "slice(toks, 1, CAST(ceil(size(toks) * 0.4) AS INT))")).as("text"))
    docs.unionByName(excerpts)
  }

  /** Shingle-CONTAINMENT near-dup pairs — the asymmetric companion to
    * [[dedupNgramJaccard]]: `|A∩B| / min(|A|, |B|)` stays high when a
    * small document is quoted/excerpted inside a much larger one,
    * exactly the case symmetric Jaccard dilutes below threshold
    * (J = |∩|/|∪| → small for very unequal sizes). This is how corpus
    * curation catches boilerplate-wrapped copies and quoted passages
    * that survive document-level dedup.
    *
    * Same scale shape as the Jaccard operator: banded-LSH candidates
    * (never all-pairs), the shingle relation materialized once and
    * shared by signature generation and intersection counting, one
    * keyed aggregation per relation. Banding recall for a contained
    * excerpt follows its Jaccard (~size ratio), so containment pairs
    * surface when any band agrees — the oracle replays identical
    * banding, and the spec pins the injected excerpts that banding
    * recalls are flagged `is_asymmetric`.
    */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesOf(Tables.widened(augmentedDocs(spark, dir), "doc_id"))
      .localCheckpoint()
    // banded signatures checkpointed like the Jaccard twin: the self-
    // join reads this relation twice
    val sigLong = bandKeys(minhashFromShingles(sh)).localCheckpoint()
    val pairs = bandProbe(allNew(sigLong)).select("doc_a", "doc_b").distinct()
      .localCheckpoint() // the verify join plans on its exact size (see WideShingleRows)
    interSizes(pairs, sh, "doc_a", "doc_b")
      .withColumn("containment",
        round(col("n_inter") / least(col("na"), col("nb")), 6))
      .withColumn("jaccard", jaccardOf)
      .filter(col("containment") >= ContainmentThreshold)
      .withColumn("is_asymmetric", col("jaccard") < JaccardThreshold)
      .select("doc_a", "doc_b", "n_inter", "containment", "jaccard", "is_asymmetric")
      .orderBy("doc_a", "doc_b")
  }

  /** Min-label propagation over an undirected pair graph
    * (doc_a, doc_b). Exposed separately from `dedupComponents` so the
    * loop is testable on degenerate graphs (empty, single edge) without
    * a corpus. Every iteration `localCheckpoint()`s the new labels:
    * the eager materialization doubles as the convergence probe's
    * input, and the truncated lineage keeps plan-analysis time and
    * lost-executor recovery cost CONSTANT per round instead of growing
    * one join-aggregate layer per iteration — the thing that kills
    * iterative jobs at 100× scale. Superseded label RDDs are released
    * by the context cleaner. On a multi-executor cluster use reliable
    * `checkpoint()` to survive executor loss.
    */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponentsAt(pairs, HubDegreeCap)

  /** Degree above which a node counts as a HUB for the min-label
    * loop's edge partitioning: the dst-clustered edge checkpoint lands
    * ALL of a node's incident edges in one hash(dst) partition every
    * round, and AQE cannot split a pre-partitioned checkpoint side —
    * so a duplicate-heavy corpus with a million-near-dup hub would
    * serialize that hub through one task per iteration (§2.5: a single
    * enormous key is the skew AQE can't fix). Edges pointing AT a hub
    * are split out at seed time and partitioned by src instead (the
    * neighbor ids — distinct by construction, so the hub's edge list
    * spreads evenly), and each round probes them against a BROADCAST
    * of just the hub labels (≤ #hubs rows — hot keys are few by
    * definition). 1M keeps any single partition's per-key edge count
    * bounded at ~40 MB of (src, dst) rows.
    */
  private[graft] val HubDegreeCap = 1000000L

  /** The seed-time hub split — factored out so the planted-hub spec
    * can pin the bound directly: `cold` keeps the dst clustering
    * (hash(dst) partitioning preserved through the broadcast anti
    * join), `hot` re-clusters the hub-directed edges on src.
    */
  private[graft] def hubSplit(edges: DataFrame, hubs: DataFrame,
      parallelism: Int): (DataFrame, DataFrame) = {
    val cold = edges
      .join(broadcast(hubs), edges("dst") === hubs("hub_id"), "left_anti")
      .localCheckpoint()
    val hot = edges
      .join(broadcast(hubs), edges("dst") === hubs("hub_id"), "left_semi")
      .repartition(parallelism, col("src"))
      .localCheckpoint()
    (cold, hot)
  }

  private[graft] def connectedComponentsAt(pairs: DataFrame,
      hubCap: Long): DataFrame = {
    val jp = pairs.toDF("doc_a", "doc_b")
    val sp = pairs.sparkSession
    val parallelism = math.max(sp.sparkContext.defaultParallelism,
      sp.sessionState.conf.numShufflePartitions)
    // the edge relation is checkpointed CLUSTERED on dst — the join key
    // of every iteration's neighbor-min probe — so the loop's join
    // reads the edge side exchange-free EVERY round: one exchange of
    // the edges at seed time replaces one per iteration (the labels
    // side is already doc_id-partitioned by the previous round's join)
    val edges = jp.union(jp.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .repartition(parallelism, col("dst"))
      .localCheckpoint()
    // the initial sum/emptiness probes ride the seed checkpoint's
    // materialization job (same observe() trick as the loop body) —
    // without this the loop setup costs 3 Spark jobs instead of 1.
    // sum over zero rows is null — Option-guard so an edge-free graph
    // returns an empty labelling instead of an NPE. The node seed is a
    // per-src COUNT (same exchange as the previous distinct, map-side
    // partials either way), so the hub detector — max degree — rides
    // the same observation at zero extra jobs; edges are symmetric, so
    // src-degree ≡ dst-degree.
    val obs0 = new org.apache.spark.sql.Observation("cc_init")
    var labels = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("doc_id"), col("deg"))
      .withColumn("component", col("doc_id"))
      .observe(obs0, sum(col("component")).as("label_sum"),
        count(lit(1)).as("n_nodes"), max(col("deg")).as("max_deg"))
      .localCheckpoint()
    var prevSum = Option(obs0.get("label_sum")).fold(0L)(_.asInstanceOf[Long])
    var converged = obs0.get("n_nodes").asInstanceOf[Long] == 0L
    val maxDeg = Option(obs0.get("max_deg")).fold(0L)(_.asInstanceOf[Long])
    // hub regime ONLY when a degree exceeds the cap: the common-case
    // loop below stays byte-identical to the pre-guard plan (no split
    // checkpoints, no per-round broadcast, no extra jobs)
    val hubs = if (maxDeg > hubCap)
      labels.filter(col("deg") > hubCap)
        .select(col("doc_id").as("hub_id")).localCheckpoint()
    else null
    val (cold, hot) = if (hubs == null) (edges, null)
      else {
        val split = hubSplit(edges, hubs, parallelism)
        // cold ∪ hot now hold every edge and the loop never reads the
        // seed again: release its blocks instead of carrying the edge
        // set twice on exactly the duplicate-heavy corpora in this regime
        edges.queryExecution.logical match {
          case r: LogicalRDD => r.rdd.unpersist(blocking = false)
          case _ =>
        }
        split
      }
    var first = true
    var iter = 0
    // labels only fall, so an unchanged label sum means no label
    // changed: the loop ends within diameter + 1 rounds
    while (!converged) {
      // drop the seed's deg column once the loop rewrites labels; on
      // round 1 it is pruned by the optimizer, not materialized
      val nbrJoined = if (hubs == null)
        edges.join(labels, edges("dst") === labels("doc_id"))
      else {
        // labels of the hubs only: a ≤ #hubs-row broadcast per round,
        // probed map-side over the src-spread hot edges — the hub's
        // incident edges never collapse into one partition
        val hubLabels = labels
          .join(broadcast(hubs), labels("doc_id") === hubs("hub_id"), "left_semi")
          .select(col("doc_id"), col("component"))
        cold.join(labels, cold("dst") === labels("doc_id"))
          .select(cold("src").as("src"), col("component"))
          .unionByName(
            hot.join(broadcast(hubLabels), hot("dst") === hubLabels("doc_id"))
              .select(hot("src").as("src"), col("component")))
      }
      val nbrMin = nbrJoined
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      // observe() rides the convergence probe ON the checkpoint's
      // materialization job (CollectMetrics in the same pass) — one
      // Spark job per iteration instead of materialize + re-aggregate
      val obs = new org.apache.spark.sql.Observation(s"cc_iter_$iter")
      val next = labels.join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
        .select(labels("doc_id"),
          least(labels("component"), coalesce(col("nbr_min"), labels("component")))
            .as("component"))
        .observe(obs, sum(col("component")).as("label_sum"))
        .localCheckpoint()
      val s = Option(obs.get("label_sum")).fold(0L)(_.asInstanceOf[Long])
      labels = next
      converged = s == prevSum
      prevSum = s
      first = false
      iter += 1
    }
    // an edge-free graph never enters the loop: strip the seed-only
    // deg column so the output schema is loop-count-independent
    if (first) labels = labels.drop("deg")
    withComponentSize(labels)
  }

  /** A (doc_id, component) labelling with each component's member
    * count attached, in doc_id order — the output shape of every
    * components form, built or served.
    */
  private def withComponentSize(labels: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("component"))
    labels
      .withColumn("component_size", count(lit(1)).over(w))
      .orderBy(col("doc_id"))
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the EXTREME-SCALE alternative to [[connectedComponents]]'s
    * min-label propagation, which needs O(graph diameter) rounds: a
    * 100 TB near-dup graph can carry chains thousands of hops long,
    * while star-contraction converges in O(log n) rounds regardless of
    * diameter. Each round is two keyed aggregations + projections:
    *  - large-star: every node points its LARGER neighbors at the
    *    minimum of its neighborhood (min computed once per node via
    *    groupBy — a hub's min is found by ONE aggregation, never a
    *    per-edge join);
    *  - small-star: every node and its smaller-or-equal neighbors
    *    contract onto that sub-neighborhood's minimum.
    * Edges are localCheckpoint'd per round (constant-depth lineage,
    * same discipline as the label loop; reliable checkpoint() on a
    * real cluster), convergence probed by an Observation riding the
    * checkpoint job. Returns the same (doc_id, component,
    * component_size) labelling — component = min member id —
    * spec-pinned equal to min-label propagation on chains, cliques,
    * stars, and the corpus pair graph.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    val jp = pairs.toDF("doc_a", "doc_b").filter(col("doc_a") =!= col("doc_b"))
    val obs0 = new org.apache.spark.sql.Observation("cc_star_init")
    // convergence fingerprint: (Σ(u+v), count, XOR of per-edge xxhash64).
    // Sum+count alone admit collisions (two distinct edge sets agreeing
    // on both statistics could end a round early and emit a non-fixpoint
    // labelling — ADVICE r5); the xor of a 64-bit content hash is
    // order-insensitive over the DISTINCT edge relation and cannot
    // overflow, pushing a silent collision to ~2^-64
    val edgeHash = expr("bit_xor(xxhash64(u, v))").as("edge_hash")
    var edges = jp
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
      .distinct()
      .observe(obs0, sum(col("u") + col("v")).as("edge_sum"),
        count(lit(1)).as("n_edges"), edgeHash)
      .localCheckpoint()
    var prevSum = Option(obs0.get("edge_sum")).fold(0L)(_.asInstanceOf[Long])
    var prevCnt = obs0.get("n_edges").asInstanceOf[Long]
    var prevHash = Option(obs0.get("edge_hash")).fold(0L)(_.asInstanceOf[Long])
    if (prevCnt == 0L) {
      return edges.select(col("u").as("doc_id"), col("v").as("component"),
        lit(0L).as("component_size"))
    }
    var converged = false
    var iter = 0
    while (!converged && iter < 32) {
      // LARGE-STAR: symmetrize, then each node points its LARGER
      // neighbors at min(Γ(u) ∪ {u}) — a hub's min via ONE aggregation
      val sym = edges
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val afterLarge = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // SMALL-STAR: orient each edge large→small, then the node and
      // all its smaller neighbors contract onto that set's minimum
      val oriented = afterLarge
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val ssMin = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val obs = new org.apache.spark.sql.Observation(s"cc_star_$iter")
      val next = oriented.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .observe(obs, sum(col("u") + col("v")).as("edge_sum"),
          count(lit(1)).as("n_edges"), edgeHash)
        .localCheckpoint()
      // per-round checkpoint: constant lineage depth, and the
      // convergence probe (Σ(u+v) + edge count + content-hash xor
      // stable — a round that changes ANY edge changes the xor) rides
      // the materialization job, same discipline as the min-label loop
      val s = Option(obs.get("edge_sum")).fold(0L)(_.asInstanceOf[Long])
      val c = obs.get("n_edges").asInstanceOf[Long]
      val h = Option(obs.get("edge_hash")).fold(0L)(_.asInstanceOf[Long])
      converged = s == prevSum && c == prevCnt && h == prevHash
      prevSum = s
      prevCnt = c
      prevHash = h
      edges = next
      iter += 1
    }
    // the 32-round cap is ~2^32 nodes' worth of O(log n) contraction —
    // falling through it means the loop did NOT reach a fixpoint, and
    // labeling a non-fixpoint edge set would silently emit wrong
    // components (ADVICE r5): fail loudly instead
    require(converged,
      s"star-contraction did not converge within $iter rounds")
    // post-fixpoint the edge set is the star forest (child → component
    // minimum): children label with their root, roots label themselves
    val labels = edges.groupBy(col("u")).agg(min(col("v")).as("component"))
      .select(col("u").as("doc_id"),
        least(col("component"), col("u")).as("component"))
      .union(edges.select(col("v")).distinct()
        .join(edges.select(col("u")).distinct(),
          col("v") === col("u"), "left_anti")
        .select(col("v").as("doc_id"), col("v").as("component")))
    withComponentSize(labels)
  }

  /** Per-cluster statistics over the near-dup component graph — the
    * dedup AUDIT view (cluster-size distribution, edge density) a
    * curation run publishes before committing deletions: component id
    * (min doc), member count, max member, and the number of verified
    * near-dup pairs inside the cluster. The pair relation is
    * `localCheckpoint()`ed ONCE so the fixpoint and the edge counts
    * both ride the same materialization instead of re-running the
    * Jaccard verification join; the stats themselves are two
    * component-keyed aggregations over the (tiny) label/pair relations.
    */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgramJaccard(spark, dir)
      .select("doc_a", "doc_b").localCheckpoint()
    clusterStatsOver(pairs, connectedComponents(pairs).select("doc_id", "component"))
  }

  /** The cluster statistics over a (doc_a, doc_b) pair relation and its
    * (doc_id, component) labelling — one body for the built and the
    * served form.
    */
  private def clusterStatsOver(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val edgeCounts = pairs
      .join(labels.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .groupBy(col("component")).agg(count(lit(1)).as("n_edges"))
    labels.groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .join(edgeCounts, Seq("component"))
      .select("component", "n_docs", "max_doc", "n_edges")
      .orderBy(col("component"))
  }

  /** Policy-driven dedup: within each near-dup cluster keep the
    * HIGHEST-QUALITY member (not the lowest id) — what production
    * curation actually ships, since near-dup clusters mix clean and
    * mangled copies of the same content. Cluster labels from the
    * fixpoint, quality from the shared score ([[TextAnalysis
    * .qualityScore]]), winner per cluster via a rank-filtered window
    * over the (tiny) labelled relation; docs outside any cluster are
    * trivially kept. Ties break on doc_id so the verdict is
    * deterministic in both engines.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    keepBestOver(spark, dir, connectedComponents(
      dedupNgramJaccard(spark, dir).select("doc_a", "doc_b"))
      .select("doc_id", "component"))

  /** The keep-best policy tail over any (doc_id, component) labelling
    * — one body shared by the self-contained, served, and capped
    * forms, so the quality scoring, the winner window, and the
    * unclustered-doc defaults can never drift between them.
    */
  private def keepBestOver(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    // materialized once, widened: the regex-heavy quality score is read
    // by BOTH the winner window's input and the final left-join side —
    // without the checkpoint it is recomputed twice, fused into a
    // single corpus-scan task
    val scored = Tables.widened(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality_score"))
      .localCheckpoint()
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    // rank ONLY the labelled relation (tiny): windowing the whole corpus
    // would drop every unclustered doc into one NULL-key partition — a
    // single-task hotspot at scale
    val verdicts = labels.join(scored, "doc_id")
      .withColumn("is_kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("is_kept"))
    scored.join(verdicts, Seq("doc_id"), "left")
      .select(
        col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"),
        col("quality_score"), coalesce(col("is_kept"), lit(true)).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** The verified near-dup pair relation SERVED from its write-once
    * bucketed artifact ([[graft.sources.ArtifactStore]]): the
    * shingle-explode → minhash → band-join → Jaccard-verify chain runs
    * once per JVM, every policy/audit query reads the table. At 100 TB
    * the pair relation is a pipeline product (built where the corpus
    * is ingested), and cluster policy queries — the ones an operator
    * actually iterates on — touch pairs/labels, never raw text.
    */
  private def servedPairs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "dedup_pairs", "doc_a", 8)(
      dedupNgramJaccard(spark, dir))

  /** Component labels SERVED from their artifact — the min-label
    * fixpoint runs once per JVM over the pairs ARTIFACT (never re-
    * verifying Jaccard), downstream queries read (doc_id, component).
    */
  private[graft] def servedLabels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = servedPairs(spark, dir)
    graft.sources.ArtifactStore.ensure(spark, dir, "dedup_labels", "doc_id", 8)(
      connectedComponents(pairs.select("doc_a", "doc_b"))
        .select("doc_id", "component"))
  }

  /** [[dedupComponents]] served: label artifact + the size window —
    * no pair search, no fixpoint in the query.
    */
  def dedupComponentsServed(spark: SparkSession, dir: String): DataFrame =
    withComponentSize(servedLabels(spark, dir))

  /** [[dedupClusterStats]] served: two keyed aggregations over the
    * pair/label artifacts.
    */
  def dedupClusterStatsServed(spark: SparkSession, dir: String): DataFrame = {
    val pairs = servedPairs(spark, dir).select("doc_a", "doc_b")
    clusterStatsOver(pairs, servedLabels(spark, dir))
  }

  /** [[dedupKeepBest]] served: labels from the artifact; the quality
    * scan over the corpus is the query's own (per-document, map-side)
    * work — the policy choice being iterated on, not index rebuild.
    */
  def dedupKeepBestServed(spark: SparkSession, dir: String): DataFrame =
    keepBestOver(spark, dir, servedLabels(spark, dir))

  /** Per-document verified-degree cap of the CAPPED pair tier: after
    * verification each document keeps its [[PairDegreeCap]]
    * best-Jaccard incident edges (Jaccard DESC, neighbor id ASC —
    * deterministic on both engines); an edge survives when EITHER
    * endpoint ranks it (union semantics, so no verified doc ever loses
    * its best match). Output ≤ 2·K·n edges by construction.
    */
  private[graft] val PairDegreeCap = 8

  /** Bucket-occupancy threshold of the candidate lever: band buckets
    * with at most this many members emit their full clique (lossless
    * there — candidate mass per small bucket ≤ cap·occupancy/2, so Σ
    * stays ∝ n·cap); larger buckets fall back to the SORTED WINDOW
    * below. Sized from the measured organic occupancy profile: at the
    * ×3 point 100% of multi-member buckets are ≤ 16 (so the capped
    * build is pair-identical there), and the dense >16 buckets only
    * appear in the duplicate-heavy regime the window fallback exists
    * for.
    */
  private[graft] val BucketCliqueCap = 16

  /** Sorted-window width for DENSE buckets (> [[BucketCliqueCap]]
    * members): members are ranked by doc_id within the bucket and each
    * pairs with its next `BucketWindow` successors — the
    * sorted-neighborhood method (Hernández & Stolfo, SIGMOD 1995),
    * read off one window pass ([[successors]]), so the candidate
    * step's WORK, not only its output, is ∝ occupancy·w, never
    * occupancy². Chosen over a bucket-minimum STAR by measurement on
    * the organic ×10
    * corpus (DuckDB lever sweep, PLANS.md r15): near the 0.5 Jaccard
    * threshold many hub-member pairs fail verification and the star
    * fragments clusters (merge recall 0.355); a window survives
    * individual edge failures through its redundancy — w=1 already
    * beats the star at IDENTICAL candidate count (0.375), w=8 reaches
    * 0.695, w=16 0.847, full cliques 1.0. The width is the documented
    * recall/cost dial; 8 is the default operating point.
    */
  private[graft] val BucketWindow = 8

  /** The CAPPED verified near-dup pair build — the production
    * operating point of the pair tier for DUPLICATE-HEAVY corpora
    * (VERDICT r14: the uncapped `dedup_keep_best`/`dedup_components`
    * read ~n^1.9 shuffle bytes at the organic ×10 point because TRUE
    * pair mass grows that fast — every verified pair is enumerated).
    * This is the `ann_rrf_fusion_capped` treatment applied to pairs,
    * with the same two index-side levers:
    *
    *  1. OCCUPANCY-GATED candidates ([[BucketCliqueCap]]): a band
    *     bucket with ≤ 16 members emits its full clique (lossless at
    *     that occupancy, mass ≤ 16·occupancy/2); a DENSER bucket emits
    *     sorted-window edges ([[BucketWindow]] — each member pairs
    *     with its w successors in doc_id order, listed by one
    *     [[successors]] window pass) — work and mass ∝ occupancy·w,
    *     never occupancy². For EXACT-duplicate buckets every window
    *     edge verifies at Jaccard 1.0, so the window path spans the
    *     same component as the clique and exact-dup clustering is
    *     unchanged; near-dup merge recall is measured, not assumed —
    *     DedupCappedSpec states the number;
    *  2. per-doc verified-degree cap [[PairDegreeCap]] (union
    *     semantics) on the surviving edges, bounding OUTPUT ∝ n·K for
    *     the components fixpoint and the keep-best window downstream.
    *
    * The uncapped `dedup_ngram_jaccard` remains the oracle-definition/
    * audit tier (exactly like the uncapped fusion and
    * `q_price_band_join` vs its `_topk` twin); its own oracle replays
    * both caps — same hub choice, same rank order.
    */
  private[graft] def cappedPairsOf(docs: DataFrame): DataFrame = {
    // one corpus explode feeding signatures AND verification, the
    // ngramJaccardNewPairs sharing discipline, widened (Tables.widened)
    val sh = shinglesOf(Tables.widened(docs, "doc_id")).localCheckpoint()
    // lever 1 — occupancy-gated candidates: small buckets emit the
    // full clique (lossless ≤ BucketCliqueCap); dense buckets emit
    // each member × its next BucketWindow successors in doc_id order
    val marked = successors(bandKeys(minhashFromShingles(sh)), BandBucket,
        Seq(col("doc_id")), BucketWindow, Seq("doc_id"))
      .localCheckpoint(false) // both clique sides + the successor side
    val clique = bandProbe(allNew(marked.filter(col("occ") <= BucketCliqueCap)))
      .select("doc_a", "doc_b")
    val windowed = marked.filter(col("occ") > BucketCliqueCap)
      .select(col("doc_id").as("doc_a"), explode(col("next.doc_id")).as("doc_b"))
    val pairs = clique.union(windowed).distinct()
    // (no pairs checkpoint here: measured SLOWER for the capped chain —
    // 3.2 → 5.4 s at 32 cores — its candidate build already sits behind
    // checkpoints and the extra serial materialization costs more
    // than the verify join's build-side switch buys)
    val vpairs = verifiedPairs(pairs, sh)
      .localCheckpoint() // read three times: both cap directions + the final join
    // lever 2 — per-doc degree cap, union semantics
    val dirs = vpairs.select(col("doc_a").as("d"), col("doc_b").as("o"), col("jaccard"))
      .union(vpairs.select(col("doc_b").as("d"), col("doc_a").as("o"), col("jaccard")))
    val wDeg = Window.partitionBy(col("d"))
      .orderBy(col("jaccard").desc, col("o"))
    val keep = dirs.withColumn("rk", row_number().over(wDeg))
      .filter(col("rk") <= PairDegreeCap)
      .select(least(col("d"), col("o")).as("doc_a"),
        greatest(col("d"), col("o")).as("doc_b"))
      .distinct()
    vpairs.join(keep, Seq("doc_a", "doc_b"))
  }

  /** The capped pair relation over the corpus — `dedup_ngram_jaccard`'s
    * bounded production twin (see [[cappedPairsOf]]).
    */
  def dedupPairsCapped(spark: SparkSession, dir: String): DataFrame =
    cappedPairsOf(Tables.documents(spark, dir).select("doc_id", "text"))
      .orderBy("doc_a", "doc_b")

  /** Near-dup clusters over the CAPPED pair graph — the components
    * fixpoint whose input (and therefore whose per-round shuffle) is
    * bounded ∝ n·K instead of true pair mass. Runs through the
    * STAR-CONTRACTION engine path, not min-label propagation: the
    * window candidates form long paths through dense buckets
    * (diameter ∝ occupancy/w), and min-label needs O(diameter) rounds
    * on such a path, one shuffle each, while star-contraction
    * converges in O(log n) rounds regardless of diameter. The
    * labelling is the capped graph's own fixpoint: merge recall vs
    * the uncapped components is a measured trade
    * (DedupCappedSpec), not an equivalence claim.
    */
  def dedupComponentsCapped(spark: SparkSession, dir: String): DataFrame =
    connectedComponentsStar(cappedPairsOf(
      Tables.documents(spark, dir).select("doc_id", "text"))
      .select("doc_a", "doc_b"))

  /** Keep-best curation over the capped clusters — the policy verdict
    * a duplicate-heavy 100 TB corpus can actually afford. Same
    * star-contraction labelling as [[dedupComponentsCapped]].
    */
  def dedupKeepBestCapped(spark: SparkSession, dir: String): DataFrame =
    keepBestOver(spark, dir, connectedComponentsStar(cappedPairsOf(
      Tables.documents(spark, dir).select("doc_id", "text"))
      .select("doc_a", "doc_b"))
      .select("doc_id", "component"))

  /** The CAPPED verified pair relation SERVED from its write-once
    * bucketed artifact — the train/serve split for the tier a
    * duplicate-heavy 100 TB corpus actually runs ([[servedPairs]]
    * serves the uncapped/audit tier; at scale the pair artifact a
    * pipeline PUBLISHES is the bounded one, since the uncapped build
    * is the ~n^1.9 job the caps exist to avoid). Both levers
    * ([[BucketCliqueCap]] gate + window, [[PairDegreeCap]]) are baked
    * in at build time; policy queries read the table.
    */
  private def servedPairsCapped(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "dedup_pairs_capped", "doc_a", 8)(
      cappedPairsOf(Tables.documents(spark, dir).select("doc_id", "text")))

  /** Capped component labels SERVED from their artifact — the
    * star-contraction fixpoint runs once per JVM over the capped pair
    * ARTIFACT (see [[dedupComponentsCapped]] for why the capped graph
    * must use the O(log n) path), downstream queries read
    * (doc_id, component).
    */
  private[graft] def servedLabelsCapped(spark: SparkSession, dir: String): DataFrame = {
    val pairs = servedPairsCapped(spark, dir)
    graft.sources.ArtifactStore.ensure(spark, dir, "dedup_labels_capped", "doc_id", 8)(
      connectedComponentsStar(pairs.select("doc_a", "doc_b"))
        .select("doc_id", "component"))
  }

  /** [[dedupPairsCapped]] served: a bucketed scan of the capped pair
    * artifact — shares the self-contained form's oracle (identical
    * relation by construction; ArtifactStoreSpec pins it).
    */
  def dedupPairsCappedServed(spark: SparkSession, dir: String): DataFrame =
    servedPairsCapped(spark, dir).orderBy("doc_a", "doc_b")

  /** [[dedupComponentsCapped]] served: label artifact + the size
    * window — no pair search, no fixpoint in the query.
    */
  def dedupComponentsCappedServed(spark: SparkSession, dir: String): DataFrame =
    withComponentSize(servedLabelsCapped(spark, dir))

  /** [[dedupKeepBestCapped]] served: capped labels from the artifact;
    * the quality scan is the query's own map-side work.
    */
  def dedupKeepBestCappedServed(spark: SparkSession, dir: String): DataFrame =
    keepBestOver(spark, dir, servedLabelsCapped(spark, dir))

  /** The banded signature index SERVED from its artifact table
    * (doc_id, band_idx, bk — 8 band keys per doc): what
    * [[dedupIncremental]]'s scaladoc describes as "the corpus
    * signature index is maintained as a table", now literally one.
    */
  private[graft] def servedSigs(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "dedup_sigs", "doc_id", 8)(
      bandKeysOf(Tables.documents(spark, dir)))

  /** Scan depth of the CAPPED signature index ([[servedSigsCapped]]):
    * per band bucket the first `SigScanCap` members by doc_id remain.
    * Sized as [[BucketCliqueCap]] + [[BucketWindow]] so a bucket the
    * batch capped probe treats as a full clique (occupancy ≤ 16) is
    * retained WHOLE — the capped index is lossless exactly where the
    * batch gate is — and a denser bucket exposes a bounded scan
    * prefix, the `lsh_keys_capped` rule applied to the text signature
    * index.
    */
  private[graft] val SigScanCap = BucketCliqueCap + BucketWindow

  /** The banded signature index with the scan-depth cap BAKED INTO the
    * artifact — the index a CONTINUOUS ingest probes on a
    * duplicate-heavy corpus ([[graft.streaming.StreamOps
    * .nearDupAdmissionStream]] takes the index as a parameter; passing
    * this one bounds per-probe candidates ∝ bands × [[SigScanCap]],
    * corpus-independent, where the uncapped index costs ∝ bucket
    * occupancy ∝ corpus). A streaming arrival has no rank position in
    * the index (unlike the batch probe's rank window in
    * [[dedupIncrementalCappedOver]]), so the right lever is the scan
    * depth: new docs probe with their full band keys, they just
    * cannot SEE past the cap depth — the `ann_rrf_fusion_capped`
    * bucket rule. The trade is visibility of duplicates whose only
    * index partners sit past the prefix; exact-dup arrivals still hit
    * (every prefix member is an exact partner in an identical-doc
    * bucket), which StreamingSpec pins together with the bound
    * itself.
    */
  private[graft] def servedSigsCapped(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "dedup_sigs_capped", "doc_id", 8) {
      val w = Window.partitionBy(col("band_idx"), col("bk"))
        .orderBy(col("doc_id"))
      bandKeysOf(Tables.documents(spark, dir))
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <= SigScanCap).drop("pos")
    }

  /** The distinct bigram-shingle relation SERVED from its write-once
    * gram-bucketed artifact — the "postings" side of the pair search:
    * with `dedup_sigs` (candidates) and this table (verification), the
    * full verified-Jaccard pair query becomes one statement over two
    * hot tables, which is what [[SqlSurface.dedupPairsSql]] runs; the
    * gram bucketing makes the intersection join exchange-free on the
    * artifact side.
    */
  private[operators] def servedShingles(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "dedup_sh", "gram", 8)(
      shinglesOf(Tables.documents(spark, dir)))

  /** [[dedupIncremental]] served: band keys come from the signature
    * artifact, and shingles are exploded ONLY for documents touched by
    * a candidate pair (new docs + their candidates — the sliver), not
    * the whole corpus. Probe work ∝ batch × touched buckets +
    * candidate verification; the corpus text is read only through the
    * candidate-id semi-join — the admission shape a 100 TB ingest
    * actually runs against its hot signature table. Measured honestly
    * at sf0.1: solo-cold the base form's full explode is CHEAPER
    * (1.98 vs 2.27 s — the sliver's constant overhead on a toy
    * corpus); warm same-JVM the two are level (~1.8-1.9 s both). The
    * served form's work is ∝ batch + candidates instead of ∝ corpus,
    * so the curves separate as corpus/batch grows — the regime the
    * operator exists for (the residual-PQ precedent: keep the
    * published shape, measure both, state which regime each wins).
    *
    * MEASURED LIMIT (r15 organic ×10, PLANS.md): with the pinned
    * batch = 25% of corpus, the probe's candidates grow ∝ batch ×
    * bucket occupancy — byte exp 1.57 (3 MB → 114 MB) on the
    * duplicate-heavy corpus, the same occupancy disease
    * [[cappedPairsOf]] gates. A real ingest holds the batch FIXED
    * while the corpus grows (ScalePointBench's `crossover` regime), so the
    * production exponent is occupancy's alone; a bounded admission
    * twin (the occupancy-gated candidate lever applied to the probe)
    * is the named follow-up.
    */
  def dedupIncrementalServed(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalServedOver(servedSigs(spark, dir),
      Tables.documents(spark, dir), col("doc_id") % NewMod === 0)

  /** The served-form admission math over an arbitrary signature table
    * (doc_id, band_idx, bk), corpus, and batch predicate — probe work
    * ∝ batch + candidates, the corpus text read only through the
    * candidate semi-join. Exposed for the `crossover` section of
    * [[graft.ScalePointBench]].
    */
  private[graft] def dedupIncrementalServedOver(sigTable: DataFrame,
      docs: DataFrame, isNew: Column): DataFrame = {
    val candidates = bandProbe(sigTable.withColumn("is_new", isNew))
      .select("new_id", "cand_id").distinct()
      // LAZY checkpoint, unlike the base form's eager one: with the
      // signature index served from a table the candidate subtree is
      // cheap to plan, and the eager variant serializes the whole
      // query behind one blocking materialization job
      .localCheckpoint(false)
    admissionVerdictOver(candidates, touchedShingles(candidates, docs), docs, isNew)
  }

  /** The shingles of ONLY the documents a candidate pair touches (new
    * docs + their candidates) — the served and capped probes verify
    * over this sliver, so their work is ∝ candidates, never ∝ corpus.
    */
  private def touchedShingles(candidates: DataFrame, docs: DataFrame): DataFrame = {
    val touched = candidates.select(col("new_id").as("doc_id"))
      .union(candidates.select(col("cand_id").as("doc_id"))).distinct()
    shinglesOf(docs.join(touched, Seq("doc_id"), "left_semi"))
      .localCheckpoint()
  }

  /** The shared admission tail — exact-Jaccard verification of a
    * (new_id, cand_id) candidate relation over the shingle relation
    * `sh` (the full corpus for the base form, [[touchedShingles]] for
    * the served and capped probes), then one best-match verdict per
    * batch doc.
    */
  private def admissionVerdictOver(candidates: DataFrame, sh: DataFrame,
      docs: DataFrame, isNew: Column): DataFrame = {
    val jac = interSizes(candidates, sh, "new_id", "cand_id")
      .withColumn("jaccard", jaccardOf)
      .filter(col("jaccard") >= JaccardThreshold)
    // windows only the matched relation (tiny), same discipline as
    // dedupKeepBest — never the whole batch
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("cand_id"))
    val best = jac.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("new_id"), col("cand_id").as("match_id"),
        col("jaccard").as("match_jaccard"))
    docs.select(col("doc_id"))
      .filter(isNew)
      .join(best, col("doc_id") === col("new_id"), "left")
      .select(col("doc_id"), col("match_id"), col("match_jaccard"),
        when(col("match_id").isNotNull, lit("drop")).otherwise(lit("admit"))
          .as("action"))
      .orderBy(col("doc_id"))
  }

  /** [[dedupIncrementalServed]]'s BOUNDED production twin — the
    * occupancy-gated candidate lever of [[cappedPairsOf]] applied to
    * the admission probe (the r15 finding: with batch ∝ corpus the
    * served probe's candidates grow ∝ batch × bucket occupancy, byte
    * exp 1.57 at the organic ×10 point — the same occupancy disease
    * the capped pair tier gates). A band bucket with ≤
    * [[BucketCliqueCap]] members keeps the full probe (lossless
    * there); a DENSER bucket is sorted by doc_id and each new doc only
    * probes members within [[BucketWindow]] ranks of its own position
    * (read off the [[successors]] window — ≤ 2·w candidate rows per
    * new member per band by construction, no occupancy² enumeration
    * anywhere in the plan). Verification and the verdict are the
    * shared exact tail, so a capped verdict carries true Jaccard
    * values; what the cap trades is WHICH matches are visible — a new
    * doc in a dense bucket whose only duplicates sit outside its rank
    * window is admitted where the uncapped probe drops it. Admission
    * recall is measured (DedupCappedSpec), and the oracle replays the
    * gate, the window, and the validity rule exactly.
    */
  def dedupIncrementalCapped(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalCappedOver(servedSigs(spark, dir),
      Tables.documents(spark, dir), col("doc_id") % NewMod === 0)

  /** The capped admission math over an arbitrary signature table —
    * exposed for the fixed-batch `crossover` section of
    * [[graft.ScalePointBench]].
    */
  private[graft] def dedupIncrementalCappedOver(sigTable: DataFrame,
      docs: DataFrame, isNew: Column): DataFrame = {
    val marked = successors(sigTable.withColumn("is_new", isNew), BandBucket,
        Seq(col("doc_id")), BucketWindow, Seq("doc_id", "is_new"))
      .localCheckpoint(false) // both clique sides + the successor side
    val smallCand = bandProbe(marked.filter(col("occ") <= BucketCliqueCap))
      .select("new_id", "cand_id")
    // a successor pair with one new member probes (new, cand); two new
    // members pair once, the larger id as the new side — together the
    // ±BucketWindow rank rule of the oracle
    val denseCand = marked.filter(col("occ") > BucketCliqueCap)
      .select(col("doc_id"), col("is_new"), explode(col("next")).as("nxt"))
      .filter(col("is_new") || col("nxt.is_new"))
      .select(when(col("nxt.is_new"), col("nxt.doc_id")).otherwise(col("doc_id")).as("new_id"),
        when(col("nxt.is_new"), col("doc_id")).otherwise(col("nxt.doc_id")).as("cand_id"))
    val candidates = smallCand.union(denseCand).distinct()
      .localCheckpoint(false)
    admissionVerdictOver(candidates, touchedShingles(candidates, docs), docs, isNew)
  }

  /** Fraction of documents treated as the incoming batch: doc_id % 4
    * == 0 (~25%); the rest are the already-admitted corpus.
    */
  private val NewMod = 4

  /** Incremental near-dup admission — the streaming-ingest shape of
    * MinHash dedup: an incoming batch is checked against the EXISTING
    * corpus's signature index plus its own earlier arrivals, and
    * old-vs-old pairs are never re-examined. At 100 TB this is the
    * operating mode that matters: the corpus signature index (16
    * longs + 8 band keys per doc) is maintained as a table, and each
    * ingest batch joins its band keys against it — work proportional
    * to the batch and the touched buckets, not the corpus. Batch
    * membership here is derived (doc_id mod 4) so the oracle can see
    * the same split; arrival order within the batch = doc_id order.
    * Output: one admission verdict per new doc, with its best
    * surviving match (highest verified Jaccard, ties to the smallest
    * doc_id).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame =
    dedupIncrementalOver(
      Tables.documents(spark, dir), col("doc_id") % NewMod === 0)

  /** The base-form admission math over an arbitrary (doc_id, text)
    * corpus and batch predicate — full shingle explode + minhash over
    * EVERYTHING (work ∝ corpus), then the band-key probe. Exposed so
    * the `crossover` section of [[graft.ScalePointBench]] can hold
    * the batch fixed while the corpus grows — the regime comparison
    * against [[dedupIncrementalServedOver]].
    */
  private[graft] def dedupIncrementalOver(docs: DataFrame,
      isNew: Column): DataFrame = {
    val sh = shinglesOf(docs).localCheckpoint()
    val sigLong = bandKeys(minhashFromShingles(sh))
      .withColumn("is_new", isNew)
      .localCheckpoint() // read twice: probe side + index side
    admissionVerdictOver(bandProbe(sigLong).select("new_id", "cand_id").distinct(),
      sh, docs, isNew)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental"   -> (dedupIncremental _),
    "dedup_exact"         -> (dedupExact _),
    "dedup_components"    -> (dedupComponents _),
    "dedup_cluster_stats" -> (dedupClusterStats _),
    "dedup_keep_best"     -> (dedupKeepBest _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _),
    "dedup_minhash"       -> (dedupMinhash _),
    "dedup_minhash_est"   -> (dedupMinhashEst _),
    "dedup_lsh_sensitivity" -> (dedupLshSensitivity _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_prefix_filter" -> (dedupPrefixFilter _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_components_star" -> (dedupComponentsStar _),
    "dedup_simhash"       -> (dedupSimhash _),
    "dedup_simhash_pairs" -> (dedupSimhashPairs _),
    "dedup_simhash_sensitivity" -> (dedupSimhashSensitivity _),
    "dedup_embedding"     -> (dedupEmbedding _),
    "dedup_semantic"      -> (dedupSemantic _),
    "dedup_pairs_capped"  -> (dedupPairsCapped _),
    "dedup_components_capped" -> (dedupComponentsCapped _),
    "dedup_keep_best_capped" -> (dedupKeepBestCapped _),
    "dedup_pairs_capped_served" -> (dedupPairsCappedServed _),
    "dedup_components_capped_served" -> (dedupComponentsCappedServed _),
    "dedup_keep_best_capped_served" -> (dedupKeepBestCappedServed _),
    "dedup_components_served" -> (dedupComponentsServed _),
    "dedup_cluster_stats_served" -> (dedupClusterStatsServed _),
    "dedup_keep_best_served" -> (dedupKeepBestServed _),
    "dedup_incremental_served" -> (dedupIncrementalServed _),
    "dedup_incremental_capped" -> (dedupIncrementalCapped _),
    "dedup_simhash_pairs_served" -> (dedupSimhashPairsServed _))

  /** One (doc_id, bi, bk) row per band of every `sig` signature. */
  private lazy val bandUnion: String = (0 until NumBands)
    .map(b => s"SELECT doc_id, $b AS bi, band$b AS bk FROM sig")
    .mkString(" UNION ALL ")

  /** Signatures + LSH candidate pairs as CTEs ending in `cpairs` —
    * shared by the estimate, exact-jaccard, and components oracles.
    */
  private def cpairsCtesOver(rel: String): String = {
    // the band key carries its band INDEX and the join matches on
    // (bi, bk) exactly like every Spark-side candidate join — on bk
    // alone a cross-band md5-prefix collision would create an
    // oracle-only candidate pair (ADVICE r5; probability ~2^-64, but
    // the two sides should express the same relation, not nearly)
    s"""${minhashCteOver(rel)},
       |cpairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM ($bandUnion) a
       |  JOIN ($bandUnion) b
       |    ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin
  }
  /** Recursive-CTE connected components over the Jaccard pair graph,
    * ending in `comp(doc_id, component)` — the oracle twin of
    * [[connectedComponents]], shared by the components/keep-best
    * oracles here and `Pipeline`'s group-aware split oracle. Must sit
    * inside a `WITH RECURSIVE`.
    */
  private[operators] lazy val componentsCtes: String =
    s"""$jaccardCtes,
       |${componentsOver("jpairs")}""".stripMargin

  /** The `edges`, `reach` and `comp` CTEs of the components over the
    * (doc_a, doc_b) pair CTE `pairs`.
    */
  private def componentsOver(pairs: String): String =
    s"""edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM $pairs
       |  UNION ALL SELECT doc_b, doc_a FROM $pairs),
       |reach(u, v) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
       |comp AS (SELECT u AS doc_id, min(v) AS component FROM reach GROUP BY u)""".stripMargin

  private val cpairsCtes: String = {
    cpairsCtesOver("documents")
  }

  /** `marked` (each band row with its bucket occupancy from `bocc`)
    * and `dense` (the rows of over-cap buckets, ranked by doc id) CTEs
    * of the capped pair builds.
    */
  private def markedDenseCtes: String =
    s"""marked AS (
       |  SELECT b.doc_id, b.bi, b.bk, o.c
       |  FROM bands b JOIN bocc o ON b.bi = o.bi AND b.bk = o.bk),
       |dense AS (
       |  SELECT doc_id, bi, bk,
       |    row_number() OVER (PARTITION BY bi, bk ORDER BY doc_id) AS r
       |  FROM marked WHERE c > $BucketCliqueCap)""".stripMargin

  /** The CAPPED pair build as CTEs ending in `kpairs` — the oracle
    * replays BOTH levers of [[cappedPairsOf]] exactly: the same
    * bucket-minimum hub choice and the same (jaccard DESC, neighbor
    * ASC) degree-cap ranking, so the driver compare pins the caps
    * themselves, not just the surviving values.
    */
  private def cappedPairsCtesOver(rel: String): String = {
    s"""${minhashCteOver(rel)},
       |bands AS ($bandUnion),
       |bocc AS (
       |  SELECT bi, bk, count(*) AS c
       |  FROM bands GROUP BY bi, bk),
       |$markedDenseCtes,
       |spairs AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |    FROM marked a JOIN marked b
       |      ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
       |    WHERE a.c <= $BucketCliqueCap
       |    UNION ALL
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM dense x JOIN dense y
       |      ON x.bi = y.bi AND x.bk = y.bk
       |      AND y.r > x.r AND y.r <= x.r + $BucketWindow) u),
       |${jaccardVerified("spairs", "vpairs")},
       |keep AS (
       |  SELECT DISTINCT least(d, o) AS doc_a, greatest(d, o) AS doc_b
       |  FROM (
       |    SELECT d, o,
       |      row_number() OVER (PARTITION BY d ORDER BY jaccard DESC, o) AS rk
       |    FROM (SELECT doc_a AS d, doc_b AS o, jaccard FROM vpairs
       |          UNION ALL SELECT doc_b, doc_a, jaccard FROM vpairs))
       |  WHERE rk <= $PairDegreeCap),
       |kpairs AS (
       |  SELECT v.doc_a, v.doc_b, v.n_inter, v.jaccard
       |  FROM vpairs v JOIN keep USING (doc_a, doc_b))""".stripMargin
  }

  /** Recursive-CTE components over the CAPPED pair graph, ending in
    * `comp` — the capped twin of [[componentsCtes]].
    */
  private lazy val cappedComponentsCtes: String =
    s"""${cappedPairsCtesOver("documents")},
       |${componentsOver("kpairs")}""".stripMargin

  /** The jaccard pair relation as reusable CTEs ending in `jpairs`
    * over an arbitrary (doc_id, text) relation — shared (via
    * [[jaccardCtes]]) by the pair and connected-components oracles,
    * and directly by the maintenance-tier oracle, which builds the
    * relation over a deterministic corpus subset CTE
    * ([[MaintQueries]]).
    */
  private[graft] def jaccardCtesOver(rel: String): String = {
    s"""${cpairsCtesOver(rel)},
       |${jaccardVerified("cpairs", "jpairs")}""".stripMargin
  }

  private val jaccardCtes: String = jaccardCtesOver("documents")

  /** `sizes`, `inter` and `out` CTEs: the (doc_a, doc_b) candidate
    * pairs of CTE `cand` whose exact shingle Jaccard (over `sh`)
    * reaches [[JaccardThreshold]], with n_inter and jaccard.
    */
  private def jaccardVerified(cand: String, out: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
       |  FROM $cand p
       |  JOIN sh sa ON sa.doc_id = p.doc_a
       |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.gram = sa.gram
       |  GROUP BY p.doc_a, p.doc_b),
       |$out AS (
       |  SELECT doc_a, doc_b, n_inter,
       |    round(n_inter * 1.0 / (za.n_grams + zb.n_grams - n_inter), 6) AS jaccard
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = doc_a
       |  JOIN sizes zb ON zb.doc_id = doc_b
       |  WHERE round(n_inter * 1.0 / (za.n_grams + zb.n_grams - n_inter), 6) >= $JaccardThreshold)""".stripMargin

  /** SimHash fingerprints as CTEs ending in `sim` — shared by the
    * fingerprint dump and the banded pair-search oracle. The 64-bit
    * fingerprint assembles the same way the DCT oracle's does: bit 63
    * cannot be built as `1 << 63` in DuckDB (overflow check), so it
    * contributes Long.MinValue directly, summed in HUGEINT and cast —
    * exact because the winning-bit masks are disjoint.
    */
  private val simhashCtes: String = {
    val votes = (0 until 64).map { b =>
      val half = if (b < 32) "h0" else "h1"
      s"sum(CASE WHEN (($half >> ${b % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS s$b"
    }.mkString(", ")
    val fp = (0 until 64).map { b =>
      if (b == 63)
        "CASE WHEN s63 > 0 THEN CAST(-9223372036854775808 AS HUGEINT) ELSE CAST(0 AS HUGEINT) END"
      else s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) AS h0,
       |    CAST(('0x' || substr(md5(t.tok), 9, 8)) AS BIGINT) AS h1
       |  FROM documents, unnest(string_split_regex(trim(text), '\\s+')) t(tok)),
       |v AS (SELECT doc_id, $votes FROM tok GROUP BY doc_id),
       |sim AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  private val simhashSql: String =
    s"WITH $simhashCtes SELECT doc_id, simhash FROM sim ORDER BY doc_id"

  private val oraclesBase: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, md5(lower(trim(text))) AS content_hash,
        |  min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS canonical_id,
        |  count(*) OVER (PARTITION BY md5(lower(trim(text)))) AS cluster_size,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS is_duplicate
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_minhash" ->
      s"WITH $minhashCte SELECT * FROM sig ORDER BY doc_id",
    "dedup_minhash_est" -> {
      val matches = (0 until NumHashes)
        .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $cpairsCtes
         |SELECT doc_a, doc_b,
         |  round(($matches) / $NumHashes.0, 6) AS est_jaccard
         |FROM cpairs p
         |JOIN sig a ON a.doc_id = p.doc_a
         |JOIN sig b ON b.doc_id = p.doc_b
         |WHERE round(($matches) / $NumHashes.0, 6) >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "dedup_lsh_sensitivity" -> {
      val matches = (0 until NumHashes)
        .map(j => s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END").mkString(" + ")
      val pCols = LshConfigs.map { case (b, r) =>
        s"round(1.0 - pow(1.0 - pow(g.i / $NumHashes.0, $r), $b), 6) AS p_b${b}r$r"
      }.mkString(",\n  ")
      s"""WITH $cpairsCtes,
         |mm AS (
         |  SELECT doc_a, doc_b, ($matches) AS n_match
         |  FROM cpairs p
         |  JOIN sig a ON a.doc_id = p.doc_a
         |  JOIN sig b ON b.doc_id = p.doc_b),
         |obs AS (SELECT n_match, count(*) AS n_pairs FROM mm GROUP BY n_match)
         |SELECT CAST(g.i AS BIGINT) AS n_match,
         |  round(g.i / $NumHashes.0, 6) AS est_jaccard,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  $pCols
         |FROM (SELECT unnest(generate_series(0, $NumHashes)) AS i) g
         |LEFT JOIN obs ON obs.n_match = g.i
         |ORDER BY n_match""".stripMargin
    },
    "dedup_ngram_jaccard" ->
      s"WITH $jaccardCtes SELECT * FROM jpairs ORDER BY doc_a, doc_b",
    // Pure all-pairs definition, NO candidate mechanism mirrored: the
    // prefix filter is lossless, so the driver compare doubles as the
    // losslessness proof. 5-token spans (see PrefixShingleN).
    "dedup_prefix_filter" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT doc_id, gram FROM (
         |    SELECT doc_id, array_to_string(toks[i:i + ${PrefixShingleN - 1}], ' ') AS gram
         |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |          FROM documents) d,
         |         unnest(generate_series(1, len(toks) - ${PrefixShingleN - 1})) t(i)
         |    WHERE len(toks) >= $PrefixShingleN)),
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
         |  FROM sh a JOIN sh b ON a.gram = b.gram AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_inter,
         |  round(n_inter * 1.0 / (sa.n_grams + sb.n_grams - n_inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON doc_a = sa.doc_id
         |JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE round(n_inter * 1.0 / (sa.n_grams + sb.n_grams - n_inter), 6)
         |  >= $JaccardThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_incremental" -> {
      s"""WITH $minhashCte,
         |bands AS ($bandUnion),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS cand_id
         |  FROM bands n JOIN bands c ON n.bi = c.bi AND n.bk = c.bk
         |  WHERE n.doc_id % $NewMod = 0
         |    AND (c.doc_id % $NewMod <> 0 OR c.doc_id < n.doc_id)),
         |$incrementalVerdictsSql""".stripMargin
    },
    "dedup_containment" ->
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $ExcerptIdOffset,
         |    array_to_string(list_slice(toks, 1, CAST(ceil(len(toks) * 0.4) AS INT)), ' ')
         |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
         |        FROM documents)
         |  WHERE doc_id % $ExcerptMod = 0),
         |${cpairsCtesOver("docs")},
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
         |  FROM cpairs p
         |  JOIN sh sa ON sa.doc_id = p.doc_a
         |  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.gram = sa.gram
         |  GROUP BY p.doc_a, p.doc_b)
         |SELECT doc_a, doc_b, n_inter,
         |  round(n_inter * 1.0 / least(za.n_grams, zb.n_grams), 6) AS containment,
         |  round(n_inter * 1.0 / (za.n_grams + zb.n_grams - n_inter), 6) AS jaccard,
         |  round(n_inter * 1.0 / (za.n_grams + zb.n_grams - n_inter), 6)
         |    < $JaccardThreshold AS is_asymmetric
         |FROM inter
         |JOIN sizes za ON za.doc_id = doc_a
         |JOIN sizes zb ON zb.doc_id = doc_b
         |WHERE round(n_inter * 1.0 / least(za.n_grams, zb.n_grams), 6)
         |  >= $ContainmentThreshold
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_keep_best" ->
      keepBestOracle(componentsCtes),
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE $componentsCtes,
         |docstats AS (
         |  SELECT component, count(*) AS n_docs, max(doc_id) AS max_doc
         |  FROM comp GROUP BY 1),
         |estats AS (
         |  SELECT c.component, count(*) AS n_edges
         |  FROM jpairs j JOIN comp c ON j.doc_a = c.doc_id GROUP BY 1)
         |SELECT component, n_docs, max_doc, n_edges
         |FROM docstats JOIN estats USING (component)
         |ORDER BY component""".stripMargin,
    "dedup_components" ->
      componentsOracle(componentsCtes),
    // identical oracle on purpose: the star-contraction path must
    // reproduce min-label propagation's labelling exactly
    "dedup_components_star" ->
      componentsOracle(componentsCtes),
    "dedup_pairs_capped" ->
      s"""WITH ${cappedPairsCtesOver("documents")}
         |SELECT doc_a, doc_b, n_inter, jaccard FROM kpairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_components_capped" ->
      componentsOracle(cappedComponentsCtes),
    "dedup_keep_best_capped" ->
      keepBestOracle(cappedComponentsCtes),
    "dedup_simhash" -> simhashSql,
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCandCtes
         |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(fa, fb)) <= $SimhashRadius
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_simhash_sensitivity" -> {
      val rows = (0 to SimhashSensGrid).map { h =>
        s"($h, ${bandRecall6(64, 4, h)}, ${bandRecall6(64, 8, h)}, ${bandRecall6(64, 16, h)})"
      }.mkString(",\n  ")
      s"""WITH $simhashCandCtes,
         |obs AS (
         |  SELECT CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming,
         |    count(*) AS n_pairs
         |  FROM cand WHERE bit_count(xor(fa, fb)) <= $SimhashRadius
         |  GROUP BY 1),
         |grid(hamming, p_b4x16, p_b8x8, p_b16x4) AS (VALUES
         |  $rows)
         |SELECT CAST(g.hamming AS BIGINT) AS hamming,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  g.p_b4x16, g.p_b8x8, g.p_b16x4
         |FROM grid g LEFT JOIN obs ON obs.hamming = g.hamming
         |ORDER BY hamming""".stripMargin
    },
    "dedup_embedding_lsh" ->
      s"""WITH ${AnnSearch.bucketCte},
         |pairs AS (
         |  SELECT ba.vec_id AS id_a, bb.vec_id AS id_b, ba.bucket
         |  FROM buck ba JOIN buck bb
         |    ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id)
         |SELECT p.bucket, p.id_a, p.id_b,
         |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         |FROM pairs p
         |JOIN embeddings a ON a.vec_id = p.id_a
         |JOIN embeddings b ON b.vec_id = p.id_b
         |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_semantic" ->
      s"""WITH ${AnnSearch.kmeansCtes},
         |lab AS (SELECT vec_id, cl AS cluster FROM ${AnnSearch.kmeansFinalCte}),
         |pairs AS (
         |  SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM lab a JOIN lab b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |SELECT p.cluster, p.id_a, p.id_b,
         |  round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS cosine
         |FROM pairs p
         |JOIN embeddings ea ON ea.vec_id = p.id_a
         |JOIN embeddings eb ON eb.vec_id = p.id_b
         |WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_embedding" ->
      """SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
        |ORDER BY id_a, id_b""".stripMargin)

  /** The served twins answer from artifacts equal to the inline-built
    * relations, so the base SQL hash-checks both forms.
    */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "dedup_components_served" -> oraclesBase("dedup_components"),
    "dedup_cluster_stats_served" -> oraclesBase("dedup_cluster_stats"),
    "dedup_keep_best_served" -> oraclesBase("dedup_keep_best"),
    // the capped serving tier computes the identical relations from
    // the pre-capped artifacts — same oracles (the established
    // served/self-contained aliasing convention)
    "dedup_pairs_capped_served" -> oraclesBase("dedup_pairs_capped"),
    "dedup_components_capped_served" -> oraclesBase("dedup_components_capped"),
    "dedup_keep_best_capped_served" -> oraclesBase("dedup_keep_best_capped"),
    "dedup_incremental_served" -> oraclesBase("dedup_incremental"),
    "dedup_incremental_capped" -> cappedIncrementalOracle,
    "dedup_simhash_pairs_served" -> oraclesBase("dedup_simhash_pairs"))

  /** The admission verdict per new document from the `cand`
    * (new_id, cand_id) CTE: its best Jaccard-verified match, `drop`
    * when one exists, else `admit`.
    */
  private lazy val incrementalVerdictsSql: String =
    s"""sizes AS (SELECT doc_id, count(*) AS n_grams FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT p.new_id, p.cand_id, count(*) AS n_inter
       |  FROM cand p
       |  JOIN sh sa ON sa.doc_id = p.new_id
       |  JOIN sh sb ON sb.doc_id = p.cand_id AND sb.gram = sa.gram
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i.new_id, i.cand_id,
       |    round(n_inter * 1.0 / (za.n_grams + zb.n_grams - n_inter), 6)
       |      AS jaccard
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.new_id
       |  JOIN sizes zb ON zb.doc_id = i.cand_id
       |  WHERE round(n_inter * 1.0 / (za.n_grams + zb.n_grams - n_inter), 6)
       |    >= $JaccardThreshold),
       |best AS (
       |  SELECT new_id, cand_id AS match_id, jaccard AS match_jaccard,
       |    row_number() OVER (PARTITION BY new_id
       |      ORDER BY jaccard DESC, cand_id) AS rk
       |  FROM jac)
       |SELECT d.doc_id, b.match_id, b.match_jaccard,
       |  CASE WHEN b.match_id IS NOT NULL THEN 'drop' ELSE 'admit' END
       |    AS action
       |FROM documents d
       |LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.new_id = d.doc_id
       |WHERE d.doc_id % $NewMod = 0
       |ORDER BY d.doc_id""".stripMargin

  /** The components oracle over `ctes`, which end in `comp`. */
  private def componentsOracle(ctes: String): String =
    s"""WITH RECURSIVE $ctes
       |SELECT doc_id, component,
       |  count(*) OVER (PARTITION BY component) AS component_size
       |FROM comp ORDER BY doc_id""".stripMargin

  /** The keep-best oracle over `ctes`, which end in `comp`: the best
    * quality score per component is kept, unclustered docs always.
    */
  private def keepBestOracle(ctes: String): String =
    s"""WITH RECURSIVE $ctes,
       |scored AS (
       |  SELECT doc_id, ${graft.operators.TextAnalysis.qualityScoreSql("text")} AS quality_score
       |  FROM documents),
       |ranked AS (
       |  SELECT c.doc_id, c.component, s.quality_score,
       |    row_number() OVER (PARTITION BY c.component
       |      ORDER BY s.quality_score DESC, c.doc_id) AS rk
       |  FROM comp c JOIN scored s USING (doc_id))
       |SELECT s.doc_id,
       |  coalesce(r.component, s.doc_id) AS component,
       |  s.quality_score,
       |  coalesce(r.rk = 1, TRUE) AS is_kept
       |FROM scored s LEFT JOIN ranked r USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin

  /** SimHash fingerprints ([[simhashCtes]]) plus `bands` and `cand`:
    * the distinct same-band fingerprint pairs, doc_a < doc_b.
    */
  private lazy val simhashCandCtes: String =
    s"""$simhashCtes,
       |bands AS (
       |  SELECT doc_id, simhash, b.b AS band_idx,
       |    (simhash >> ($SimhashBandBits * b.b)) & ${(1L << SimhashBandBits) - 1} AS band_bits
       |  FROM sim, generate_series(0, ${SimhashBands - 1}) b(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS fa, b.simhash AS fb
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
       |    AND a.doc_id < b.doc_id)""".stripMargin

  /** The capped admission probe's own oracle — replays the occupancy
    * gate, the rank window, and the old-or-earlier validity rule of
    * [[dedupIncrementalCappedOver]] exactly, so the oracle compare
    * pins the cap itself, not just the surviving verdicts.
    */
  private lazy val cappedIncrementalOracle: String = {
    s"""WITH $minhashCte,
       |bands AS ($bandUnion),
       |bocc AS (SELECT bi, bk, count(*) AS c FROM bands GROUP BY bi, bk),
       |$markedDenseCtes,
       |cand AS (
       |  SELECT DISTINCT new_id, cand_id FROM (
       |    SELECT n.doc_id AS new_id, c.doc_id AS cand_id
       |    FROM marked n JOIN marked c ON n.bi = c.bi AND n.bk = c.bk
       |    WHERE n.c <= $BucketCliqueCap AND n.doc_id % $NewMod = 0
       |      AND (c.doc_id % $NewMod <> 0 OR c.doc_id < n.doc_id)
       |    UNION ALL
       |    SELECT x.doc_id AS new_id, y.doc_id AS cand_id
       |    FROM dense x JOIN dense y ON x.bi = y.bi AND x.bk = y.bk
       |    WHERE x.doc_id % $NewMod = 0
       |      AND y.r <> x.r AND abs(y.r - x.r) <= $BucketWindow
       |      AND (y.doc_id % $NewMod <> 0 OR y.doc_id < x.doc_id)) u),
       |$incrementalVerdictsSql""".stripMargin
  }
}
