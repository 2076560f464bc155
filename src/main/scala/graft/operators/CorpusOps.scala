package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextAnalysis.{gram, toks, windows, words}

/** Corpus curation operators — the selection/hygiene passes a
  * training-data pipeline runs between dedup and training: stratified
  * sampling, per-source token budgeting, PII scrubbing, and benchmark
  * decontamination. (The reference curates a product catalog the same
  * way at item granularity: deterministic filters + defaulting,
  * batch_processor.py:572-726; these are the corpus-scale analogues.)
  *
  * Sampling and scrubbing are scan→project (no shuffle); budgeting is
  * one shuffle on source; decontamination is one gram-keyed join
  * against a broadcast benchmark gram set. All selection is
  * hash-deterministic, never random: reruns and engines agree
  * bit-for-bit, and a document's fate never changes as the corpus
  * around it grows.
  */
object CorpusOps {

  /** 32-bit md5-derived hash, stable across engines (same family as
    * Dedup/Pipeline).
    */
  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("bigint")
  private def h32Sql(e: String): String =
    s"CAST(('0x' || substr(md5($e), 1, 8)) AS BIGINT)"

  /** A document's whitespace word count. */
  private def nWords: Column = size(words(col("text"))).cast("bigint")

  /** Per-language sampling rates out of 1000 — the mixture knob:
    * downsample the dominant language, keep the tail whole.
    */
  private val SampleRates: Map[String, Int] =
    Map("en" -> 400).withDefaultValue(1000)
  private val RateSql =
    "CASE WHEN lang = 'en' THEN 400 ELSE 1000 END"

  /** Stratified (per-language) deterministic sampling: a document is
    * kept iff its id-hash bucket falls under the language's rate. No
    * shuffle, no RNG — membership is a pure function of (doc_id, lang),
    * so the sample is reproducible and only ever GROWS as new docs
    * arrive (existing decisions never flip). At 100 TB this is a
    * map-only filter pass.
    */
  def corpusSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rate = SampleRates.foldLeft(lit(1000)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("bucket", h32(concat(lit("sample:"), col("doc_id"))) % 1000)
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Per-source token budget: order each source's documents by length
    * (longest first, id tie-break) and keep documents while the running
    * token total stays within the budget — the "data mixture" cut that
    * caps each source's contribution. The running total is the
    * two-phase [[keyedCumsum]], so parallelism scales with data size,
    * not with the handful of distinct sources.
    */
  private val TokenBudget = 1000L

  def corpusTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val sized = Tables.documents(spark, dir)
      .withColumn("n_tokens", nWords)
      .select("doc_id", "source", "n_tokens") // prune text off the shuffle
    keyedCumsum(sized, key = "source",
        order = Seq(col("n_tokens").desc, col("doc_id")),
        sizeCol = "n_tokens", out = "cum_tokens")
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Length-bucket width (tokens) for the batch-formation planner. */
  private val LenBucket = 64L

  /** LENGTH-BUCKETED batching plan — the padding-waste audit every
    * training pipeline runs before choosing its batch-formation
    * strategy: documents grouped into fixed 64-token length bins (per
    * source), each bin reporting document count, real token mass, the
    * padded mass a naive pad-to-bin-edge batcher would ship to the
    * accelerator, and the waste fraction. All-integer math up to the
    * final rounded ratio, map-side bucket assignment + ONE keyed
    * aggregation — at 100 TB this is a single scan whose output is
    * #sources × #bins rows, the table a batch scheduler reads to pick
    * bucket boundaries.
    */
  def corpusLengthBuckets(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"), nWords.as("n_tokens"))
      // ceil to the bin edge in integer math: ((n-1) div W + 1) * W —
      // `div`, not `/` (Spark's `/` on bigints is double division)
      .withColumn("bucket_len",
        expr(s"((n_tokens - 1) div $LenBucket + 1) * $LenBucket"))
      .groupBy(col("source"), col("bucket_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("padded_tokens", col("bucket_len") * col("n_docs"))
      .withColumn("waste_frac",
        round(lit(1.0) - col("sum_tokens") / col("padded_tokens"), 6))
      .orderBy(col("source"), col("bucket_len"))
  }

  /** Importance resampling — the continuous-weight sampling knob next
    * to the per-group rates (`corpus_sample_stratified`) and
    * temperature mixing (`corpus_mix_rebalance`): each document is
    * kept with probability equal to its own quality score, decided by
    * comparing the score against a deterministic per-doc uniform
    * (md5-derived, in [0, 1)). Hash-based like every sampler here, so
    * the decision is reproducible across runs/engines/reshards and
    * never flips as the corpus grows; map-only, no shuffle. Every row
    * is emitted with its verdict so the result is robust at any scale
    * factor and the selection rate is auditable downstream.
    */
  def corpusImportanceResample(spark: SparkSession, dir: String): DataFrame = {
    val u = round((h32(concat(lit("imp:"), col("doc_id"))) % 1000000L) / 1000000.0, 6)
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality_score"),
        u.as("hash_u"))
      .withColumn("is_kept", col("hash_u") < col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Training context length for sequence packing. */
  private val CtxLen = 256L

  /** GPT-style sequence packing: concatenate each source's documents
    * in a deterministic order (doc_id) with one EOD token between
    * them, then split the token stream at fixed `CtxLen` boundaries —
    * the packing recipe pretraining loaders actually use (documents
    * span context boundaries; no token is padded or dropped). The
    * whole assignment is integer window math: a running token total
    * per source gives each document its stream offset, and its
    * first/last context ids are floor-divisions of the span ends — no
    * iteration, no greedy loop. The running total is the two-phase
    * [[keyedCumsum]], so a 3-source corpus does not collapse to 3
    * tasks. Output: each document's stream placement — packed offset,
    * first / last context, and offset inside its first context.
    */
  def corpusPackContexts(spark: SparkSession, dir: String): DataFrame = {
    packStream(
      Tables.documents(spark, dir).withColumn("n_tok", nWords + 1L) // + EOD
        .select("doc_id", "source", "n_tok"), // prune text off the shuffle
      partCol = "source", sizeCol = "n_tok", unit = CtxLen,
      outPrefix = "ctx", offCols = ("stream_off", "off_in_ctx"))
      .select("doc_id", "source", "n_tok", "stream_off",
        "ctx_first", "ctx_last", "off_in_ctx")
      .orderBy(col("doc_id"))
  }

  /** Two-phase per-key running total — the `etl_batch_assign` recipe
    * (EtlCleaning.batchAssign) generalized to keyed cumsums, so the
    * parallelism of an ordered prefix-sum scales with DATA SIZE instead
    * of partition-key cardinality (3 sources / 3 modalities ≠ 3 tasks):
    *
    *  1. range-partition on (key, order…) — physical partitions are
    *     contiguous slices of each key's globally-ordered stream;
    *  2. cumsum locally within (partition, key) — every task sums only
    *     its own slice;
    *  3. per-(partition, key) slice totals roll up into start offsets
    *     via a window over the tiny (≤ #partitions × keys-per-partition
    *     rows) aggregate, broadcast back onto the slices.
    *
    * The only windows in the plan run over one partition's slice of one
    * key or over the broadcast offsets relation — no per-key window
    * ever sees a key's full stream. `order` must be a total order
    * within each key (include a unique tie-break) or the numbering is
    * nondeterministic.
    */
  private[graft] def keyedCumsum(df: DataFrame, key: String,
      order: Seq[Column], sizeCol: String, out: String): DataFrame = {
    // materialized ONCE: the slices and the offsets aggregate both read
    // this relation, and `_pid` is only meaningful if both sides see the
    // SAME physical range exchange — exchange reuse makes that true in
    // practice, but it is an optimizer behavior, not a contract
    // (ADVICE r5). The checkpoint makes the slice boundaries structural:
    // each reader starts from the one materialized partitioning, the
    // discipline used everywhere else a relation is read twice.
    val base = df.repartitionByRange((col(key) +: order): _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    val localW = Window.partitionBy(col("_pid"), col(key)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("_lcum", sum(col(sizeCol)).over(localW))
    val offsets = local.groupBy(col("_pid"), col(key))
      .agg(max(col("_lcum")).as("_slice_total"))
      .withColumn("_off", coalesce(
        sum(col("_slice_total")).over(Window.partitionBy(col(key))
          .orderBy(col("_pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("_pid"), col(key), col("_off"))
    local.join(broadcast(offsets), Seq("_pid", key))
      .withColumn(out, col("_lcum") + col("_off"))
      .drop("_pid", "_lcum", "_off") // internals only: callers may chain
  }

  /** The stream-concatenation packing math shared by
    * [[corpusPackContexts]] (tokens → contexts) and
    * [[Multimodal.multimodalShardPack]] (bytes → shards): two-phase
    * running size total ([[keyedCumsum]]) → start offset,
    * floor-division first/last unit ids, offset inside the first unit.
    * `greatest` clamps the last id for ZERO-size items landing exactly
    * on a unit boundary (there `floor((cum−1)/unit)` would précede the
    * first id); nonzero sizes are unaffected. Ordered by `doc_id`
    * within the partition key.
    */
  private[operators] def packStream(df: DataFrame, partCol: String,
      sizeCol: String, unit: Long, outPrefix: String,
      offCols: (String, String)): DataFrame = {
    val first = floor((col("cum") - col(sizeCol)) / unit)
    keyedCumsum(df, partCol, Seq(col("doc_id")), sizeCol, out = "cum")
      .withColumn(offCols._1, col("cum") - col(sizeCol))
      .withColumn(s"${outPrefix}_first", first)
      .withColumn(s"${outPrefix}_last",
        greatest(floor((col("cum") - 1) / unit), first))
      .withColumn(offCols._2, pmod(col("cum") - col(sizeCol), lit(unit)))
  }

  /** Reservoir size per language for the weighted sample. */
  private val ReservoirK = 10

  /** WEIGHTED reservoir sampling without replacement (Efraimidis-
    * Spirakis): each language keeps the `ReservoirK` documents winning
    * an exponential race — priority `e = −ln(u)/w`, u a deterministic
    * per-doc uniform, w the doc's own quality score; the k SMALLEST e
    * win, which samples without replacement with probability
    * proportional to weight. This is the quality-weighted counterpart
    * of the uniform `corpus_sample_bottomk`, and it COMPOSES the same
    * native bounded aggregate: the race key is encoded as a
    * fixed-width zero-padded integer string so `bottom_k_by_key`'s
    * string order IS the numeric order, every map task reduces its
    * slice to ≤ k rows per language before the shuffle, and membership
    * is partitioning- and corpus-growth-independent (hash-derived u,
    * no RNG). The window formulation this replaces sorts the whole
    * corpus per language.
    */
  def corpusWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("weight"))
    val u = (h32(concat(lit("res:"), col("doc_id"))) % 1000000L + 0.5) / 1000000.0
    val ekey = lpad(
      round(-log(u) / col("weight") * 1000000, 0).cast("bigint").cast("string"),
      12, "0")
    scored
      .withColumn("ekey", ekey)
      .groupBy(col("lang"))
      .agg(call_function("bottom_k_by_key",
        col("ekey"), col("doc_id"), lit(ReservoirK)).as("sample"))
      .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "doc_id")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("sample_rank"), col("doc_id"))
      .join(scored.select(col("doc_id"), col("weight")), "doc_id")
      .select(col("lang"), col("sample_rank"), col("doc_id"), col("weight"))
      .orderBy(col("lang"), col("sample_rank"))
  }

  /** Epoch seed + docs per output shard for the training-order
    * shuffle/export.
    */
  private val ShuffleSeed = "epoch0"
  private val ShardDocs = 64L

  /** Deterministic corpus shuffle + shard export — the dataloader-prep
    * step between curation and training: examples must reach the
    * trainer in an order DECOUPLED from storage order (storage is
    * clustered by source/crawl, and per-shard homogeneity is exactly
    * what harms SGD), yet reproducible run-to-run. Each document's
    * position is the rank of its seeded hash `md5(seed : doc_id)` —
    * re-seeding by epoch re-permutes the corpus without touching
    * payload bytes — and fixed-size output shards are floor-divisions
    * of that global position.
    *
    * The global numbering is the two-phase [[keyedCumsum]] under a
    * constant key (the `etl_batch_assign` recipe): range-partition on
    * the hash → local rank per slice → ≤ #partitions-row offsets
    * relation broadcast back. No single-task global window at any
    * corpus size; the only global sort is the scalable range exchange.
    */
  def corpusShuffleExport(spark: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(lit(s"$ShuffleSeed:"), col("doc_id"))).as("sort_key"))
      .withColumn("_g", lit(0))
      .withColumn("one", lit(1L))
    keyedCumsum(keyed, key = "_g",
        order = Seq(col("sort_key"), col("doc_id")),
        sizeCol = "one", out = "cum")
      .withColumn("global_pos", col("cum") - 1L)
      .select(
        col("doc_id"), col("sort_key"), col("global_pos"),
        expr(s"global_pos DIV $ShardDocs").as("shard_id"),
        pmod(col("global_pos"), lit(ShardDocs)).as("pos_in_shard"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns, identical semantics in Java regex and RE2. */
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val PhoneRe = "\\+?[0-9][0-9()\\- ]{8,14}[0-9]"

  /** A document's text with an email and a phone number appended on
    * every 7th doc id — the PII both scrubbing operators redact.
    */
  private[operators] val withPii: Column = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1 (555) 010-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
    .otherwise(col("text"))

  /** PII scrubbing: emails/phones replaced with typed placeholders.
    * The driver corpus is clean text, so PII is INJECTED on a
    * deterministic subset first (same synthesis pattern as the ETL
    * null-gap operators) — the scrub then has real work to do and the
    * oracle checks both the redaction and the counts. Map-only pass.
    */
  def corpusPiiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("raw", withPii)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>")).as("scrubbed_hash"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination: flag documents sharing any word 5-gram
    * with the benchmark set (here: doc_id < 20 stands in for an eval
    * benchmark). The benchmark gram set is tiny relative to the corpus
    * → broadcast semi-join on the gram hash; corpus grams stream
    * through map-side, no corpus shuffle. Exactly the plan shape
    * n-gram decontamination has at 100 TB (benchmark suites are MBs).
    */
  private[graft] val ContamN = 5

  private[graft] def grams(df: DataFrame, n: Int): DataFrame =
    df.select(col("doc_id"), words(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(windows("toks", n)((_, ws) => gram(ws)))).as("gram"))

  def corpusDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    flagContaminated(docs, grams(docs.filter(col("doc_id") >= 20), ContamN)
      .join(broadcast(benchGrams(docs)), "gram"))
  }

  /** The distinct n-grams of the benchmark stand-in (doc_id < 20). */
  private def benchGrams(docs: DataFrame): DataFrame =
    grams(docs.filter(col("doc_id") < 20), ContamN).select(col("gram")).distinct()

  /** Every corpus document (doc_id ≥ 20) with `is_contaminated` set
    * when it has a row in `hits`, the (doc_id, gram) matches against
    * the benchmark grams.
    */
  private def flagContaminated(docs: DataFrame, hits: DataFrame): DataFrame = {
    val contaminated = hits.select(col("doc_id")).distinct()
      .withColumn("is_contaminated", lit(true))
    docs.filter(col("doc_id") >= 20)
      .join(contaminated, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("source"),
        coalesce(col("is_contaminated"), lit(false)).as("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  /** BLOOM-PREFILTERED decontamination — the 100 TB shape of
    * [[corpusDecontaminate]]. The exact version ships EVERY corpus
    * n-gram into the join against the benchmark set; at web-crawl scale
    * that shuffle (corpus grams ≈ tokens × n) dwarfs the benchmark side
    * by many orders of magnitude. Here the benchmark grams are first
    * folded into a bloom filter (Spark's own mergeable
    * `BloomFilterAggregate` sketch — partial-aggregated map-side,
    * merged like any agg), delivered to every scan task as a scalar
    * subquery, and the corpus gram stream is dropped to bloom
    * candidates INSIDE the scan stage — before any exchange. The exact
    * confirm join then runs only on the survivors, so bloom false
    * positives are removed and the result is bit-identical to the
    * exact operator (the oracle IS the exact definition); the bloom
    * only decides how much data reaches the shuffle. False-positive
    * rate at these capacities ≈ 0.03%: the prefilter passes
    * essentially only true hits.
    */
  def corpusDecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = benchGrams(docs)
    val bloom = bench
      .agg(call_function("bloom_agg", xxhash64(col("gram")), lit(100000L)).as("bf"))
      .scalar()
    val candidates = grams(docs.filter(col("doc_id") >= 20), ContamN)
      .filter(call_function("bloom_contains", bloom, xxhash64(col("gram"))))
    flagContaminated(docs, candidates.join(broadcast(bench), "gram"))
  }

  /** Fixed-size per-group sample through the NATIVE bounded aggregate
    * ([[graft.functions.BottomKByKey]], session-registered): the 10
    * docs with the smallest md5 per language — a deterministic uniform
    * sample whose membership is independent of partitioning and
    * cluster size. The plan is ObjectHashAggregate with a PARTIAL pass
    * before the exchange: each map task reduces its slice to ≤ k rows
    * per language, so the shuffle carries O(#langs × k) rows — where
    * the window formulation (`row_number() <= k`) shuffles and sorts
    * the whole corpus. The oracle IS that window formulation, so the
    * driver checks the aggregate against the declarative definition.
    */
  def corpusSampleBottomK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(call_function("bottom_k_by_key",
        md5(col("doc_id").cast("string")), col("doc_id"), lit(10)).as("sample"))
      .select(col("lang"), posexplode(col("sample")).as(Seq("pos", "doc_id")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("sample_rank"), col("doc_id"))
      .orderBy(col("lang"), col("sample_rank"))

  /** Quantile-threshold quality gate: keep documents whose quality
    * score reaches the corpus 25th percentile — the relative-threshold
    * filter ("drop the worst quartile") every curation recipe applies.
    * The naive formulation globally sorts the corpus to find the
    * cutoff; this one computes the percentile as a 1-row aggregate,
    * broadcasts it, and filters map-side — no global sort, no second
    * scan shape change at any scale. Exact `percentile` here (matches
    * DuckDB `quantile_cont` bit-for-bit on the rounded scores); at
    * 100 TB swap in `approx_percentile` — same call shape, mergeable
    * sketch (`events_quantiles_approx` exercises that path's contract).
    */
  def corpusQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality_score"))
    val thr = scored.agg(round(expr("percentile(quality_score, 0.25D)"), 6).as("p25"))
    scored.crossJoin(broadcast(thr))
      .filter(col("quality_score") >= col("p25"))
      .orderBy(col("doc_id"))
  }

  /** Temperature exponent and doc budget for the mixture rebalance. */
  private val MixAlpha = 0.5
  private val MixBudgetDocs = 300L

  /** Temperature-scaled mixture rebalancing (the multilingual-training
    * α-sampling rule): each language's share of the doc budget is
    * n^α / Σ n^α with α = 0.5, which upweights tail languages relative
    * to their raw counts — the knob `corpus_sample_stratified` hard-codes,
    * here DERIVED from the corpus itself. Per-language counts are one
    * grouped pass; the normalizer is a 1-row aggregate broadcast back
    * (never a global window), so the plan is two tiny shuffles at any
    * corpus size. Output: per-language weight, doc target, and the
    * sampling rate to feed a hash-bucket filter.
    */
  def corpusMixRebalance(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(sum(pow(col("n_docs"), MixAlpha)).as("z"))
    counts.crossJoin(broadcast(z))
      .withColumn("weight", round(pow(col("n_docs"), MixAlpha) / col("z"), 6))
      .withColumn("target_docs", floor(col("weight") * MixBudgetDocs))
      .withColumn("sample_rate",
        round(least(col("target_docs").cast("double") / col("n_docs"), lit(1.0)), 6))
      .select(col("lang"), col("n_docs"), col("weight"),
        col("target_docs"), col("sample_rate"))
      .orderBy(col("lang"))
  }

  /** Model-based quality filtering — the fasttext-classifier shape
    * every production corpus pipeline runs (CCNet-style): each doc's
    * DISTINCT unigram+bigram features hash into a weight table, the
    * scaled-integer weight sum is the linear margin, and a sigmoid maps
    * it to a keep-probability. The weights here are md5-derived
    * stand-ins in [-1, 1] (a TRAINED model would broadcast its weight
    * table; lookup-by-hash, feature extraction, and the order-free
    * integer margin sum — the parts that matter at 100 TB — are
    * identical). Map-side explode + one doc_id shuffle; the keep
    * verdict compares the EXACT integer margin sign, not the rounded
    * sigmoid, so the cut is engine-exact.
    */
  def corpusModelQuality(spark: SparkSession, dir: String): DataFrame = {
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(concat(col("toks"), coalesce(
        windows("toks", 2)((_, ws) => ws.mkString("concat(", ", '_', ", ")")),
        array())))).as("feat"))
      .filter(col("feat") =!= "")
    feats
      .select(col("doc_id"), (h32(col("feat")) % 2001 - 1000).as("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("sw"), count(lit(1)).as("nf"))
      .withColumn("margin_raw", col("sw") / (col("nf") * lit(1000.0)))
      .select(
        col("doc_id"),
        round(col("margin_raw"), 6).as("margin"),
        round(lit(1.0) / (lit(1.0) + exp(lit(-4.0) * col("margin_raw"))), 6)
          .as("model_score"),
        (col("sw") >= 0).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  /** Token budget and repeat cap for the epoch schedule. */
  private val EpochTokenBudget = 60000L
  private val EpochAlpha = 0.5
  private val MaxEpochs = 4L

  /** EPOCH SCHEDULE — the data-mixture table a training run is loaded
    * from: how many passes ("epochs") each source contributes toward a
    * global token budget. Weights are temperature-flattened available
    * token counts (`pow(tokens, α) / Σ`, the standard mixture knob:
    * α < 1 boosts small sources), each source's target token share is
    * its weight times the budget, and the repeat factor is
    * target / available, capped at `MaxEpochs` passes — the published
    * guidance that repeating data beyond ~4 epochs stops helping. A
    * source whose target exceeds the cap reports the unmet remainder
    * as `deficit_tokens`, the number the mixture designer re-balances
    * against. One scan → per-source aggregate (#sources rows) → 1-row
    * broadcast normalizer: cost is a single map-side-combined
    * aggregation at any corpus size.
    */
  def corpusEpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val avail = Tables.documents(spark, dir)
      .select(col("source"), nWords.as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("avail_tokens"))
    val z = avail.agg(sum(pow(col("avail_tokens"), EpochAlpha)).as("z"))
    avail.crossJoin(broadcast(z))
      .withColumn("weight",
        round(pow(col("avail_tokens"), EpochAlpha) / col("z"), 6))
      .withColumn("target_tokens",
        floor(col("weight") * EpochTokenBudget).cast("bigint"))
      .withColumn("epochs",
        round(col("target_tokens") / col("avail_tokens"), 6))
      .withColumn("epochs_capped",
        round(least(col("epochs"), lit(MaxEpochs.toDouble)), 6))
      .withColumn("deficit_tokens",
        greatest(lit(0L), col("target_tokens") - lit(MaxEpochs) * col("avail_tokens")))
      .select("source", "n_docs", "avail_tokens", "weight", "target_tokens",
        "epochs", "epochs_capped", "deficit_tokens")
      .orderBy(col("source"))
  }

  /** Pair-bin capacity for the complement packing. */
  private val PairCap = 128L

  /** COMPLEMENT-PAIRING sequence packing — the sorted-histogram trick
    * (shortest-pack-first family) for filling fixed batches without a
    * sequential first-fit pass: rank documents by length (longest
    * first), then pair rank r with rank n+1−r, so the longest doc
    * shares a bin with the shortest, the 2nd-longest with the
    * 2nd-shortest, … For length distributions a near-optimal 2-per-bin
    * packing, and — unlike true best-fit-decreasing, which is
    * inherently sequential — every step here is relational: the global
    * rank is the two-phase range-partitioned cumsum (parallelism ∝
    * data, no unpartitioned window), the pairing is integer arithmetic
    * on the rank, and the bin totals are one groupBy. Emits each doc's
    * rank, bin, bin total, and the fit/waste verdict against the
    * `PairCap` batch size.
    */
  def corpusPackPairs(spark: SparkSession, dir: String): DataFrame = {
    val ranked = keyedCumsum(
      Tables.documents(spark, dir)
        .select(col("doc_id"), nWords.as("n_tok"))
        .withColumn("_g", lit(0)).withColumn("_one", lit(1L)),
      key = "_g", order = Seq(col("n_tok").desc, col("doc_id")),
      sizeCol = "_one", out = "pack_rank")
      .drop("_g", "_one")
      .localCheckpoint() // bin totals + final join both read it
    val n = ranked.agg(count(lit(1)).as("n"))
    val binned = ranked.crossJoin(broadcast(n))
      .withColumn("bin_id", least(col("pack_rank"), col("n") + 1 - col("pack_rank")))
    val binTotals = binned.groupBy(col("bin_id"))
      .agg(sum(col("n_tok")).as("bin_tokens"))
    binned.join(binTotals, Seq("bin_id"))
      .withColumn("fits", col("bin_tokens") <= PairCap)
      .withColumn("waste", greatest(lit(0L), lit(PairCap) - col("bin_tokens")))
      .select("doc_id", "n_tok", "pack_rank", "bin_id", "bin_tokens",
        "fits", "waste")
      .orderBy(col("doc_id"))
  }

  /** CCNet-style PERPLEXITY BUCKETS: score every document with the
    * corpus bigram LM (one definition — TextAnalysis.perplexityAgg),
    * rank within its language by cross-entropy (most-fluent first,
    * doc_id tie-break), and cut each language into head / middle /
    * tail thirds — the published CCNet recipe for choosing which slice
    * of a crawl to train on. The tercile is pure integer arithmetic on
    * the rank (`(rank−1)·3 div n + 1`), NOT an engine ntile builtin
    * (remainder placement differs across engines), and the rank is the
    * two-phase range-partitioned cumsum, so no per-language window
    * ever sees a language's full stream. Ordering compares the same
    * IEEE double (integer s6 / integer n_grams) on both engines —
    * engine-exact. Docs under 2 tokens have no bigram score and are
    * excluded, as in text_perplexity.
    */
  def corpusPplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.perplexityAgg(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .withColumn("ce", col("s6") / col("n_grams"))
      .withColumn("_one", lit(1L))
    val ranked = keyedCumsum(scored, key = "lang",
      order = Seq(col("ce"), col("doc_id")), sizeCol = "_one",
      out = "ppl_rank")
      .drop("_one")
      .localCheckpoint() // per-lang counts + final projection both read it
    val counts = ranked.groupBy(col("lang")).agg(count(lit(1)).as("lang_docs"))
    ranked.join(broadcast(counts), Seq("lang"))
      .withColumn("bucket_idx",
        expr("((ppl_rank - 1) * 3) div lang_docs + 1").cast("int"))
      .withColumn("bucket",
        when(col("bucket_idx") === 1, "head")
          .when(col("bucket_idx") === 2, "middle").otherwise("tail"))
      .select(col("doc_id"), col("lang"),
        round(col("ce") / 1000000.0, 6).as("cross_entropy"),
        col("ppl_rank"), col("lang_docs"), col("bucket"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate-chunk width (words) and the doc-frequency at which a
    * chunk counts as boilerplate within its source.
    */
  private val BoilerW = 5
  private val BoilerDf = 2

  /** C4/CCNet-style BOILERPLATE REMOVAL — the curation step the
    * detection ops (`text_repeated_spans`, `dedup_chunks`) stop short
    * of: spans repeated across documents of the same source (nav
    * text, legal footers, templated headers) are cut OUT of the text,
    * and the cleaned document is REASSEMBLED (C4 drops any repeated
    * three-sentence span; these word-stream docs use fixed
    * `BoilerW`-word chunks as the span unit). Per doc: total chunks,
    * removed count, and the reassembled clean text (null when nothing
    * survives — a fully-templated doc).
    *
    * Scale shape: one explode to (source, chunk) — the aggregation key
    * is blocked per source, so the doc-frequency count shuffles on
    * exactly the key the data is naturally skew-split by; the marker
    * join reuses that partitioning (same key), and reassembly is one
    * keyed aggregation with an in-group sort by chunk index. Nothing
    * is pairwise: cost is ∝ corpus tokens at every stage, the floor
    * for a transformation pass.
    */
  def corpusBoilerplateStrip(spark: SparkSession, dir: String): DataFrame =
    stripOver(Tables.documents(spark, dir))

  /** The strip over any (doc_id, source, text) relation — exposed so
    * the spec can plant a cross-doc template.
    */
  private[graft] def stripOver(docs: DataFrame): DataFrame = {
    val chunks = docs
      .select(col("doc_id"), col("source"),
        words(col("text")).as("ws"))
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"""transform(sequence(0, CAST(ceil(size(ws) / $BoilerW.0) AS INT) - 1),
           |  i -> array_join(slice(ws, i * $BoilerW + 1, $BoilerW), ' '))""".stripMargin))
        .as(Seq("cidx", "chunk")))
    val freq = chunks.groupBy(col("source"), col("chunk"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val marked = chunks.join(freq, Seq("source", "chunk"))
      .withColumn("is_boiler", col("df") >= BoilerDf)
    marked.groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(!col("is_boiler"), struct(col("cidx"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("clean_text"))
      .withColumn("clean_text", expr("nullif(clean_text, '')"))
      .orderBy(col("doc_id"))
  }

  /** Gradient-descent iterations and step for the gate distillation.
    * Calibrated on the corpus: RAW features plateau at the majority
    * floor (75%) because the token-count scale dwarfs the ratios;
    * STANDARDIZED features reach 98.6% teacher agreement in 10 rounds
    * at η = 1.
    */
  private val LrIters = 10
  private val LrEta = 1.0

  /** IN-ENGINE LOGISTIC REGRESSION — distill the quality gate into a
    * learned linear scorer (the standard move when a hand-tuned or
    * model-based gate is too expensive to run on the full 100 TB
    * corpus: label a slice with the expensive gate, fit a cheap
    * linear model on cheap signals, gate the rest with the model).
    * Labels are the gate's own decision (`quality_score ≥ p25`);
    * features are the gate's four cheap signals
    * ([[TextAnalysis.qualityFeatures]]); training is `LrIters` rounds
    * of full-batch gradient descent, unrolled exactly like the k-means
    * Lloyd loop: each round is ONE aggregation job whose 5-double
    * result folds through the driver into the next round's literals
    * (the MLlib treeAggregate shape — O(1) driver bytes at any corpus
    * size), so every round's plan stays flat with no per-round
    * checkpoint or broadcast build.
    *
    * Float discipline: per-row gradient terms are 10⁶-scaled to
    * bigint BEFORE the sum (order-free), the mean gradient and the
    * updated weights round to 6 dp each round, and predictions round
    * to 6 dp — every engine-visible number is reproducible, so the
    * DuckDB oracle replays all `LrIters` rounds bit-for-bit (the
    * sigmoid's exp follows the `qualityScore` precedent). At scale
    * each round is one map over the feature relation + a 5-column
    * aggregate: cost ∝ rows × iters, no shuffle beyond the 1-row agg.
    */
  def corpusQualityLogreg(spark: SparkSession, dir: String): DataFrame = {
    val (feats, w) = qualityTrain(spark, dir)
    feats.crossJoin(broadcast(w))
      .withColumn("p6", qualityP(round(zLin, 6)))
      .select(col("doc_id"), col("y").cast("int").as("label"), col("p6"),
        when(col("p6") >= 0.5, 1).otherwise(0).as("pred"))
      .withColumn("correct", col("pred") === col("label"))
      .orderBy(col("doc_id"))
  }

  /** CALIBRATION audit of the trained quality gate — the reliability
    * diagram every score-thresholding pipeline reads before trusting a
    * cutoff: predictions bucketed by decile of p, per bucket the mean
    * predicted probability vs the empirical positive rate and their
    * absolute gap (the per-bucket term of expected calibration error;
    * a well-calibrated gate has avg_p ≈ pos_rate in every bucket).
    * All arithmetic from exact integers: p6 is already 6-dp rounded, so
    * p6·10⁶ is an exact bigint summed order-free; the three output
    * floats are one rounded division each, and the gap derives from
    * the two ROUNDED outputs so both engines subtract identical
    * doubles. Cost: one pass over the scored relation + a ≤ 10-row
    * aggregate.
    */
  def corpusQualityCalibration(spark: SparkSession, dir: String): DataFrame =
    corpusQualityLogreg(spark, dir)
      .select(col("doc_id"), col("label"), col("p6"))
      .withColumn("bucket", least(floor(col("p6") * 10).cast("int"), lit(9)))
      .withColumn("p6u", expr("cast(round(p6 * 1000000, 0) as bigint)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("p6u")).as("sum_p6u"),
        sum(col("label")).as("n_pos"))
      .select(col("bucket"), col("n_docs"),
        round(col("sum_p6u") / col("n_docs") / 1000000.0, 6).as("avg_p"),
        round(col("n_pos") / col("n_docs"), 6).as("pos_rate"))
      .withColumn("abs_gap", round(abs(col("avg_p") - col("pos_rate")), 6))
      .orderBy(col("bucket"))

  /** The linear term over z-scored feature columns x1..x4 + weight
    * columns w0..w4, and the rounded sigmoid — shared by training,
    * batch scoring, and the streaming admission twin
    * (`StreamOps.qualityAdmissionStream`).
    */
  private[graft] def zLin: Column =
    col("w0") + col("w1") * col("x1") + col("w2") * col("x2") +
      col("w3") * col("x3") + col("w4") * col("x4")
  private[graft] def qualityP(z6: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-z6)), 6)
  /** Raw→z-scored feature j against the model row's mu/sd columns. */
  private[graft] def zScoreCol(j: Int): Column =
    when(col(s"sd$j") > 0,
      round((col(s"x$j") - col(s"mu$j")) / col(s"sd$j"), 6)).otherwise(0.0)

  /** The TRAINED quality model as ONE row (mu1..sd4 standardization +
    * w0..w4 weights) — the artifact a deployment broadcasts to score
    * anything, including the streaming admission path
    * (`StreamOps.qualityAdmissionStream`).
    */
  private[graft] def qualityModel(spark: SparkSession, dir: String): DataFrame = {
    val (_, w) = qualityTrain(spark, dir)
    qualityStats(spark, dir).crossJoin(w)
  }

  private def qualityStats(spark: SparkSession, dir: String): DataFrame =
    statsOf(qualityFeats0(spark, dir))

  /** The 1-row standardization model (mu1..sd4, 6 dp) of raw features
    * x1..x4.
    */
  private def statsOf(feats0: DataFrame): DataFrame = {
    val statCols = (1 to 4).flatMap(j => Seq(
      round(avg(col(s"x$j")), 6).as(s"mu$j"),
      round(stddev_pop(col(s"x$j")), 6).as(s"sd$j")))
    feats0.agg(statCols.head, statCols.tail: _*)
  }

  private def qualityFeats0(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((col("doc_id") +: TextAnalysis.qualityScore(col("text")).as("qs") +:
        TextAnalysis.qualityFeatures(col("text"))): _*)

  /** Training: returns the z-scored labeled feature relation and the
    * final 1-row weight vector.
    */
  private def qualityTrain(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // materialized once, widened: the p25 threshold, the z-stats, and
    // the z-scored projection each read this relation — without the
    // checkpoint the per-doc quality features (regex-heavy text work)
    // are recomputed three times, fused into a single scan task
    val feats0 = Tables.widened(qualityFeats0(spark, dir), "doc_id")
      .localCheckpoint()
    val thr = feats0.agg(round(expr("percentile(qs, 0.25D)"), 6).as("p25"))
    // per-feature standardization model (1 row, broadcast): without it
    // GD stalls at the majority floor — the log-token-count scale
    // dwarfs the ratio features. Constant features (sd = 0) z-score
    // to 0 and drop out of the model instead of dividing by zero.
    val feats = feats0.crossJoin(broadcast(thr)).crossJoin(broadcast(statsOf(feats0)))
      .select(col("doc_id"),
        zScoreCol(1).as("x1"), zScoreCol(2).as("x2"),
        zScoreCol(3).as("x3"), zScoreCol(4).as("x4"),
        when(col("qs") >= col("p25"), 1.0).otherwise(0.0).as("y"))
      .localCheckpoint() // read LrIters + 1 times; features computed once
    // t6 for feature j: the 1e6-scaled integer per-row gradient term
    def t6(x: Column): Column =
      round((col("y") - col("p")) * x * 1000000, 0).cast("bigint")
    // The round state is 5 doubles. Each round's new weights are
    // computed by the SAME Spark aggregate expressions as before
    // (identical arithmetic, identical 6-dp rounding — the DuckDB
    // oracle replays them bit-for-bit), but the 1-row result is
    // carried to the next round through the driver (`head()`, the
    // MLlib treeAggregate shape) and re-enters the plan as LITERALS:
    // one Spark job per round instead of a 1-row checkpoint job plus a
    // broadcast-build job (the measured r15 alternative — one fully
    // nested plan under a single action — was SLOWER; this keeps the
    // flat per-round plans and halves the job count instead). O(1)
    // driver bytes at any corpus size.
    var wv = Array(0.0, 0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to LrIters) {
      val scored = feats
        .withColumn("p", qualityP(round(
          lit(wv(0)) + lit(wv(1)) * col("x1") + lit(wv(2)) * col("x2") +
            lit(wv(3)) * col("x3") + lit(wv(4)) * col("x4"), 6)))
      val xs = Seq(lit(1.0), col("x1"), col("x2"), col("x3"), col("x4"))
      val ws = (0 to 4).map(j =>
        round(lit(wv(j)) + lit(LrEta) * sum(t6(xs(j))) / 1000000.0 / count(lit(1)), 6).as(s"w$j"))
      val row = scored.agg(ws.head, ws.tail: _*).head()
      // over an empty corpus the sums are null: keep the current weights
      wv = Array.tabulate(5)(j => if (row.isNullAt(j)) wv(j) else row.getDouble(j))
    }
    val w = spark.range(1).select(
      lit(wv(0)).as("w0"), lit(wv(1)).as("w1"), lit(wv(2)).as("w2"),
      lit(wv(3)).as("w3"), lit(wv(4)).as("w4"))
    (feats, w)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "corpus_quality_logreg"    -> (corpusQualityLogreg _),
    "corpus_quality_calibration" -> (corpusQualityCalibration _),
    "corpus_boilerplate_strip" -> (corpusBoilerplateStrip _),
    "corpus_ppl_buckets"       -> (corpusPplBuckets _),
    "corpus_epoch_plan"        -> (corpusEpochPlan _),
    "corpus_pack_pairs"        -> (corpusPackPairs _),
    "corpus_model_quality"     -> (corpusModelQuality _),
    "corpus_importance_resample" -> (corpusImportanceResample _),
    "corpus_pack_contexts"     -> (corpusPackContexts _),
    "corpus_mix_rebalance"     -> (corpusMixRebalance _),
    "corpus_quality_gate"      -> (corpusQualityGate _),
    "corpus_sample_bottomk"    -> (corpusSampleBottomK _),
    "corpus_sample_stratified" -> (corpusSampleStratified _),
    "corpus_token_budget"      -> (corpusTokenBudget _),
    "corpus_shuffle_export"    -> (corpusShuffleExport _),
    "corpus_weighted_sample"   -> (corpusWeightedSample _),
    "corpus_pii_scrub"         -> (corpusPiiScrub _),
    "corpus_length_buckets"    -> (corpusLengthBuckets _),
    "corpus_decontaminate"     -> (corpusDecontaminate _),
    "corpus_decontaminate_bloom" -> (corpusDecontaminateBloom _))

  private def gramsCte(src: String, n: Int) =
    s"""SELECT DISTINCT doc_id, gram FROM (
       |  SELECT doc_id, array_to_string(toks[i:i+${n - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM ($src) s) d,
       |       unnest(generate_series(1, len(toks) - ${n - 1})) t(i))""".stripMargin

  /** One unrolled GD round: p at the previous weights, 10⁶-scaled
    * integer term sums, 6-dp weight update. DuckDB `/` is float
    * division (sum/1000000 is DOUBLE, not decimal — a bare 1000000.0
    * literal would drag the arithmetic to DECIMAL, the 255.0 lesson).
    */
  private def lrIterSql(prev: String, out: String): String = {
    val z = "round(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 + w.w4 * x4, 6)"
    val p = s"round(1.0 / (1.0 + exp(-$z)), 6)"
    val xs = Seq(None, Some("x1"), Some("x2"), Some("x3"), Some("x4"))
    val terms = xs.zipWithIndex.map { case (x, j) =>
      val term = x match {
        case Some(xj) => s"(y - $p) * $xj * 1000000"
        case None     => s"(y - $p) * 1000000"
      }
      s"round(min(w.w$j) + sum(CAST(round($term, 0) AS BIGINT)) / 1000000 / count(*), 6) AS w$j"
    }.mkString(",\n  ")
    s"$out AS (\n  SELECT $terms\n  FROM ff, $prev w)"
  }

  /** The whole logistic-gate training chain as CTEs ending in
    * `scoredq(doc_id, label, p6)` — shared by the logreg dump and the
    * calibration oracle (identical features, standardization, GD
    * rounds, and sigmoid rounding).
    */
  private def logregScoredCtes: String = {
    val fx = TextAnalysis.qualityFeaturesSql("text")
    val z = "round(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 + w.w4 * x4, 6)"
    val zs = (1 to 4).map(j =>
      s"CASE WHEN sd$j > 0 THEN round((x$j - mu$j) / sd$j, 6) ELSE 0.0 END AS x$j")
      .mkString(",\n    ")
    s"""f AS (
       |  SELECT doc_id, ${TextAnalysis.qualityScoreSql("text")} AS qs,
       |    ${fx(0)} AS x1, ${fx(1)} AS x2, ${fx(2)} AS x3, ${fx(3)} AS x4
       |  FROM documents),
       |t AS (SELECT round(quantile_cont(qs, 0.25), 6) AS p25 FROM f),
       |st AS (
       |  SELECT ${(1 to 4).map(j =>
           s"round(avg(x$j), 6) AS mu$j, round(stddev_pop(x$j), 6) AS sd$j")
           .mkString(", ")}
       |  FROM f),
       |ff AS (
       |  SELECT doc_id,
       |    $zs,
       |    CASE WHEN qs >= p25 THEN 1.0 ELSE 0.0 END AS y
       |  FROM f, t, st),
       |w0i AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
       |        CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3,
       |        CAST(0 AS DOUBLE) AS w4),
       |${(1 to LrIters).map(i =>
          lrIterSql(if (i == 1) "w0i" else s"w${i - 1}i", s"w${i}i")).mkString(",\n")},
       |scoredq AS (
       |  SELECT doc_id, CAST(y AS INT) AS label,
       |    round(1.0 / (1.0 + exp(-$z)), 6) AS p6
       |  FROM ff, w${LrIters}i w)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "corpus_quality_logreg" ->
      s"""WITH $logregScoredCtes
         |SELECT doc_id, label, p6,
         |  CASE WHEN p6 >= 0.5 THEN 1 ELSE 0 END AS pred,
         |  (CASE WHEN p6 >= 0.5 THEN 1 ELSE 0 END) = label AS correct
         |FROM scoredq
         |ORDER BY doc_id""".stripMargin,
    "corpus_quality_calibration" ->
      s"""WITH $logregScoredCtes,
         |bucketed AS (
         |  SELECT LEAST(CAST(floor(p6 * 10) AS INT), 9) AS bucket,
         |    CAST(round(p6 * 1000000, 0) AS BIGINT) AS p6u, label
         |  FROM scoredq),
         |agg AS (
         |  SELECT bucket, count(*) AS n_docs,
         |    round(sum(p6u) / count(*) / 1000000.0, 6) AS avg_p,
         |    round(sum(label) / count(*), 6) AS pos_rate
         |  FROM bucketed GROUP BY bucket)
         |SELECT bucket, n_docs, avg_p, pos_rate,
         |  round(abs(avg_p - pos_rate), 6) AS abs_gap
         |FROM agg ORDER BY bucket""".stripMargin,
    "corpus_boilerplate_strip" ->
      s"""WITH words AS (
         |  SELECT doc_id, source, string_split_regex(trim(text), '\\s+') AS ws
         |  FROM documents),
         |chunks AS (
         |  SELECT doc_id, source, i.i AS cidx,
         |    array_to_string(ws[(i.i * $BoilerW + 1):(i.i * $BoilerW + $BoilerW)], ' ') AS chunk
         |  FROM words,
         |    unnest(generate_series(0, CAST(ceil(len(ws) / $BoilerW.0) AS BIGINT) - 1)) i(i)),
         |freq AS (
         |  SELECT source, chunk, count(DISTINCT doc_id) AS df
         |  FROM chunks GROUP BY 1, 2),
         |marked AS (
         |  SELECT c.doc_id, c.source, c.cidx, c.chunk, f.df >= $BoilerDf AS is_boiler
         |  FROM chunks c JOIN freq f USING (source, chunk))
         |SELECT doc_id, source, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  string_agg(chunk, ' ' ORDER BY cidx) FILTER (WHERE NOT is_boiler) AS clean_text
         |FROM marked GROUP BY doc_id, source
         |ORDER BY doc_id""".stripMargin,
    "corpus_ppl_buckets" ->
      s"""WITH ${TextAnalysis.perplexityCtes},
         |scored AS (
         |  SELECT a.doc_id, d.lang, a.n_grams, a.s6,
         |    a.s6 * 1.0 / a.n_grams AS ce
         |  FROM agg a JOIN documents d ON a.doc_id = d.doc_id),
         |ranked AS (
         |  SELECT *,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY ce, doc_id) AS BIGINT) AS ppl_rank,
         |    count(*) OVER (PARTITION BY lang) AS lang_docs
         |  FROM scored)
         |SELECT doc_id, lang, round(ce / 1000000.0, 6) AS cross_entropy,
         |  ppl_rank, lang_docs,
         |  CASE ((ppl_rank - 1) * 3) // lang_docs + 1
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM ranked ORDER BY doc_id""".stripMargin,
    "corpus_epoch_plan" ->
      s"""WITH avail AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
         |      AS avail_tokens
         |  FROM documents GROUP BY source),
         |z AS (SELECT sum(pow(avail_tokens, $EpochAlpha)) AS z FROM avail),
         |w AS (
         |  SELECT source, n_docs, avail_tokens,
         |    round(pow(avail_tokens, $EpochAlpha) / z, 6) AS weight
         |  FROM avail CROSS JOIN z),
         |t AS (
         |  SELECT *, CAST(floor(weight * $EpochTokenBudget) AS BIGINT)
         |    AS target_tokens
         |  FROM w)
         |SELECT source, n_docs, avail_tokens, weight, target_tokens,
         |  round(target_tokens * 1.0 / avail_tokens, 6) AS epochs,
         |  round(least(target_tokens * 1.0 / avail_tokens, $MaxEpochs.0), 6)
         |    AS epochs_capped,
         |  CAST(greatest(0, target_tokens - $MaxEpochs * avail_tokens) AS BIGINT)
         |    AS deficit_tokens
         |FROM t ORDER BY source""".stripMargin,
    "corpus_pack_pairs" ->
      s"""WITH sized AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
         |  FROM documents),
         |r AS (
         |  SELECT *,
         |    CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id) AS BIGINT)
         |      AS pack_rank,
         |    count(*) OVER () AS n
         |  FROM sized),
         |b AS (
         |  SELECT *, CAST(least(pack_rank, n + 1 - pack_rank) AS BIGINT)
         |    AS bin_id
         |  FROM r),
         |bt AS (
         |  SELECT bin_id, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
         |  FROM b GROUP BY bin_id)
         |SELECT doc_id, n_tok, pack_rank, bin_id, bin_tokens,
         |  bin_tokens <= $PairCap AS fits,
         |  CAST(greatest(0, $PairCap - bin_tokens) AS BIGINT) AS waste
         |FROM b JOIN bt USING (bin_id) ORDER BY doc_id""".stripMargin,
    "corpus_length_buckets" ->
      """WITH sized AS (
        |  SELECT source,
        |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |binned AS (
        |  SELECT source, ((n_tokens - 1) // 64 + 1) * 64 AS bucket_len, n_tokens
        |  FROM sized)
        |SELECT source, CAST(bucket_len AS BIGINT) AS bucket_len,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(bucket_len * count(*) AS BIGINT) AS padded_tokens,
        |  round(1.0 - sum(n_tokens) * 1.0 / (bucket_len * count(*)), 6)
        |    AS waste_frac
        |FROM binned GROUP BY source, bucket_len
        |ORDER BY source, bucket_len""".stripMargin,
    "corpus_model_quality" ->
      s"""WITH feats AS (
         |  SELECT DISTINCT doc_id, f FROM (
         |    SELECT doc_id, unnest(list_concat(toks,
         |      list_transform(generate_series(1, len(toks) - 1),
         |        i -> toks[i] || '_' || toks[i + 1]))) AS f
         |    FROM (SELECT doc_id,
         |            string_split_regex(lower(trim(text)), '\\s+') AS toks
         |          FROM documents))
         |  WHERE f <> ''),
         |agg AS (
         |  SELECT doc_id,
         |    sum(${h32Sql("f")} % 2001 - 1000) AS sw, count(*) AS nf
         |  FROM feats GROUP BY doc_id)
         |SELECT doc_id,
         |  round(sw / (nf * 1000.0), 6) AS margin,
         |  round(1.0 / (1.0 + exp(-4.0 * (sw / (nf * 1000.0)))), 6)
         |    AS model_score,
         |  sw >= 0 AS is_kept
         |FROM agg ORDER BY doc_id""".stripMargin,
    // lateral alias refs: is_kept reads the emitted columns, so the
    // hash/score expressions exist exactly once and cannot drift
    "corpus_importance_resample" ->
      s"""SELECT doc_id,
         |  ${TextAnalysis.qualityScoreSql("text")} AS quality_score,
         |  round((${h32Sql("'imp:' || doc_id")} % 1000000) / 1000000.0, 6) AS hash_u,
         |  hash_u < quality_score AS is_kept
         |FROM documents ORDER BY doc_id""".stripMargin,
    "corpus_pack_contexts" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(string_split_regex(trim(text), '\s+')) + 1 AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(cum - n_tok AS BIGINT) AS stream_off,
        |  CAST((cum - n_tok) // 256 AS BIGINT) AS ctx_first,
        |  CAST(greatest((cum - 1) // 256, (cum - n_tok) // 256) AS BIGINT) AS ctx_last,
        |  CAST((cum - n_tok) % 256 AS BIGINT) AS off_in_ctx
        |FROM c ORDER BY doc_id""".stripMargin,
    "corpus_mix_rebalance" ->
      s"""WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |z AS (SELECT sum(pow(n_docs, $MixAlpha)) AS z FROM counts),
         |w AS (SELECT lang, n_docs, round(pow(n_docs, $MixAlpha) / z, 6) AS weight
         |      FROM counts CROSS JOIN z),
         |t AS (SELECT *, CAST(floor(weight * $MixBudgetDocs) AS BIGINT) AS target_docs FROM w)
         |SELECT lang, n_docs, weight, target_docs,
         |  round(least(target_docs * 1.0 / n_docs, 1.0), 6) AS sample_rate
         |FROM t ORDER BY lang""".stripMargin,
    "corpus_quality_gate" ->
      s"""WITH s AS (
         |  SELECT doc_id, ${TextAnalysis.qualityScoreSql("text")} AS quality_score
         |  FROM documents),
         |t AS (SELECT round(quantile_cont(quality_score, 0.25), 6) AS p25 FROM s)
         |SELECT doc_id, quality_score, p25 FROM s, t
         |WHERE quality_score >= p25 ORDER BY doc_id""".stripMargin,
    // the window formulation IS the aggregate's definition: k smallest
    // md5 keys per language, ties broken by doc_id
    "corpus_sample_bottomk" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS sample_rank
        |  FROM documents)
        |SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id
        |FROM ranked WHERE sample_rank <= 10
        |ORDER BY lang, sample_rank""".stripMargin,
    "corpus_sample_stratified" ->
      s"""SELECT doc_id, lang,
         |  ${h32Sql("'sample:' || doc_id")} % 1000 AS bucket
         |FROM documents
         |WHERE ${h32Sql("'sample:' || doc_id")} % 1000 < ($RateSql)
         |ORDER BY doc_id""".stripMargin,
    "corpus_token_budget" ->
      s"""WITH sized AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |cum AS (
         |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY n_tokens DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM sized)
         |SELECT doc_id, source, n_tokens, cum_tokens FROM cum
         |WHERE cum_tokens <= $TokenBudget ORDER BY doc_id""".stripMargin,
    "corpus_shuffle_export" ->
      s"""WITH k AS (
         |  SELECT doc_id, md5('$ShuffleSeed:' || doc_id) AS sort_key
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, sort_key,
         |    row_number() OVER (ORDER BY sort_key, doc_id) - 1 AS global_pos
         |  FROM k)
         |SELECT doc_id, sort_key, global_pos,
         |  global_pos // $ShardDocs AS shard_id,
         |  global_pos % $ShardDocs AS pos_in_shard
         |FROM n ORDER BY doc_id""".stripMargin,
    "corpus_weighted_sample" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang,
         |    ${TextAnalysis.qualityScoreSql("text")} AS weight
         |  FROM documents),
         |keyed AS (
         |  SELECT doc_id, lang, weight,
         |    lpad(CAST(CAST(round(
         |      -ln((${h32Sql("'res:' || doc_id")} % 1000000 + 0.5) / 1000000.0)
         |        / weight * 1000000, 0) AS BIGINT) AS VARCHAR), 12, '0') AS ekey
         |  FROM scored),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY lang ORDER BY ekey, doc_id) AS sample_rank
         |  FROM keyed)
         |SELECT lang, CAST(sample_rank AS INT) AS sample_rank, doc_id, weight
         |FROM ranked WHERE sample_rank <= $ReservoirK
         |ORDER BY lang, sample_rank""".stripMargin,
    "corpus_pii_scrub" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |         THEN text || ' contact user' || doc_id ||
         |              '@example.com or +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |         ELSE text END AS raw
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(raw, '$EmailRe')) AS n_emails,
         |  len(regexp_extract_all(raw, '$PhoneRe')) AS n_phones,
         |  md5(regexp_replace(regexp_replace(raw, '$EmailRe', '<EMAIL>', 'g'),
         |      '$PhoneRe', '<PHONE>', 'g')) AS scrubbed_hash
         |FROM raw ORDER BY doc_id""".stripMargin,
    "corpus_decontaminate" -> decontaminateSql,
    // The bloom prefilter is result-invisible by construction (exact
    // confirm join removes false positives), so the scale variant is
    // checked against the SAME declarative definition.
    "corpus_decontaminate_bloom" -> decontaminateSql)

  private lazy val decontaminateSql =
    s"""WITH bench AS (
       |  SELECT DISTINCT gram FROM (${gramsCte("SELECT * FROM documents WHERE doc_id < 20", ContamN)})
       |), corpus_grams AS (
       |  ${gramsCte("SELECT * FROM documents WHERE doc_id >= 20", ContamN)}
       |), contaminated AS (
       |  SELECT DISTINCT cg.doc_id FROM corpus_grams cg JOIN bench b ON cg.gram = b.gram)
       |SELECT d.doc_id, d.source,
       |  (c.doc_id IS NOT NULL) AS is_contaminated
       |FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
       |WHERE d.doc_id >= 20
       |ORDER BY d.doc_id""".stripMargin
}
