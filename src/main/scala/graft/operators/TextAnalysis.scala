package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus — the scale
  * versions of the reference's per-item content checks (name/description
  * validation, LLM-generated content QA — batch_processor.py:572-726):
  * token counting, quality scoring, language identification, and
  * content fingerprinting.
  *
  * All four are narrow per-row projections: no shuffle at all (the plans
  * are scan → project), so they scale embarrassingly — exactly what a
  * 100 TB corpus-prep pass needs. Language ID deliberately avoids an
  * explode+join (which would shuffle) by scoring stopword hits with
  * array higher-order functions inline.
  */
object TextAnalysis {

  /** Whitespace tokens, lowered — with [[words]], the one place text
    * becomes words.
    */
  private[graft] def toks(c: Column): Column = split(lower(trim(c)), "\\s+")
  private def toksSql(e: String) = s"string_split_regex(lower(trim($e)), '\\s+')"

  /** Whitespace words, case kept. */
  private[graft] def words(c: Column): Column = split(trim(c), "\\s+")

  /** Every `n`-word window of the token-array column `t`, in order: the
    * window starting at word `i` (1-based) becomes `cell(i, ws)`, `ws`
    * being its `n` words. `i`, `ws` and the cell are SQL text. The one
    * window builder of the text families.
    *
    * A document of fewer than `n` words gets a NULL array, not an empty
    * one: Spark's `sequence(1, k)` with k < 1 counts DOWN (`sequence(1,
    * 0)` is [1, 0]), so the range itself is guarded. An explode of the
    * null yields no rows, as the oracles' `generate_series(1, 0)` does,
    * and a `concat` with it is null. Never guard with a `filter(size(t)
    * >= n)` instead: Catalyst pushes that filter below the tokenizing
    * projection, and every text is split twice.
    */
  private[graft] def windows(t: String, n: Int)(cell: (String, Seq[String]) => String): Column = {
    val ws = (0 until n).map(j => if (j == 0) s"element_at($t, i)" else s"element_at($t, i + $j)")
    expr(s"transform(CASE WHEN size($t) >= $n THEN sequence(1, size($t) - ${n - 1}) END," +
      s" i -> ${cell("i", ws)})")
  }

  /** The ' '-joined gram cell of [[windows]]. */
  private[graft] def gram(ws: Seq[String]): String = ws.mkString("concat_ws(' ', ", ", ", ")")

  /** BPE-ish pieces: alphanumeric runs or single non-space symbols. */
  private val BpePattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "pas", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "no", "por", "como"))
  private val langOrder = Seq("en", "de", "fr", "es")

  /** The count of `lang` stopwords among the tokens `t`. */
  private[operators] def hits(t: Column, lang: String): Column =
    size(filter(t, x => array_contains(typedLit(stopwords(lang)), x)))
  private def hitsSql(t: String, lang: String): String = {
    val lst = stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($t, x -> list_contains($lst, x)))"
  }

  /** Composite quality score in (0, 1) for a text column — the single
    * definition shared by `text_quality` and the corpus quality gate
    * (`CorpusOps.corpusQualityGate`). Rounded to 6 so both engines
    * compare the identical value.
    */
  private[operators] def qualityScore(text: Column): Column = {
    val Seq(logTok, stop, punct, upper) = qualitySignals(text)
    round(lit(1.0) / (lit(1.0) + exp(-(logTok * 0.3 + stop * 2.0
      - punct * 3.0 - upper * 2.0))), 6)
  }

  /** The four unrounded quality signals of a text column: log token
    * count, and the stopword, punctuation and uppercase ratios.
    */
  private def qualitySignals(text: Column): Seq[Column] = {
    val t = toks(text)
    val nTok = size(t).cast("double")
    val nChar = length(text).cast("double")
    val punct = nChar - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")).cast("double")
    val upper = nChar - length(regexp_replace(text, "[A-Z]", "")).cast("double")
    val stop = hits(t, "en").cast("double")
    Seq(log(nTok + 1), stop / nTok, punct / nChar, upper / nChar)
  }

  /** DuckDB rendering of [[qualityScore]] (`e` is the text expression).
    * DuckDB `/` is float division even on integers, so no casts needed.
    */
  private[operators] def qualityScoreSql(e: String): String = {
    val Seq(logTok, stop, punct, upper) = qualitySignalsSql(e)
    s"round(1.0 / (1.0 + exp(-($logTok * 0.3 + $stop * 2.0 - $punct * 3.0 - $upper * 2.0))), 6)"
  }

  /** DuckDB rendering of [[qualitySignals]]. */
  private def qualitySignalsSql(e: String): Seq[String] = {
    val t = toksSql(e)
    Seq(
      s"ln(len($t) + 1)",
      s"${hitsSql(t, "en")} / len($t)",
      s"(length($e) - length(regexp_replace($e, '[^A-Za-z0-9\\s]', '', 'g'))) / length($e)",
      s"(length($e) - length(regexp_replace($e, '[A-Z]', '', 'g'))) / length($e)")
  }

  /** The cheap per-doc quality SIGNALS behind [[qualityScore]] (log
    * token count, stopword ratio, punctuation ratio, uppercase ratio),
    * each rounded to 6 dp — exposed as named feature columns for the
    * logreg distillation op (`CorpusOps.corpusQualityLogreg`), which
    * learns the gate decision FROM these instead of re-deriving the
    * hand-tuned score.
    */
  private[graft] def qualityFeatures(text: Column): Seq[Column] =
    qualitySignals(text).zipWithIndex.map { case (c, j) => round(c, 6).as(s"x${j + 1}") }

  /** DuckDB rendering of [[qualityFeatures]] (`e` is the text expr). */
  private[operators] def qualityFeaturesSql(e: String): Seq[String] =
    qualitySignalsSql(e).map(c => s"round($c, 6)")

  /** Token counting: whitespace tokens + BPE-ish regex pieces. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))

  /** Feature-hashing dimensionality (2^8 buckets — small enough that
    * collisions actually occur in the corpus, so the signed-sum
    * cancellation is exercised, large enough to be a real featurizer).
    */
  private val HashDim = 256

  /** The HASHING TRICK (Weinberger et al. 2009) — fixed-dimension
    * sparse text features with NO vocabulary pass: each token hashes
    * straight to one of `HashDim` buckets, with a second hash bit
    * choosing a ±1 sign so colliding tokens cancel in expectation
    * instead of biasing the bucket upward. This is the featurizer that
    * scales where TF-IDF cannot: no global vocabulary to build, ship,
    * or keep consistent — at 100 TB the whole featurization is one
    * embarrassingly-parallel projection (explode + one grouped count
    * per (doc, bucket), map-side combined), and two clusters hashing
    * independently produce the identical feature space. md5-derived
    * bucket and sign, so the oracle reproduces the features
    * bit-for-bit.
    */
  def textHashingFeatures(spark: SparkSession, dir: String): DataFrame = {
    val h = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("bigint")
    val sign = when(
      conv(substring(md5(col("tok")), 9, 1), 16, 10).cast("bigint") % 2 === 0,
      lit(1L)).otherwise(lit(-1L))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), pmod(h, lit(HashDim)).as("bucket"), sign.as("sign"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n_toks"), sum(col("sign")).as("feat"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** Quality signals: length, token stats, punctuation / uppercase /
    * stopword ratios, and a composite score in (0, 1).
    */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(toks(col("text"))).cast("double")
    val nChar = length(col("text")).cast("double")
    val Seq(_, stopRatio, punctRatio, upperRatio) = qualitySignals(col("text")).map(round(_, 6))
    val avgTokLen = round(length(regexp_replace(col("text"), "\\s", "")).cast("double") / nTok, 6)
    val score = qualityScore(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        nTok.cast("bigint").as("n_tokens"),
        nChar.cast("bigint").as("n_chars_obs"),
        avgTokLen.as("avg_token_len"),
        punctRatio.as("punct_ratio"),
        upperRatio.as("upper_ratio"),
        stopRatio.as("stopword_ratio"),
        score.as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Language ID: stopword-hit counts per language, argmax with a fixed
    * priority order, `und` when nothing hits.
    */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val hitCols = langOrder.map(l => hits(t, l).as(s"hits_$l"))
    val best = langOrder.foldRight(lit("und")) { (l, acc) =>
      val isMax = langOrder.filter(_ != l)
        .map(o => col(s"hits_$l") >= col(s"hits_$o")).reduce(_ && _)
      when(col(s"hits_$l") > 0 && isMax &&
        langOrder.takeWhile(_ != l)
          .map(o => col(s"hits_$l") > col(s"hits_$o"))
          .foldLeft(lit(true))(_ && _), lit(l)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .select(col("doc_id") +: col("lang").as("lang_declared") +: hitCols: _*)
      .withColumn("lang_pred", best)
      .orderBy(col("doc_id"))
  }

  /** Language-ID EVALUATION — the confusion matrix of the n-gram
    * heuristic against the corpus's declared `lang` labels, the audit
    * every language-filtering pipeline runs before trusting its gate:
    * (declared, predicted) doc counts plus each cell's share of its
    * declared language (row-normalized recall view; the diagonal cell
    * is per-language recall). One keyed aggregation over the langid
    * relation + a partitioned share window on the ≤ |langs|² matrix —
    * the expensive part (per-doc prediction) is the same single scan
    * `text_langid` runs.
    */
  def textLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang_declared"))
    textLangid(spark, dir)
      .groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_of_declared",
        round(col("n_docs") / sum(col("n_docs")).over(w), 6))
      .orderBy(col("lang_declared"), col("lang_pred"))
  }

  /** Content fingerprint: md5 of whitespace-normalized lowered text +
    * a 60-bit integer prefix (60 bits so both engines stay in signed-64
    * range).
    */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(norm).as("fp_md5"),
        conv(substring(md5(norm), 1, 15), 16, 10).cast("bigint").as("fp60"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (the MOSS/Stanford local document
    * fingerprinting scheme): hash every token 3-gram, then in each
    * sliding window of 4 consecutive gram hashes select the minimum —
    * rightmost position on hash ties, per the published algorithm —
    * and emit the distinct selections. Guarantees any shared substring
    * of ≥ 6 tokens produces a shared fingerprint, at an expected
    * density of 2/(w+1) ≈ 0.4 of grams — the sub-document near-dup
    * index that `text_fingerprint` (whole-doc) and shingle LSH
    * (whole-doc similarity) can't give you. Entirely scan-local work
    * (per-doc windows after one shuffle on doc_id); the output is what
    * you'd feed a fingerprint-keyed self-join at 100 TB.
    *
    * The (hash, rightmost-pos) selection is encoded as ONE integer —
    * `hash · 2²⁰ + (2²⁰−1 − pos)` — so a plain windowed `min` picks
    * hash-then-rightmost in both engines with pure integer math (no
    * struct comparisons, no engine-specific argmin semantics). Caps
    * documents at 2²⁰ tokens; chunk longer ones upstream
    * ([[docChunks]]).
    */
  def textWinnowing(spark: SparkSession, dir: String): DataFrame =
    winnowSelections(Tables.documents(spark, dir)).orderBy(col("doc_id"), col("fp_pos"))

  /** The distinct (doc_id, fp_hash, fp_pos) selections of any (doc_id,
    * text) relation, without the presentation sort — shared with
    * [[textWinnowPairs]].
    */
  private[graft] def winnowSelections(docs: DataFrame): DataFrame = {
    val K = 3; val W = 4; val Shift = 1048576L // 2^20
    val grams = docs
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), (size(col("t")) - (K - 1)).as("n_grams"),
        posexplode(windows("t", K)((_, ws) => gram(ws))).as(Seq("pos", "gram")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, W - 1)
    grams
      .withColumn("key",
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("bigint") * Shift +
          (lit(Shift - 1) - col("pos")))
      .withColumn("k", min(col("key")).over(w))
      .filter(col("pos") <= col("n_grams") - W) // only full windows select
      .select(col("doc_id"), expr(s"k div $Shift").as("fp_hash"),
        (lit(Shift - 1) - pmod(col("k"), lit(Shift))).as("fp_pos"))
      .distinct()
  }

  /** Winnowing fingerprints IN USE: candidate near-dup pairs from the
    * shared-fingerprint index — the MOSS pair search. Documents sharing
    * ≥ 3 distinct selected hashes are flagged with their overlap count.
    * One self-equi-join on the fingerprint hash (same plan family as
    * the MinHash band join: the shuffle key is the hash, candidates
    * exist only within a hash bucket, never all-pairs) over the ~0.4×
    * compressed fingerprint relation. Measured on the synthetic corpus:
    * unrelated pairs share 1-2 fingerprints, true near-dups 6-37 — the
    * threshold sits in the gap. Position is dropped before the join
    * (DISTINCT doc, hash): winnowing may select the same hash at
    * several positions and pair evidence counts distinct CONTENT, not
    * repeats.
    */
  def textWinnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairs(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** The pair relation without the presentation sort — composition
    * point for [[Pipeline.corpusSplitLeakage]].
    */
  private[operators] def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val MinShared = 3
    val fp = winnowSelections(Tables.documents(spark, dir))
      .select(col("doc_id"), col("fp_hash")).distinct()
      .localCheckpoint() // referenced twice below; winnowing itself is 2 window passes
    fp.select(col("doc_id").as("doc_a"), col("fp_hash"))
      .join(fp.select(col("doc_id").as("doc_b"), col("fp_hash")), "fp_hash")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinShared)
  }

  /** Corpus-wide top-k bigrams: explode → count → top-k. Map-side
    * partial aggregation carries the heavy lifting; only (distinct
    * bigram) rows shuffle, and the final top-k is a single ordered
    * limit (TakeOrdered), not a global sort.
    */
  def textNgramTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(toks(col("text"))).as("tok"))
      .select(col("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(20)

  /** Histogram of document lengths in 50-token buckets — the corpus
    * profile a filtering policy is tuned against. One aggregation on
    * the bucket id.
    */
  def textLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((floor(size(toks(col("text"))) / 50L) * 50).cast("long").as("bucket_start"))
      .groupBy(col("bucket_start"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("bucket_start"))

  /** Bigram-familiarity score — the n-gram-LM-style quality filter
    * ("does this document look like the corpus?") with the model
    * TRAINED and APPLIED in one plan: corpus bigram counts (map-side
    * partial agg, one shuffle on gram), joined back onto each
    * document's frequency-weighted bigrams, averaged per doc.
    * Arithmetic-only (integer sums + one division) so both engines
    * agree bit-for-bit. At 100 TB the count model is the shuffled
    * artifact (|distinct bigrams| rows) and documents stream through
    * the gram-keyed join — the standard perplexity-filter shape.
    */
  def textBigramFamiliarity(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), explode(windows("toks", 2)((_, ws) => gram(ws))).as("gram"))
    val counts = grams.groupBy("gram").agg(count(lit(1)).as("c"))
    grams.join(counts, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), round(avg(col("c")), 6).as("avg_gram_count"))
      .orderBy(col("doc_id"))
  }

  /** Repetition signals (the Gopher-style repetition filters, adapted
    * to token n-grams): per doc, the fraction of tokens covered by the
    * single most repeated bigram and the fraction of trigrams that are
    * duplicates; `is_repetitive` flags degenerate/looping text — the
    * filter that catches boilerplate and LLM loops a quality score
    * misses. Plan: one explode per n-gram order, grouped with map-side
    * partial aggregation (the shuffle carries (doc, gram, count) rows,
    * bounded by per-doc DISTINCT grams), then a 3-way doc_id join —
    * every stage keyed on doc_id or (doc_id, gram), embarrassingly
    * partition-parallel at corpus scale.
    */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    // ONE corpus scan: both n-gram orders ride a single tagged explode
    // (the naive per-order formulation re-scans and re-tokenizes the
    // corpus once per order plus once for the lengths); a document of
    // fewer than 3 tokens has no trigram, and its null trigram array
    // nulls the concat, so it yields no rows
    def gramArr(n: Int) = windows("toks", n)((_, ws) => gram(ws))
    // both orders share one exploded relation untagged — a bigram can
    // never collide with a trigram (different word counts), so the
    // order is recovered per DISTINCT gram after the first aggregation
    // (the small side), not carried through the explode (the big side)
    val tagged = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        explode(concat(gramArr(2), gramArr(3))).as("gram"))
    val stats = tagged
      .groupBy(col("doc_id"), col("n_tokens"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", size(split(col("gram"), " ")))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        max(when(col("n") === 2, col("c"))).as("top_bigram_n"),
        sum(when(col("n") === 3, col("c"))).as("n_tri"),
        count(when(col("n") === 3, lit(1))).as("n_tri_distinct"))
    stats
      .select(
        col("doc_id"), col("n_tokens"),
        // occurrences of the top bigram overlap ("go go go go" has 3 of
        // "go go" over 4 tokens), so cap the covered-token estimate at 1
        round(least(lit(1.0), lit(2.0) * col("top_bigram_n") / col("n_tokens")), 6)
          .as("top_bigram_frac"),
        round(lit(1.0) - col("n_tri_distinct").cast("double") / col("n_tri"), 6)
          .as("dup_trigram_frac"))
      .withColumn("is_repetitive",
        col("top_bigram_frac") > 0.12 || col("dup_trigram_frac") > 0.03)
      .orderBy(col("doc_id"))
  }

  /** Fixed token-window chunking with overlap (window 32, stride 24) —
    * the RAG / context-length prep pass: each doc becomes overlapping
    * chunks that tile the token sequence; the last window is the first
    * one reaching the end. Pure plan work per row (sequence + explode +
    * slice): NO shuffle except the output sort — at 100 TB this is a
    * map-only pass that chains straight into the embedding stage.
    */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    chunkRows(spark, dir).orderBy(col("doc_id"), col("chunk_idx"))

  /** [[docChunks]] without the presentation sort — composition point for
    * downstream passes (dedup) whose first shuffle would destroy the
    * order anyway.
    */
  private def chunkRows(spark: SparkSession, dir: String): DataFrame = {
    val W = 32; val S = 24
    Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tokens"))
      .withColumn("n_chunks",
        when(col("n_tokens") <= W, lit(1L))
          .otherwise(ceil((col("n_tokens") - W).cast("double") / S) + 1))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunks") - 1)))
      .withColumn("chunk_toks",
        slice(col("toks"), (col("chunk_idx") * S + 1).cast("int"), lit(W)))
      .select(
        col("doc_id"), col("n_tokens"), col("n_chunks"), col("chunk_idx"),
        (col("chunk_idx") * S + 1).as("start_token"),
        size(col("chunk_toks")).as("chunk_len"),
        concat_ws(" ", col("chunk_toks")).as("chunk_text"))
  }

  /** Chunk-granularity exact dedup — the passage-level pass (à la
    * C4/RefinedWeb paragraph dedup) that document-level dedup misses:
    * boilerplate repeated ACROSS distinct documents. Chunks from
    * [[docChunks]] are keyed by content hash; the keep-first winner is
    * the lowest (doc_id, chunk_idx); every chunk row carries its
    * verdict. One shuffle on the chunk hash (map-side partial min),
    * composing two existing operators — no new machinery.
    */
  def dedupChunks(spark: SparkSession, dir: String): DataFrame = {
    // single scan + single shuffle on the hash: the keep-first verdict
    // and copy count are windows over the SAME partitioning (a
    // groupBy-then-join-back formulation would run the chunking
    // explode twice and shuffle twice)
    val w = Window.partitionBy(col("chunk_hash"))
    val wOrd = w.orderBy(col("doc_id"), col("chunk_idx"))
    chunkRows(spark, dir)
      .select(col("doc_id"), col("chunk_idx"), md5(col("chunk_text")).as("chunk_hash"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("is_kept", row_number().over(wOrd) === 1)
      .select("doc_id", "chunk_idx", "chunk_hash", "n_copies", "is_kept")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Per-document top-3 terms by TF-IDF — the keyword-extraction pass
    * (domain tagging, topic routing, index keys) with the model TRAINED
    * and APPLIED in one plan, like [[textBigramFamiliarity]]: the
    * classic two-pass shape. Pass 1 builds the models — the vocab-sized
    * df relation (column pruning reduces its input to the DISTINCT
    * (doc, term) pairs, so the shuffle never carries counts) and the
    * 1-row corpus count (footer-only parquet count). Pass 2 computes
    * per-(doc, term) tf (one shuffle, map-side partial) and joins the
    * df model in: broadcast while the vocabulary fits (unhinted — the
    * cost model decides, per the repo broadcast policy), degrading to a
    * term-keyed shuffle join with AQE skew split at vocabulary scale
    * (stopword terms are the hot keys, which is also why df is NOT a
    * `count over (partition by term)` window — that shape cannot skew-
    * split). idf = ln((N+1)/(df+1)); the per-doc top-3 is a
    * rank-filtered window that InferWindowGroupLimit plans as a partial
    * group limit — each map task forwards only its own top-3 per doc.
    * Ordering is deterministic: rounded score desc, then term asc.
    */
  def textTfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val terms = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Okapi BM25 parameters — the textbook defaults. */
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25QueryTerms = 3
  private val Bm25TopK = 10

  /** Okapi BM25 document ranking — the lexical-retrieval scorer the
    * reference's stage-2 name search approximates with a similarity
    * API (batch_processor.py:477-556), expressed as the standard
    * inverted-index ranking function. Query terms are selected FROM
    * the corpus deterministically (the `Bm25QueryTerms` rarest terms
    * by document frequency — rare terms are what real queries are made
    * of); each matching document scores
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf = ln(1 + (N−df+0.5)/(df+0.5))`.
    *
    * Plan shape at 100 TB: one corpus shuffle builds the (doc, term)
    * tf relation; df and the 1-row (N, avgdl) stats are model-sized
    * aggregates over it; the query-term relation (3 rows) broadcasts
    * into a map-side semi-join that prunes the tf relation BEFORE the
    * per-doc rollup, so the scoring pass touches only postings of the
    * query terms — exactly an inverted-index probe. The final top-10
    * is `orderBy…limit` (TakeOrdered: each partition forwards ≤ 10
    * rows, never a global sort).
    *
    * Engine parity: per-(doc, term) contributions are identical IEEE
    * arithmetic in both engines (avgdl is an explicit exact
    * sum/count division, not an engine-specific streaming mean), and
    * the per-doc sum is made ORDER-INDEPENDENT by summing the
    * contributions as 6-decimal-scaled integers — no float-summation
    * drift for a value landing on a rounding boundary.
    */
  def textBm25Topk(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
    // the tf posting relation feeds df, dl, the (N, avgdl) stats, and
    // the scoring join — checkpoint so the corpus explode+aggregate
    // runs once (same shared-relation discipline as Dedup's shingles)
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = df.orderBy(col("df").asc, col("term")).limit(Bm25QueryTerms)
    val contrib = tf
      .join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("c",
        col("idf") * (col("tf") * (Bm25K1 + 1)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0) - Bm25B + lit(Bm25B) * col("dl") / col("avgdl"))))
    contrib
      .groupBy(col("doc_id"), col("dl"))
      .agg(
        count(lit(1)).as("n_terms_hit"),
        sum(round(col("c") * 1000000, 0).cast("bigint")).as("s6"))
      .select(col("doc_id"), col("n_terms_hit"), col("dl"),
        round(col("s6") / 1000000.0, 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  /** Token-distribution (Shannon) entropy per document — the quality
    * signal that separates natural prose from gibberish and keyboard
    * mash (low entropy = heavy repetition, high ≈ ln(n_distinct) =
    * near-uniform noise; prose sits in between). Computed WITHOUT a
    * per-token probability pass: H = ln(N) − Σ n·ln(n) / N needs only
    * the per-(doc, token) counts, so the plan is the same two map-side-
    * combined aggregations as every other text operator — explode →
    * count per (doc_id, tok) → fold per doc_id. Rounded to 6 decimals
    * so both engines' libm agree.
    */
  def textEntropy(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
    cnt.groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * log(col("n"))).as("s"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens")) - col("s") / col("n_tokens"), 6).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Per-document bigram-LM aggregate — doc_id, n_grams, s6 (the
    * 6-dp-integer-scaled negative-log-likelihood sum). Shared by
    * [[textPerplexity]] and the CCNet-style bucket assignment
    * (CorpusOps.corpusPplBuckets): one definition of the model so the
    * score and the bucketing cannot drift.
    */
  private[operators] def perplexityAgg(spark: SparkSession, dir: String): DataFrame = {
    val pairs = bigramPairs(Tables.documents(spark, dir)).localCheckpoint()
    val bg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbg"))
    val ctx = bg.groupBy(col("w1")).agg(sum(col("cbg")).as("cctx"))
    val vocab = pairs.agg(countDistinct(col("w2")).as("vs"))
    pairs
      .join(bg, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll6", round(-log(2.0,
        (col("cbg") + 0.5) / (col("cctx") + lit(0.5) * col("vs"))) * 1000000, 0)
        .cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("nll6")).as("s6"))
  }

  /** Bigram-LM perplexity — the CCNet/Wikipedia-LM filter shape every
    * corpus pipeline runs: score each document by the cross-entropy of
    * its token stream under a language model (here a corpus-trained
    * add-½-smoothed bigram model — a KenLM would broadcast its ARPA
    * table; the scoring join topology is identical). The model
    * relations (bigram counts, context totals derived FROM the bigram
    * relation, successor-vocabulary size) are vocabulary-bounded; the
    * token-pair relation shuffles once and is checkpointed (read for
    * counts and for scoring). Per-pair -log₂p contributions are
    * integer-scaled before the order-free per-doc sum (the BM25
    * discipline), so only the final single-evaluation 2^H rounds.
    */
  def textPerplexity(spark: SparkSession, dir: String): DataFrame =
    perplexityOf(perplexityAgg(spark, dir))

  /** Every (doc_id, w1, w2) adjacent token pair of any (doc_id, text)
    * relation. Its callers checkpoint it: model training and scoring
    * both read it.
    */
  private[graft] def bigramPairs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .select(col("doc_id"), explode(windows("toks", 2)((_, ws) =>
        s"struct(${ws(0)} AS w1, ${ws(1)} AS w2)")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))

  /** Per-doc cross-entropy and perplexity from (doc_id, n_grams, s6). */
  private def perplexityOf(agg: DataFrame): DataFrame =
    agg.select(col("doc_id"), col("n_grams"),
        round(col("s6") / (col("n_grams") * lit(1000000.0)), 6).as("cross_entropy"),
        round(pow(lit(2.0), col("s6") / (col("n_grams") * lit(1000000.0))), 6)
          .as("perplexity"))
      .orderBy(col("doc_id"))

  /** Absolute discount for the Kneser-Ney LM — 3/4 (the Chen-Goodman
    * default neighborhood), an exact dyadic double.
    */
  private val KnD = 0.75

  /** The interpolated KNESER-NEY bigram model's component relations:
    * bigram counts, per-context totals + type counts N1+(w1,·),
    * continuation counts N1+(·,w2), and the 1-row bigram-type total —
    * all grouped aggregates over the shared pair relation. Exposed so
    * the spec can verify the published normalization property
    * (Σ_w2 P(w2|w1) = 1 over the FULL vocabulary, unseen included).
    */
  private[graft] def knComponents(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val pairs = bigramPairs(Tables.documents(spark, dir)).localCheckpoint()
    val bg = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cbg"))
    val ctx = bg.groupBy(col("w1"))
      .agg(sum(col("cbg")).as("cctx"), count(lit(1)).as("n1plus"))
    val cont = bg.groupBy(col("w2")).agg(count(lit(1)).as("ncont"))
    val tot = bg.agg(count(lit(1)).as("nbt"))
    (pairs, bg, ctx, cont, tot)
  }

  /** Per-gram interpolated-KN probability — the single formula both the
    * scorer and the normalization spec evaluate. `cbgCol` may be a
    * possibly-NULL join result: unseen bigrams take only the
    * continuation term, exactly Kneser-Ney's backoff mass.
    */
  private[graft] def knP(cbgCol: Column): Column =
    coalesce((cbgCol - lit(KnD)) / col("cctx"), lit(0.0)) +
      lit(KnD) * col("n1plus") / col("cctx") * (col("ncont") / col("nbt"))

  /** Document scoring under the INTERPOLATED KNESER-NEY bigram LM
    * (Kneser & Ney '95; Chen & Goodman '99's interpolated form) — the
    * published smoothing next to `text_perplexity`'s additive model:
    * each bigram's probability is its discounted count plus the
    * context's reserved mass times the CONTINUATION unigram (how many
    * distinct contexts a word follows — the "San Francisco" fix:
    * frequent-but-predictable words get small continuation mass).
    * Same engine-exactness discipline as the additive LM: each gram's
    * −log₂ p is integer-scaled and rounded BEFORE the per-doc sum, so
    * summation order cannot move the result between engines. Model =
    * three grouped aggregates + a 1-row total, all broadcast onto the
    * scoring pass.
    */
  def textPerplexityKn(spark: SparkSession, dir: String): DataFrame = {
    val (pairs, bg, ctx, cont, tot) = knComponents(spark, dir)
    perplexityOf(pairs
      .join(bg, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("nll6",
        round(-log(2.0, knP(col("cbg"))) * 1000000, 0).cast("bigint"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("nll6")).as("s6")))
  }

  /** Corpus LEXICAL PROFILE — the Zipf diagnostics a pipeline reads
    * before trusting its text statistics: token/type counts, hapax
    * share (freq-1 types — the OOV pressure signal), and the fitted
    * Zipf exponent (closed-form least squares of ln freq on ln rank
    * — natural text sits near −1; synthetic or templated corpora
    * betray themselves with a flat slope, exactly the 31-term-vocab
    * artifact PLANS.md documents for this testbed). One token
    * aggregation; the rank window runs over the VOCABULARY relation
    * (already aggregated — #types rows, not corpus rows; at extreme
    * vocab sizes swap in the two-phase cumsum's range-partition rank).
    * The regression is sums of logs — order-free after 6-dp rounding
    * of each term's contribution, so both engines agree exactly.
    */
  def textZipfProfile(spark: SparkSession, dir: String): DataFrame =
    zipfProfileOver(Tables.documents(spark, dir))

  /** The profile over any (text) relation — exposed for the
    * hand-computed spec corpus.
    */
  private[graft] def zipfProfileOver(docs: DataFrame): DataFrame = {
    val vocab = docs
      .select(explode(toks(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val wRank = Window.orderBy(col("f").desc, col("w"))
    val ranked = vocab
      .withColumn("r", row_number().over(wRank))
      // integer-scaled log terms: the later sums must not depend on
      // accumulation order (the BM25 discipline)
      .select(col("f"),
        round(log(col("r").cast("double")) * 1000000, 0).cast("bigint").as("x6"),
        round(log(col("f").cast("double")) * 1000000, 0).cast("bigint").as("y6"))
    ranked.agg(
        count(lit(1)).as("n_types"),
        sum(col("f")).as("n_tokens"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax_types"),
        sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x6") * col("y6")).as("sxy"), sum(col("x6") * col("x6")).as("sxx"))
      .select(
        col("n_types"), col("n_tokens"), col("hapax_types"),
        round(col("hapax_types") / col("n_types"), 6).as("hapax_frac"),
        // slope in the original ln space: the 1e6 scaling cancels in
        // the ratio ((n·Σxy − ΣxΣy) / (n·Σxx − Σx²))
        round((col("n_types") * col("sxy") - col("sx") * col("sy")) /
          (col("n_types") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
  }

  /** Cross-doc span width (tokens) for the repeated-gram audit. */
  private[graft] val SpanGram = 5

  /** Cross-document REPEATED-SPAN audit (the Lee et al. "Deduplicating
    * Training Data Makes Language Models Better" exact-substring view):
    * for every document, what fraction of its `SpanGram`-token spans
    * also appears verbatim in ANOTHER document — the memorization-risk
    * measure document-level dedup (which only scores whole-doc
    * similarity) cannot see. Position-level: each span POSITION counts,
    * so a boilerplate sentence pasted into 50 docs marks every copy.
    * Plan: one corpus explode into (doc, pos, gram) — checkpointed,
    * read by the document-frequency aggregation and the join-back —
    * then gram df ≥ 2 (distinct docs) marks repeated positions, one
    * doc_id aggregation emits the stats. Two keyed aggregations + one
    * join over the gram relation; at 100 TB the gram key is the
    * shuffle — exactly the suffix-array workload's distributed shape.
    */
  def textRepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    repeatedSpansOver(Tables.documents(spark, dir))

  /** The audit over any (doc_id, text) relation — exposed so specs can
    * plant verbatim cross-doc spans.
    */
  private[graft] def repeatedSpansOver(docs: DataFrame): DataFrame = {
    // df aggregation + join-back both read it
    val grams = spanGramsOver(docs).localCheckpoint()
    grams.join(gramDfOf(grams), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_repeated"))
      .withColumn("repeated_frac", round(col("n_repeated") / col("n_spans"), 6))
      .orderBy(col("doc_id"))
  }

  /** Document-frequency cap for the span-extraction gram join: grams in
    * more than this many documents are boilerplate (already measured by
    * `text_repeated_spans` and stripped by `corpus_boilerplate_strip`),
    * and joining them would make bucket occupancy ∝ corpus size. The
    * cap is part of the OPERATOR'S SEMANTICS (stated here and replayed
    * by the oracle), not a silent truncation: it bounds per-gram join
    * fan-out at cap², so total pair work is ∝ #eligible-grams · cap².
    */
  private[graft] val SpanDfCap = 50

  /** Cross-document EXACT-SUBSTRING extraction — the "which text is
    * duplicated" half of the Lee et al. story whose "how much" half is
    * [[textRepeatedSpans]]: for every ordered document pair, every
    * MAXIMAL verbatim token span the two share (reported from both
    * sides' start offsets), built from `SpanGram`-token gram matches
    * merged along alignment diagonals.
    *
    * Plan (the distributed suffix-array workload's join shape):
    * one corpus explode into (doc, pos, gram) — checkpointed, read by
    * the df filter and both sides of the self-join — gram df in
    * [2, SpanDfCap] keeps only cross-doc, non-boilerplate grams, the
    * gram-keyed self-join (a.doc < b.doc) yields occurrence hits, and a
    * hit at (pos_a, pos_b) extends the same maximal span as its
    * neighbor at (pos_a+1, pos_b+1) — i.e. consecutive pos_a on one
    * DIAGONAL (pos_a − pos_b). Gaps-and-islands per (pair, diagonal)
    * (pos_a − row_number, a per-diagonal window — fine-grained
    * partitions, never a global sort) merges hits into maximal runs:
    * span_len = max(pos_a) − min(pos_a) + SpanGram tokens. Self-overlap
    * inside a repetitive region shows up as one span per diagonal —
    * the standard behavior of diagonal-merge matchers.
    *
    * At 100 TB: the gram relation is the only corpus-sized shuffle
    * (same key as `text_repeated_spans`); the self-join is bounded by
    * the df cap; islands group by (pair, diagonal) so no partition
    * exceeds one document's span count.
    */
  def dedupExactSpans(spark: SparkSession, dir: String): DataFrame =
    exactSpansOver(Tables.documents(spark, dir))

  /** The extraction over any (doc_id, text) relation — exposed so specs
    * can plant verbatim cross-doc spans at known offsets.
    */
  private[graft] def exactSpansOver(docs: DataFrame): DataFrame =
    // checkpoint: the df filter and both self-join sides read the gram
    // relation, and without materialization each reader re-runs the
    // whole corpus explode
    spansFromGrams(spanGramsOver(docs).localCheckpoint())

  /** The positional gram relation (doc_id, pos, g) the span search
    * runs on — the artifact the served form persists and the relation
    * the maintenance tier keeps current.
    */
  private[graft] def spanGramsOver(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), toks(col("text")).as("toks"))
    .select(col("doc_id"), explode(windows("toks", SpanGram)((i, ws) =>
      s"struct($i AS pos, ${gram(ws)} AS g)")).as("s"))
    .select(col("doc_id"), col("s.pos"), col("s.g"))

  /** The positional grams SERVED from their write-once g-bucketed
    * artifact table: the corpus tokenize + explode runs once per JVM,
    * probes read the table, and bucketing on the gram key makes the
    * pair search's self-join exchange-free on the artifact side.
    */
  private[graft] def servedSpanGrams(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "span_grams", "g", 8)(
      spanGramsOver(Tables.documents(spark, dir)))

  /** The span extraction served from the gram artifact — identical
    * result by construction (shares the base form's oracle SQL).
    *
    * MEASURED LIMIT (r15 organic ×10, PLANS.md): byte exp 2.84
    * (820 KB → 566 MB) — true cross-document span mass is ~quadratic
    * on a crossover corpus (every crossover shares a half-document
    * span with its parent and its siblings through that parent), and
    * the bytes are the hits feeding the gaps-and-islands window:
    * output-proportional, exactly like the uncapped pair tier before
    * [[Dedup.cappedPairsOf]]. The df cap bounds REPEATED boilerplate
    * (df > cap), but crossover spans sit at df 2-50 — genuine signal
    * under the cap. The bounded operating point for corpus-wide
    * extraction over duplicate-heavy crawls is
    * [[dedupExactSpansCapped]] (hit mass ≤ w · occurrences by
    * construction); this form stays the exact/oracle tier.
    */
  def dedupExactSpansServed(spark: SparkSession, dir: String): DataFrame =
    spansFromGrams(servedSpanGrams(spark, dir))

  /** df-cap + gram self-join + diagonal gaps-and-islands over any
    * (doc_id, pos, g) relation — shared by the self-contained and
    * served forms, which derive eligibility from the grams themselves.
    */
  private def spansFromGrams(grams: DataFrame): DataFrame =
    spansFromGramsWithDf(grams, gramDfOf(grams))

  /** Per-gram document frequency (g, gdf) of a (doc_id, pos, g) relation. */
  private def gramDfOf(grams: DataFrame): DataFrame =
    grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("gdf"))

  /** The extraction with per-gram document frequency supplied as its
    * own (g, gdf) relation — the maintenance tier's entry point: the
    * maintained df table replaces the corpus-wide distinct+aggregate.
    */
  private[graft] def spansFromGramsWithDf(grams: DataFrame,
      gdf: DataFrame): DataFrame = {
    val elig = gdf
      .filter(col("gdf") >= 2 && col("gdf") <= SpanDfCap)
      .select(col("g"))
    val pruned = grams.join(elig, "g")
    val hits = pruned
      .select(col("g"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
      .join(pruned
        .select(col("g"), col("doc_id").as("doc_b"), col("pos").as("pos_b")), "g")
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    spansFromHits(hits)
  }

  /** Diagonal gaps-and-islands over a (doc_a, doc_b, pos_a, pos_b,
    * diag) hit relation — the merge step shared by the uncapped and
    * capped span searches.
    */
  private def spansFromHits(hits: DataFrame): DataFrame = {
    val wDiag = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
      .orderBy(col("pos_a"))
    hits
      .withColumn("isl", col("pos_a") - row_number().over(wDiag))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("isl"))
      .agg(min(col("pos_a")).as("sa"), min(col("pos_b")).as("sb"),
        max(col("pos_a")).as("ma"))
      .select(col("doc_a"), col("doc_b"),
        col("sa").cast("long").as("start_a"),
        col("sb").cast("long").as("start_b"),
        (col("ma") - col("sa") + lit(SpanGram)).cast("long").as("span_len"))
      .orderBy(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"))
  }

  /** Sorted-window width of the CAPPED span search: within every
    * eligible gram's occurrence list (docs ranked by doc_id) each
    * member pairs with its next `SpanWindow` successors — hit mass ≤
    * w · eligible occurrences BY CONSTRUCTION, a provable linear
    * bound at any corpus. Chosen by a DuckDB lever sweep at the
    * organic ×10 point (PLANS.md r15 second half): an
    * occupancy-GATED first cut (cliques ≤ 16 docs, window only above
    * — the pair tier's recipe) was measured and REJECTED: crossover
    * span mass lives at gram df 2-16, squarely UNDER the gate, so the
    * gate admitted 9.5 M of the 11.8 M clique pairs and the "capped"
    * build moved MORE bytes than the uncapped one (1.76 GB vs
    * 566 MB at ×10). The windowed sweep: w=1 → 2.1 M hits / 0.20 pair
    * recall, w=2 → 4.0 M / 0.34, w=4 → 7.1 M / 0.59, w=8 → 10.7 M /
    * 0.88, uncapped 11.8 M / 1.0 — cost ∝ recall almost exactly
    * (the pair-tier theorem again: true pair mass is the output, so
    * recalling share r costs ~r of it). w = 2 is the default
    * operating point; at the NON-adversarial ×3 point it already
    * recalls 0.92 of pairs, and position COVERAGE is 1.0 at any w.
    */
  private[graft] val SpanWindow = 2

  /** [[dedupExactSpansServed]]'s BOUNDED production twin — a sorted
    * window ([[SpanWindow]] successors in doc_id order) over EVERY
    * eligible gram's occurrence list, replacing the positional
    * self-join's per-gram cliques (the r15 finding: true
    * cross-document span mass is ~quadratic on a crossover corpus,
    * byte exp 2.84 at the organic ×10 point — the df cap bounds
    * boilerplate df > 50, but crossover spans sit at df 2-50). The
    * window is pure WINDOW arithmetic (`lead` over the g-clustering —
    * no self-join at all), so NOTHING in the plan enumerates
    * occupancy² — candidate mass ≤ w · occurrences at any corpus, and
    * over the g-bucketed artifact the whole candidate build plus both
    * positional joins are exchange-free. Admission is per (gram, pair): a
    * pair admitted at one gram and windowed out at another reports a
    * shorter or split span there — the measured trade (pair recall
    * 0.92 at organic ×3, 0.34 at the adversarial ×10; the dial table
    * lives at [[SpanWindow]]). Two invariants survive structurally
    * (pinned by DedupCappedSpec): every capped span lies inside an
    * uncapped span of the same pair/diagonal, and the COVERED
    * POSITION set (which token positions sit in a cross-doc span) is
    * IDENTICAL to the uncapped one — every eligible occurrence still
    * pairs with an adjacent occurrence, so no duplicated position
    * escapes; only pair ATTRIBUTION is capped. That makes the capped
    * form a drop-in for the strip/dedup ACTION (which cuts positions,
    * not pairs) at bounded cost.
    */
  def dedupExactSpansCapped(spark: SparkSession, dir: String): DataFrame =
    cappedSpansFromGrams(servedSpanGrams(spark, dir))

  /** The capped span search over any (doc_id, pos, g) relation —
    * exposed for specs and the scale bench.
    */
  private[graft] def cappedSpansFromGrams(grams: DataFrame): DataFrame =
    spansFromHits(cappedSpanHitsOf(grams))

  /** The capped hit relation itself — exposed so DedupCappedSpec can
    * pin the linear bound (hits ≤ [[SpanWindow]] · eligible
    * occurrences) as a counted invariant, not just a comment.
    */
  private[graft] def cappedSpanHitsOf(grams: DataFrame): DataFrame = {
    // The whole candidate build is WINDOW arithmetic over one
    // g-clustering: occupancy (count), eligibility (filter), and the
    // w successors (lead) share the partitioning, and when `grams` is
    // the g-bucketed artifact the distinct, both windows, AND both
    // positional joins below are exchange-free on the artifact side —
    // the only data that ever moves is the admitted hit relation
    // (≤ w · eligible occurrences, g projected away) into the island
    // merge. The v1 design (rank self-joins keyed by the gram STRING)
    // moved 1.23 GB at the organic ×10 point — MORE than the uncapped
    // 566 MB — because the ~50-byte gram key rode six exchanges;
    // this build moves ~60 MB there for the same answer.
    val wCnt = Window.partitionBy(col("g"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("doc_id"))
    val ranked = grams.select(col("g"), col("doc_id")).distinct()
      .withColumn("gdf", count(lit(1)).over(wCnt))
      .filter(col("gdf") >= 2 && col("gdf") <= SpanDfCap)
    val admitted = ranked
      .withColumn("nbrs", array((1 to SpanWindow).map(i =>
        lead(col("doc_id"), i).over(wOrd)): _*))
      .select(col("g"), col("doc_id").as("doc_a"),
        explode(col("nbrs")).as("doc_b"))
      .filter(col("doc_b").isNotNull)
    // positional joins on the GRAM KEY ALONE, with the doc match left
    // as a merge condition Catalyst cannot lift into the join keys
    // (doc_a - doc_id = 0): with keys (g, doc) Spark ≥ 3.3 requires
    // all cluster keys for co-partition reuse and would re-shuffle
    // BOTH sides — four exchanges carrying the ~50-byte gram string
    // (measured: 816 MB at the organic ×10 point). On g alone both
    // sides ride the artifact's bucketing exchange-free; the in-bucket
    // enumeration is bounded by the df cap (≤ 50 docs per gram).
    val hits = admitted
      .join(grams.select(col("g"), col("doc_id").as("da"),
        col("pos").as("pos_a")), Seq("g"))
      .where(expr("doc_a - da = 0"))
      .select(col("g"), col("doc_a"), col("doc_b"), col("pos_a"))
      .join(grams.select(col("g"), col("doc_id").as("db"),
        col("pos").as("pos_b")), Seq("g"))
      .where(expr("doc_b - db = 0"))
      .select(col("doc_a"), col("doc_b"), col("pos_a"), col("pos_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    hits
  }

  /** The exact-substring DEDUP ACTION (the step Lee et al.'s
    * "Deduplicating Training Data Makes Language Models Better" takes
    * after extraction, which `dedup_exact_spans` stops short of): for
    * every maximal cross-document span, the HIGHER-id document's
    * occurrence is cut out of its token stream and the survivor is
    * reassembled — one copy of each duplicated substring survives, in
    * the lowest-id document that carries it. The policy is
    * deterministic and local (every doc_b occurrence of every reported
    * span is removed), so the oracle replays it exactly. Output per
    * doc: token count, removed count, and the cleaned
    * whitespace-normalized lowercase word stream (null when nothing
    * survives).
    *
    * Scale shape: the span search is the bounded gram self-join
    * (df-capped, same plan as `dedup_exact_spans`); the removal set
    * explodes spans into (doc, pos) rows — ∝ duplicated tokens, a
    * corpus-linear quantity — and the strip is one keyed left join +
    * one keyed aggregation over the token relation. Nothing new is
    * pairwise.
    */
  def dedupSpanStrip(spark: SparkSession, dir: String): DataFrame =
    spanStripOver(Tables.documents(spark, dir))

  /** Split modulus for the batch admission form — new docs are
    * `doc_id % SpanAdmitMod == 0`, the `dedup_incremental` convention.
    */
  private val SpanAdmitMod = 4

  /** BATCH VERBATIM-COPY ADMISSION (the oracle-checked twin of
    * [[graft.streaming.StreamOps.spanAdmissionStream]], which shares
    * this verdict logic): new docs' positional grams probe the corpus
    * gram relation on the gram key — a hit IS a shared ≥`SpanGram`-
    * token verbatim run. Corpus-df over the span cap is boilerplate,
    * not copying, and is excluded; df ≥ 2 does NOT apply (one corpus
    * occurrence plus the probe already shares a run). Verdict per new
    * doc: distinct corpus sources, matched gram-occurrence count,
    * review/admit. Work ∝ batch tokens × touched gram buckets —
    * batch-vs-corpus only, old-vs-old structurally impossible.
    */
  def dedupSpanAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // checkpoint: the df aggregation and the hit join both read it
    val cg = spanGramsOver(docs.filter(col("doc_id") % SpanAdmitMod =!= 0))
      .localCheckpoint()
    spanAdmitVerdicts(docs.filter(col("doc_id") % SpanAdmitMod === 0), cg,
      cg.select(col("doc_id"), col("g")).distinct()
        .groupBy(col("g")).agg(count(lit(1)).as("gdf")))
      .orderBy(col("doc_id"))
  }

  /** The admission verdicts over any (new docs, corpus grams, corpus
    * gram df) triple — one body for the batch query and the streaming
    * foreachBatch, so stream ≡ batch by construction.
    */
  private[graft] def spanAdmitVerdicts(newDocs: DataFrame, grams: DataFrame,
      gramDf: DataFrame): DataFrame = {
    val probes = spanGramsOver(newDocs)
    val hits = probes.select(col("doc_id"), col("g"))
      .join(gramDf.filter(col("gdf") <= SpanDfCap).select(col("g")), Seq("g"))
      .join(grams.select(col("g"), col("doc_id").as("src_id")), Seq("g"))
      .filter(col("doc_id") =!= col("src_id"))
    newDocs.select(col("doc_id")).distinct()
      .join(hits.groupBy(col("doc_id"))
        .agg(countDistinct(col("src_id")).as("n_sources"),
          count(lit(1)).as("n_gram_hits")),
        Seq("doc_id"), "left")
      .withColumn("n_sources", coalesce(col("n_sources"), lit(0L)))
      .withColumn("n_gram_hits", coalesce(col("n_gram_hits"), lit(0L)))
      .withColumn("action",
        when(col("n_sources") > 0, "review").otherwise("admit"))
  }

  /** The strip SERVED from the gram artifact: the span search reads
    * the bucketed `span_grams` table (the extraction's served plan),
    * only the token reassembly re-reads the corpus. Result-identical
    * by construction (shares the base form's oracle).
    */
  def dedupSpanStripServed(spark: SparkSession, dir: String): DataFrame =
    stripWithSpans(Tables.documents(spark, dir), dedupExactSpansServed(spark, dir))

  /** The strip over any (doc_id, text) relation — exposed so the spec
    * can plant spans and check the surviving copy.
    */
  private[graft] def spanStripOver(docs: DataFrame): DataFrame =
    stripWithSpans(docs, exactSpansOver(docs))

  /** Removal-set expansion + keyed strip over any docs/spans pair —
    * shared by the self-contained and served forms.
    */
  private def stripWithSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val removed = spans
      .select(col("doc_b").as("doc_id"),
        explode(expr("sequence(start_b, start_b + span_len - 1)")).as("pos"))
      .distinct() // overlapping spans from different pairs remove once
    val tok = docs
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("p0", "w")))
      .filter(col("w") =!= "")
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("w"))
    tok.join(removed.withColumn("rm", lit(true)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
          when(col("rm").isNull, struct(col("pos"), col("w"))))),
          s => s.getField("w")), " ").as("clean_text"))
      .withColumn("clean_text", expr("nullif(clean_text, '')"))
      .orderBy(col("doc_id"))
  }

  /** Number of BPE merge-training rounds for the corpus query. */
  private val BpeMergeRounds = 8

  /** BPE merge-table TRAINING (the Sennrich et al. subword-units
    * recipe) — the tokenizer-side op of the training-data story: learn
    * the first `BpeMergeRounds` merges over the corpus vocabulary.
    * Each round is ONE adjacent-symbol-pair count aggregation over the
    * vocabulary-bounded word relation, a deterministic 1-row argmax
    * (count desc, then pair lexicographic — `limit(1)`, a TakeOrdered,
    * never a collect), and a broadcast merge application — the
    * `ann_kmeans_train` discipline applied to subword merges: the
    * driver loop only unrolls the plan, data never leaves the cluster,
    * per-round localCheckpoint keeps lineage flat.
    *
    * Words are space-delimited symbol strings (" l o w ") and a merge
    * is ONE engine-level `replace(" l r ", " lr ")` — left-to-right,
    * non-overlapping: exactly BPE's greedy within-word merge rule, and
    * replayable in DuckDB as the same k unrolled CTEs. Per-round work
    * ∝ vocabulary size, not corpus size: the corpus is scanned once
    * for weighted word counts; at 100 TB the vocabulary relation the
    * rounds iterate on is millions of rows, not billions.
    */
  def textBpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOver(
      Tables.documents(spark, dir)
        .select(explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n")),
      BpeMergeRounds)

  /** The unrolled merge loop over any weighted word relation (w, n) —
    * exposed for the hand-computed spec corpus.
    */
  private[graft] def bpeMergesOver(wordCounts: DataFrame, rounds: Int): DataFrame =
    bpeChain(wordCounts, rounds)._1

  /** The training chain: returns (merge table, final per-word symbol
    * sequences) — the second half is the trained tokenizer state
    * `text_bpe_encode` applies.
    */
  private def bpeChain(wordCounts: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    // " a b c ": boundary spaces make every symbol exactly " sym "-
    // delimited, so the merge rewrite cannot match inside a symbol
    var words = wordCounts
      .withColumn("seq", concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")))
      .localCheckpoint()
    var merges = Seq.empty[DataFrame]
    for (i <- 1 to rounds) {
      val pairs = bpePairs(words)
      // 1 row, read twice (merge table + rewrite): checkpoint so the
      // pair aggregation runs once per round
      val winner = pairs
        .orderBy(col("pair_count").desc, col("l"), col("r"))
        .limit(1)
        .localCheckpoint()
      merges = merges :+ winner.select(lit(i).as("merge_rank"),
        col("l").as("left_sym"), col("r").as("right_sym"), col("pair_count"))
      words = words.crossJoin(broadcast(winner))
        .withColumn("seq", expr(
          "replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ')"))
        .select("w", "n", "seq")
        .localCheckpoint()
    }
    (merges.reduce(_ union _).orderBy(col("merge_rank")), words)
  }

  /** One merge round's weighted adjacent symbol pairs (l, r,
    * pair_count) over a (n, seq) symbol-sequence relation. The symbols
    * of a `seq` are single-space-delimited and hold no whitespace, so
    * its words are its symbols.
    */
  private[graft] def bpePairs(syms: DataFrame): DataFrame =
    syms
      .select(col("n"), words(col("seq")).as("toks"))
      .select(col("n"), explode(windows("toks", 2)((_, ws) =>
        s"struct(${ws(0)} AS l, ${ws(1)} AS r)")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("n")).as("pair_count"))

  /** BPE ENCODING — the inference side of [[textBpeMerges]]: tokenize
    * every document with the trained merge table. Because BPE merges
    * apply per WORD, the encoded corpus is the trained per-word symbol
    * state joined back onto the corpus token stream: the vocabulary
    * relation (tiny — it already fit every training round) broadcasts,
    * the corpus explode is map-side, and one doc_id aggregation emits
    * per-document piece statistics. This is how a trained tokenizer
    * deploys at 100 TB: the merge chain is ~30k rules resolved ONCE
    * into a word → pieces table, and encoding is a broadcast-join scan,
    * never a per-document merge loop.
    */
  def textBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val vocab = bpeChain(
      Tables.documents(spark, dir)
        .select(explode(toks(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n")),
      BpeMergeRounds)._2
      .withColumn("n_sym", size(words(col("seq"))))
      .select(col("w"), col("n_sym"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(vocab), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_pieces"))
      .withColumn("pieces_per_word",
        round(col("n_pieces") / col("n_words"), 6))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bpe_merges"     -> (textBpeMerges _),
    "text_bpe_encode"     -> (textBpeEncode _),
    "text_repeated_spans" -> (textRepeatedSpans _),
    "dedup_exact_spans"   -> (dedupExactSpans _),
    "dedup_exact_spans_served" -> (dedupExactSpansServed _),
    "dedup_exact_spans_capped" -> (dedupExactSpansCapped _),
    "dedup_span_strip"    -> (dedupSpanStrip _),
    "dedup_span_strip_served" -> (dedupSpanStripServed _),
    "dedup_span_admit"    -> (dedupSpanAdmit _),
    "text_zipf_profile"   -> (textZipfProfile _),
    "text_perplexity"     -> (textPerplexity _),
    "text_winnowing"   -> (textWinnowing _),
    "text_winnow_pairs" -> (textWinnowPairs _),
    "text_entropy"     -> (textEntropy _),
    "text_tfidf_topk"  -> (textTfidfTopk _),
    "text_bm25_topk"   -> (textBm25Topk _),
    "text_repetition"  -> (textRepetition _),
    "doc_chunks"       -> (docChunks _),
    "dedup_chunks"     -> (dedupChunks _),
    "text_ngram_topk"  -> (textNgramTopk _),
    "text_length_hist" -> (textLengthHistogram _),
    "text_tokens"      -> (textTokens _),
    "text_quality"     -> (textQuality _),
    "text_langid"      -> (textLangid _),
    "text_langid_eval" -> (textLangidEval _),
    "text_bigram_familiarity" -> (textBigramFamiliarity _),
    "text_fingerprint" -> (textFingerprint _),
    "text_hashing_features" -> (textHashingFeatures _),
    "text_perplexity_kn" -> (textPerplexityKn _))

  private val langidHitColsSql: String = langOrder
    .map(l => s"${hitsSql(toksSql("text"), l)} AS hits_$l").mkString(", ")

  /** The argmax-with-priority fold over hits_* columns, unrolled —
    * shared by the per-doc langid oracle and the confusion-matrix
    * oracle (same fold as the Spark side).
    */
  private val langidBestSql: String =
    langOrder.foldRight("'und'") { (l, acc) =>
      val isMax = langOrder.filter(_ != l)
        .map(o => s"hits_$l >= hits_$o").mkString(" AND ")
      val strictEarlier = langOrder.takeWhile(_ != l) match {
        case Nil => "TRUE"
        case es  => es.map(o => s"hits_$l > hits_$o").mkString(" AND ")
      }
      s"CASE WHEN hits_$l > 0 AND $isMax AND $strictEarlier THEN '$l' ELSE $acc END"
    }

  private val langidSelect: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang AS lang_declared, $langidHitColsSql FROM documents)
       |SELECT doc_id, lang_declared, hits_en, hits_de, hits_fr, hits_es,
       |  $langidBestSql AS lang_pred
       |FROM h ORDER BY doc_id""".stripMargin

  private val langidEvalSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang AS lang_declared, $langidHitColsSql FROM documents),
       |p AS (SELECT lang_declared, $langidBestSql AS lang_pred FROM h),
       |c AS (SELECT lang_declared, lang_pred, count(*) AS n_docs FROM p GROUP BY 1, 2)
       |SELECT lang_declared, lang_pred, n_docs,
       |  round(n_docs / sum(n_docs) OVER (PARTITION BY lang_declared), 6) AS share_of_declared
       |FROM c ORDER BY lang_declared, lang_pred""".stripMargin

  /** `pr` (every adjacent token pair per document) and `bg` (bigram
    * counts) — the SQL twin of [[bigramPairs]].
    */
  private def bigramCtes: String =
    s"""pr AS (
       |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, ${toksSql("text")} AS toks FROM documents) d,
       |       unnest(generate_series(1, len(toks) - 1)) t(i)
       |  WHERE len(toks) >= 2),
       |bg AS (SELECT w1, w2, count(*) AS cbg FROM pr GROUP BY 1, 2)""".stripMargin

  /** `agg` (doc_id, n_grams, s6) over the per-pair `sc` (doc_id, nll6). */
  private def nllAggCte: String =
    """agg AS (
      |  SELECT doc_id, count(*) AS n_grams, sum(nll6) AS s6
      |  FROM sc GROUP BY 1)""".stripMargin

  /** The SQL twin of [[perplexityOf]] over `ctes`, which end in `agg`. */
  private def perplexityOracle(ctes: String): String =
    s"""WITH $ctes
       |SELECT doc_id, n_grams,
       |  round(s6 / (n_grams * 1000000.0), 6) AS cross_entropy,
       |  round(pow(2.0, s6 / (n_grams * 1000000.0)), 6) AS perplexity
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Bigram-LM per-document aggregate as CTEs ending in `agg`
    * (doc_id, n_grams, s6) — the SQL twin of [[perplexityAgg]],
    * shared by the perplexity dump and the CCNet-bucket oracle.
    */
  private[operators] val perplexityCtes: String =
    s"""$bigramCtes,
       |ctx AS (SELECT w1, sum(cbg) AS cctx FROM bg GROUP BY 1),
       |v AS (SELECT count(DISTINCT w2) AS vs FROM pr),
       |sc AS (
       |  SELECT p.doc_id,
       |    CAST(round(-log2((cbg + 0.5) / (cctx + 0.5 * vs)) * 1000000, 0)
       |      AS BIGINT) AS nll6
       |  FROM pr p JOIN bg USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v),
       |$nllAggCte""".stripMargin

  /** Interpolated-KN scoring CTEs ending in `agg` — the oracle twin of
    * [[textPerplexityKn]], discount literal shared via [[KnD]].
    */
  private[operators] val knCtes: String =
    s"""$bigramCtes,
       |ctx AS (SELECT w1, sum(cbg) AS cctx, count(*) AS n1plus FROM bg GROUP BY 1),
       |cont AS (SELECT w2, count(*) AS ncont FROM bg GROUP BY 1),
       |tot AS (SELECT count(*) AS nbt FROM bg),
       |sc AS (
       |  SELECT p.doc_id,
       |    CAST(round(-log2((cbg - $KnD) / cctx
       |      + $KnD * n1plus / cctx * (ncont / nbt)) * 1000000, 0)
       |      AS BIGINT) AS nll6
       |  FROM pr p JOIN bg USING (w1, w2) JOIN ctx USING (w1)
       |  JOIN cont USING (w2) CROSS JOIN tot),
       |$nllAggCte""".stripMargin

  /** Winnowing selection as CTEs ending in `sel` — shared by the
    * fingerprint dump, the pair-search oracle, and the split-leakage
    * oracle in [[Pipeline]].
    */
  private[operators] val winnowCtes: String =
    """wtoks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, i - 1 AS pos, len(t) - 2 AS n_grams,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      |  FROM wtoks, unnest(generate_series(1, len(t) - 2)) s(i)),
      |keyed AS (
      |  SELECT doc_id, pos, n_grams,
      |    CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) * 1048576 + (1048575 - pos) AS key
      |  FROM grams),
      |sel AS (
      |  SELECT doc_id, pos, n_grams,
      |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS k
      |  FROM keyed)""".stripMargin

  /** Winnowing fingerprint PAIRS as CTEs ending in `pairs` — the SQL
    * twin of [[winnowPairs]] (one definition of the window size and
    * the MinShared threshold), shared by the pair-search oracle and
    * the [[Pipeline]] split-leakage oracle.
    */
  private[operators] val winnowPairCtes: String =
    s"""$winnowCtes,
       |fp AS (
       |  SELECT DISTINCT doc_id, k // 1048576 AS fp_hash
       |  FROM sel WHERE pos <= n_grams - 4),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       |  FROM fp a JOIN fp b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= 3)""".stripMargin

  /** The BPE training oracle: the SAME k unrolled rounds as CTEs —
    * DuckDB's `replace` shares the left-to-right non-overlapping
    * greedy semantics the Spark side relies on.
    */
  private def bpeChainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (
         |  SELECT t.toks[j.j] AS l, t.toks[j.j + 1] AS r, sum(t.n) AS pair_count
         |  FROM (SELECT n, string_split(trim(seq), ' ') AS toks FROM $prev) t,
         |       unnest(generate_series(1, len(t.toks) - 1)) j(j)
         |  GROUP BY 1, 2),
         |win$i AS (SELECT l, r, pair_count FROM p$i
         |  ORDER BY pair_count DESC, l, r LIMIT 1),
         |w$i AS (
         |  SELECT w, n,
         |    replace(seq, ' ' || l || ' ' || r || ' ', ' ' || l || r || ' ') AS seq
         |  FROM $prev, win$i)""".stripMargin
    }.mkString(",\n")
    s"""tok AS (
       |  SELECT unnest(${toksSql("text")}) AS w FROM documents),
       |w0 AS (
       |  SELECT w, count(*) AS n,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq
       |  FROM tok WHERE w <> '' GROUP BY w),
       |$roundCtes""".stripMargin
  }

  private def bpeMergesOracle(rounds: Int): String = {
    val unions = (1 to rounds)
      .map(i => s"SELECT $i AS merge_rank, l AS left_sym, r AS right_sym, CAST(pair_count AS BIGINT) AS pair_count FROM win$i")
      .mkString("\n UNION ALL ")
    s"""WITH ${bpeChainCtes(rounds)}
       |$unions ORDER BY merge_rank""".stripMargin
  }

  private def bpeEncodeOracle(rounds: Int): String =
    s"""WITH ${bpeChainCtes(rounds)},
       |enc AS (
       |  SELECT w, len(string_split(trim(seq), ' ')) AS n_sym FROM w$rounds),
       |dtok AS (
       |  SELECT doc_id, unnest(${toksSql("text")}) AS w FROM documents)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(n_sym) AS BIGINT) AS n_pieces,
       |  round(sum(n_sym) * 1.0 / count(*), 6) AS pieces_per_word
       |FROM dtok JOIN enc USING (w)
       |WHERE w <> ''
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The `grams` CTE: every `SpanGram`-token positional gram
    * (doc_id, pos, g) of `rel`'s (doc_id, text) rows — the SQL twin of
    * [[spanGramsOver]].
    */
  private def gramsCteOver(rel: String): String =
    s"""grams AS (
       |  SELECT doc_id, i.i AS pos,
       |    array_to_string(toks[i.i : i.i + ${SpanGram - 1}], ' ') AS g
       |  FROM (SELECT doc_id, ${toksSql("text")} AS toks FROM $rel) d,
       |       unnest(generate_series(1, len(toks) - ${SpanGram - 1})) i(i)
       |  WHERE len(toks) >= $SpanGram)""".stripMargin

  /** `isl` and `spans`: the gaps-and-islands merge of the `hits` CTE
    * (doc_a, doc_b, pos_a, pos_b, diag) into maximal spans.
    */
  private def spansFromHitsCtes: String =
    s"""isl AS (
       |  SELECT doc_a, doc_b, diag, pos_a, pos_b,
       |    pos_a - row_number() OVER (
       |      PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS isl
       |  FROM hits),
       |spans AS (
       |  SELECT doc_a, doc_b,
       |    CAST(min(pos_a) AS BIGINT) AS start_a,
       |    CAST(min(pos_b) AS BIGINT) AS start_b,
       |    CAST(max(pos_a) - min(pos_a) + $SpanGram AS BIGINT) AS span_len
       |  FROM isl GROUP BY doc_a, doc_b, diag, isl)""".stripMargin

  /** `terms` (every non-empty token per document) and `tf` (term
    * counts per document).
    */
  private def termTfCtes: String =
    s"""terms AS (
       |  SELECT * FROM (
       |    SELECT doc_id, unnest(${toksSql("text")}) AS term FROM documents)
       |  WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2)""".stripMargin

  /** The span CTE chain ending in `spans` (the maximal-span relation)
    * over an arbitrary (doc_id, text) relation — shared (via
    * [[exactSpansCtes]]) by the extraction and strip oracles, and
    * directly by the maintenance-tier oracle, which builds it over a
    * deterministic corpus subset CTE ([[MaintQueries]]).
    */
  private[graft] def exactSpansCtesOver(rel: String): String =
    s"""${gramsCteOver(rel)},
       |elig AS (
       |  SELECT g FROM (
       |    SELECT g, count(*) AS gdf
       |    FROM (SELECT DISTINCT doc_id, g FROM grams) GROUP BY g)
       |  WHERE gdf BETWEEN 2 AND $SpanDfCap),
       |hits AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
       |  FROM grams a JOIN elig e ON a.g = e.g JOIN grams b ON a.g = b.g
       |  WHERE a.doc_id < b.doc_id),
       |$spansFromHitsCtes""".stripMargin

  private val exactSpansCtes: String = exactSpansCtesOver("documents")

  /** One oracle for both span-extraction forms: the served twin reads
    * the same grams from the artifact, so its result set is identical.
    */
  private val exactSpansOracle: String =
    s"""WITH $exactSpansCtes
       |SELECT doc_a, doc_b, start_a, start_b, span_len
       |FROM spans ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin

  /** The CAPPED span search's own oracle — replays the sorted window
    * of [[cappedSpansFromGrams]] exactly (same eligibility, same rank
    * order, same per-(gram, pair) admission), so the driver compare
    * pins the cap, not just the surviving spans.
    */
  private lazy val cappedSpansOracle: String =
    s"""WITH ${gramsCteOver("documents")},
       |docg AS (SELECT DISTINCT g, doc_id FROM grams),
       |gdfs AS (SELECT g, count(*) AS gdf FROM docg GROUP BY g),
       |ranked AS (
       |  SELECT d.g, d.doc_id,
       |    row_number() OVER (PARTITION BY d.g ORDER BY d.doc_id) AS r
       |  FROM docg d JOIN gdfs f ON d.g = f.g
       |  WHERE f.gdf BETWEEN 2 AND $SpanDfCap),
       |adm AS (
       |  SELECT x.g, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM ranked x JOIN ranked y
       |    ON x.g = y.g AND y.r > x.r AND y.r <= x.r + $SpanWindow),
       |hits AS (
       |  SELECT m.doc_a, m.doc_b, a.pos AS pos_a, b.pos AS pos_b,
       |         a.pos - b.pos AS diag
       |  FROM adm m
       |  JOIN grams a ON a.g = m.g AND a.doc_id = m.doc_a
       |  JOIN grams b ON b.g = m.g AND b.doc_id = m.doc_b),
       |$spansFromHitsCtes
       |SELECT doc_a, doc_b, start_a, start_b, span_len
       |FROM spans ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin

  /** The strip replay: expand every doc_b span occurrence into a
    * (doc, pos) removal set, left-join the token stream, reassemble.
    */
  private val spanStripOracle: String =
    s"""WITH $exactSpansCtes,
       |rem AS (
       |  SELECT DISTINCT doc_b AS doc_id, p.p AS pos
       |  FROM spans,
       |       unnest(generate_series(start_b, start_b + span_len - 1)) p(p)),
       |tok AS (
       |  SELECT doc_id, i.i AS pos, toks[i.i] AS w
       |  FROM (SELECT doc_id, ${toksSql("text")} AS toks FROM documents) d,
       |       unnest(generate_series(1, len(toks))) i(i)
       |  WHERE toks[i.i] <> '')
       |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_removed,
       |  string_agg(CASE WHEN r.pos IS NULL THEN t.w END, ' ' ORDER BY t.pos)
       |    AS clean_text
       |FROM tok t LEFT JOIN rem r ON t.doc_id = r.doc_id AND t.pos = r.pos
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_bpe_merges" -> bpeMergesOracle(BpeMergeRounds),
    "text_bpe_encode" -> bpeEncodeOracle(BpeMergeRounds),
    "text_zipf_profile" ->
      s"""WITH vocab AS (
         |  SELECT w, count(*) AS f
         |  FROM (SELECT unnest(${toksSql("text")}) AS w FROM documents)
         |  WHERE w <> '' GROUP BY w),
         |ranked AS (
         |  SELECT f,
         |    CAST(round(ln(CAST(r AS DOUBLE)) * 1000000, 0) AS BIGINT) AS x6,
         |    CAST(round(ln(CAST(f AS DOUBLE)) * 1000000, 0) AS BIGINT) AS y6
         |  FROM (SELECT f, w, row_number() OVER (ORDER BY f DESC, w) AS r
         |        FROM vocab))
         |SELECT count(*) AS n_types,
         |  CAST(sum(f) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
         |  round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         |    AS hapax_frac,
         |  round((count(*) * sum(x6 * y6) - sum(x6) * sum(y6)) * 1.0
         |    / (count(*) * sum(x6 * x6) - sum(x6) * sum(x6)), 6) AS zipf_slope
         |FROM ranked""".stripMargin,
    "text_repeated_spans" ->
      s"""WITH ${gramsCteOver("documents")},
         |gdf AS (
         |  SELECT g, count(*) AS gdf FROM (SELECT DISTINCT doc_id, g FROM grams)
         |  GROUP BY g)
         |SELECT doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
         |  round(sum(CASE WHEN gdf >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         |    AS repeated_frac
         |FROM grams JOIN gdf USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_exact_spans" -> exactSpansOracle,
    // the served twin is result-identical by construction and replays
    // the same oracle
    "dedup_exact_spans_served" -> exactSpansOracle,
    "dedup_exact_spans_capped" -> cappedSpansOracle,
    "dedup_span_strip" -> spanStripOracle,
    // served twin: identical spans from the artifact, same oracle
    "dedup_span_strip_served" -> spanStripOracle,
    "dedup_span_admit" ->
      s"""WITH ${gramsCteOver("documents")},
         |corpus AS (SELECT * FROM grams WHERE doc_id % $SpanAdmitMod <> 0),
         |cdf AS (
         |  SELECT g, count(DISTINCT doc_id) AS gdf FROM corpus GROUP BY g),
         |hits AS (
         |  SELECT p.doc_id, c.doc_id AS src_id
         |  FROM grams p
         |  JOIN cdf ON p.g = cdf.g AND cdf.gdf <= $SpanDfCap
         |  JOIN corpus c ON c.g = p.g
         |  WHERE p.doc_id % $SpanAdmitMod = 0),
         |agg AS (
         |  SELECT doc_id, count(DISTINCT src_id) AS n_sources,
         |         count(*) AS n_gram_hits
         |  FROM hits GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(n_sources, 0) AS BIGINT) AS n_sources,
         |  CAST(coalesce(n_gram_hits, 0) AS BIGINT) AS n_gram_hits,
         |  CASE WHEN coalesce(n_sources, 0) > 0 THEN 'review' ELSE 'admit' END
         |    AS action
         |FROM (SELECT DISTINCT doc_id FROM documents
         |      WHERE doc_id % $SpanAdmitMod = 0) d
         |LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    "text_perplexity" ->
      perplexityOracle(perplexityCtes),
    "text_perplexity_kn" ->
      perplexityOracle(knCtes),
    "text_winnowing" ->
      s"""WITH $winnowCtes
        |SELECT DISTINCT doc_id,
        |  k // 1048576 AS fp_hash,
        |  1048575 - (k % 1048576) AS fp_pos
        |FROM sel WHERE pos <= n_grams - 4
        |ORDER BY doc_id, fp_pos""".stripMargin,
    "text_winnow_pairs" ->
      s"""WITH $winnowPairCtes
        |SELECT doc_a, doc_b, n_shared FROM pairs
        |ORDER BY doc_a, doc_b""".stripMargin,
    // CAST(sum(...) AS BIGINT): DuckDB sum(BIGINT) returns HUGEINT,
    // which the driver's pandas bridge floatifies (the round-1 lesson)
    "text_entropy" ->
      s"""WITH cnt AS (
         |  SELECT doc_id, tok, count(*) AS n FROM (
         |    SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents) t
         |  WHERE tok <> '' GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
         |    count(*) AS n_distinct, sum(n * ln(n)) AS s
         |  FROM cnt GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_distinct,
         |  round(ln(n_tokens) - s / n_tokens, 6) AS entropy
         |FROM agg ORDER BY doc_id""".stripMargin,
    "text_tfidf_topk" ->
      s"""WITH $termTfCtes,
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |    round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1)), 6) AS tfidf
         |  FROM tf JOIN df USING (term), n),
         |ranked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
         |  FROM scored)
         |SELECT doc_id, rank, term, tf, tfidf FROM ranked
         |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "text_bm25_topk" ->
      s"""WITH $termTfCtes,
         |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (
         |  SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |q AS (SELECT term, df FROM df ORDER BY df ASC, term LIMIT $Bm25QueryTerms),
         |contrib AS (
         |  SELECT tf.doc_id, dl.dl,
         |    ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
         |      * (tf.tf * ${Bm25K1 + 1}) /
         |        (tf.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * dl.dl / s.avgdl)) AS c
         |  FROM tf JOIN q USING (term) JOIN dl USING (doc_id), stats s)
         |SELECT doc_id, count(*) AS n_terms_hit, dl,
         |  round(CAST(sum(CAST(round(c * 1000000, 0) AS BIGINT)) AS BIGINT)
         |    / 1000000.0, 6) AS score
         |FROM contrib GROUP BY doc_id, dl
         |ORDER BY score DESC, doc_id LIMIT $Bm25TopK""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |base AS (
         |  SELECT doc_id, len(toks) AS n_tokens, toks FROM t WHERE len(toks) >= 3),
         |bg AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
         |  FROM base, unnest(generate_series(1, len(toks) - 1)) s(i)),
         |bc AS (SELECT doc_id, gram, count(*) AS c FROM bg GROUP BY 1, 2),
         |bstat AS (SELECT doc_id, max(c) AS top_bigram_n FROM bc GROUP BY 1),
         |tg AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
         |  FROM base, unnest(generate_series(1, len(toks) - 2)) s(i)),
         |tstat AS (
         |  SELECT doc_id, count(*) AS n_tri, count(DISTINCT gram) AS n_tri_distinct
         |  FROM tg GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  round(least(1.0, 2.0 * top_bigram_n / n_tokens), 6) AS top_bigram_frac,
         |  round(1.0 - CAST(n_tri_distinct AS DOUBLE) / n_tri, 6) AS dup_trigram_frac,
         |  (round(least(1.0, 2.0 * top_bigram_n / n_tokens), 6) > 0.12
         |    OR round(1.0 - CAST(n_tri_distinct AS DOUBLE) / n_tri, 6) > 0.03)
         |    AS is_repetitive
         |FROM base JOIN bstat USING (doc_id) JOIN tstat USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "doc_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |base AS (
         |  SELECT doc_id, toks, len(toks) AS n_tokens,
         |    CASE WHEN len(toks) <= 32 THEN 1
         |         ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
         |  FROM t)
         |SELECT doc_id, n_tokens, n_chunks, s.i AS chunk_idx,
         |  s.i * 24 + 1 AS start_token,
         |  len(list_slice(toks, CAST(s.i * 24 + 1 AS INT), CAST(s.i * 24 + 32 AS INT)))
         |    AS chunk_len,
         |  array_to_string(
         |    list_slice(toks, CAST(s.i * 24 + 1 AS INT), CAST(s.i * 24 + 32 AS INT)), ' ')
         |    AS chunk_text
         |FROM base, unnest(generate_series(0, n_chunks - 1)) s(i)
         |ORDER BY doc_id, chunk_idx""".stripMargin,
    "dedup_chunks" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${toksSql("text")} AS toks FROM documents),
         |base AS (
         |  SELECT doc_id, toks,
         |    CASE WHEN len(toks) <= 32 THEN 1
         |         ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END AS n_chunks
         |  FROM t),
         |chunks AS (
         |  SELECT doc_id, s.i AS chunk_idx,
         |    md5(array_to_string(
         |      list_slice(toks, CAST(s.i * 24 + 1 AS INT), CAST(s.i * 24 + 32 AS INT)), ' '))
         |      AS chunk_hash
         |  FROM base, unnest(generate_series(0, n_chunks - 1)) s(i)),
         |flagged AS (
         |  SELECT doc_id, chunk_idx, chunk_hash,
         |    count(*) OVER (PARTITION BY chunk_hash) AS n_copies,
         |    row_number() OVER (PARTITION BY chunk_hash ORDER BY doc_id, chunk_idx) AS rn
         |  FROM chunks)
         |SELECT doc_id, chunk_idx, chunk_hash, n_copies, (rn = 1) AS is_kept
         |FROM flagged ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_ngram_topk" ->
      s"""SELECT tok, count(*) AS n
         |FROM (SELECT unnest(${toksSql("text")}) AS tok FROM documents)
         |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,
    "text_length_hist" ->
      s"""SELECT CAST(floor(len(${toksSql("text")}) / 50) * 50 AS BIGINT) AS bucket_start,
         |  count(*) AS n_docs
         |FROM documents GROUP BY 1 ORDER BY bucket_start""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         |  len(${toksSql("text")}) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '$BpePattern')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CAST(len(${toksSql("text")}) AS DOUBLE) AS n_tok,
         |    CAST(length(text) AS DOUBLE) AS n_char,
         |    CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
         |    CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS upper,
         |    CAST(${hitsSql(toksSql("text"), "en")} AS DOUBLE) AS stop,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS nospace
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(n_tok AS BIGINT) AS n_tokens,
         |  CAST(n_char AS BIGINT) AS n_chars_obs,
         |  round(nospace / n_tok, 6) AS avg_token_len,
         |  round(punct / n_char, 6) AS punct_ratio,
         |  round(upper / n_char, 6) AS upper_ratio,
         |  round(stop / n_tok, 6) AS stopword_ratio,
         |  round(1.0 / (1.0 + exp(-(ln(n_tok + 1) * 0.3 + stop / n_tok * 2.0
         |    - punct / n_char * 3.0 - upper / n_char * 2.0))), 6) AS quality_score
         |FROM base ORDER BY doc_id""".stripMargin,
    "text_langid" -> langidSelect,
    "text_langid_eval" -> langidEvalSql,
    "text_bigram_familiarity" ->
      s"""WITH g AS (
         |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
         |  FROM (SELECT doc_id, ${toksSql("text")} AS toks FROM documents) d,
         |       unnest(generate_series(1, len(toks) - 1)) t(i)),
         |c AS (SELECT gram, count(*) AS c FROM g GROUP BY gram)
         |SELECT doc_id, count(*) AS n_grams, round(avg(c), 6) AS avg_gram_count
         |FROM g JOIN c USING (gram)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
        |  CAST(('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fp60
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_hashing_features" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % $HashDim AS bucket,
         |    CASE WHEN CAST(('0x' || substr(md5(tok), 9, 1)) AS BIGINT) % 2 = 0
         |         THEN 1 ELSE -1 END AS sign
         |  FROM (SELECT doc_id, unnest(${toksSql("text")}) AS tok FROM documents))
         |SELECT doc_id, bucket, count(*) AS n_toks,
         |  CAST(sum(sign) AS BIGINT) AS feat
         |FROM t GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin)
}
