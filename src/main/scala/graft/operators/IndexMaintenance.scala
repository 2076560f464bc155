package graft.operators

import graft.sinks.IdempotentMergeSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the served near-dup pair index — the
  * piece that ties the serving tier to the ingest path: the
  * [[graft.sources.ArtifactStore]] artifacts answer queries, this
  * keeps them CURRENT as batches arrive, with exactly-once semantics.
  *
  * Contract (IndexMaintenanceSpec pins all of it):
  *  - `bootstrap` builds the pair table from the base corpus;
  *  - `refresh` merges ONLY the pairs an ingest batch introduces
  *    ([[Dedup.ngramJaccardNewPairs]] — batch-vs-all candidates, never
  *    old-vs-old), keyed so the merged table equals the from-scratch
  *    build over the combined corpus;
  *  - every merge rides [[IdempotentMergeSink]]: a retried batch is a
  *    structural no-op, a crashed write is invisible — the reference's
  *    retried-PUT reality applied to index maintenance;
  *  - component labels recompute over the MAINTAINED pair table (the
  *    cheap step — the expensive text-side work is incremental).
  *
  * Bootstrap rule: a refresh of an empty index IS the build. For an
  * INSERT-ONLY family (BM25 postings, span grams, DCT fingerprints)
  * its row tables are pure inserts, its df sub-tables commit through
  * [[IdempotentMergeSink.mergeAdditive]] (whose first commit is a base
  * of the batch's sums), and its pairs are batch-vs-all against an
  * empty base; the near-dup pairs of a batch against an empty base
  * are all its pairs, and the kNN list delta against an empty base is
  * all inserts. So no family has a separate build algorithm
  * (`bootstrapBm25` refreshes an empty index, `bootstrap` and
  * `bootstrapKnn` commit the batch-vs-empty result). The pair and kNN
  * refreshes throw on an empty index rather than commit a partial one.
  *
  * At 100 TB this is the operating mode: the pair table and signature
  * index live as tables, each ingest batch pays work ∝ batch size ×
  * touched buckets, and policy queries ([[Dedup.dedupKeepBestServed]]
  * et al.) read the maintained relations.
  */
object IndexMaintenance {

  private def keyed(pairs: DataFrame): DataFrame =
    pairs.withColumn("pair_key",
      concat_ws(":", col("doc_a"), col("doc_b")))

  /** The committed relation at `root` projected to `cols`, or a
    * descriptive error naming `what` when the table has no commit.
    */
  private def committed(spark: SparkSession, root: String, what: String,
      cols: String*): DataFrame =
    IdempotentMergeSink.read(spark, root).map(_.select(cols.map(col): _*))
      .getOrElse(throw new IllegalStateException(s"no committed $what table at $root"))

  /** A refresh that merges only what a batch CHANGES needs the prior
    * build: on an empty root it would commit a partial index (pairs
    * without the base-base ones, lists only for the nodes the batch
    * reaches). Throws before any commit.
    */
  private def requireBuilt(root: String, refresh: String, build: String): Unit =
    if (IdempotentMergeSink.version(root) == 0)
      throw new IllegalStateException(
        s"$refresh at $root: no committed index to refresh — run $build first")

  /** Independent sub-table merges committed to DISJOINT roots, run as
    * concurrent jobs ([[IdempotentMergeSink.inParallel]], the §2.6
    * overlap): one merge's driver-side planning rides another's
    * execution. Each sub-table commit is exactly-once under the shared
    * batch id, so a failure between them resumes where it left off on
    * retry. True when any sub-table applied the batch.
    */
  private def commitAll(merges: (() => Boolean)*): Boolean =
    IdempotentMergeSink.inParallel(merges).reduce(_ | _)

  /** Build the pair table from the base corpus (first commit): the
    * base's new pairs over an empty one, committed unsorted.
    */
  def bootstrap(spark: SparkSession, root: String, baseDocs: DataFrame,
      batchId: String = "bootstrap"): Boolean =
    IdempotentMergeSink.merge(spark, root,
      keyed(Dedup.ngramJaccardNewPairs(baseDocs.limit(0), baseDocs)), "pair_key", batchId)

  /** Merge one ingest batch's new pairs into the table under
    * `batchId`; false = already applied (the retry no-op). Throws on
    * a root with no commit (see [[requireBuilt]]).
    */
  def refresh(spark: SparkSession, root: String, baseDocs: DataFrame,
      batchDocs: DataFrame, batchId: String): Boolean = {
    requireBuilt(root, "refresh", "bootstrap")
    IdempotentMergeSink.merge(spark, root,
      keyed(Dedup.ngramJaccardNewPairs(baseDocs, batchDocs)),
      "pair_key", batchId)
  }

  /** The maintained pair relation (doc_a, doc_b, n_inter, jaccard). */
  def pairs(spark: SparkSession, root: String): DataFrame =
    committed(spark, root, "pair", "doc_a", "doc_b", "n_inter", "jaccard")

  /** Time-travel read of the pair relation as of version `v` — the
    * upsert-chain counterpart of [[bm25DfAt]]: the state folds the
    * base plus exactly the upsert deltas committed up to `v`.
    */
  def pairsAt(spark: SparkSession, root: String, v: Int): DataFrame =
    IdempotentMergeSink.readAt(spark, root, v)
      .select("doc_a", "doc_b", "n_inter", "jaccard")

  /** Component labels over the maintained pairs — recomputed, not
    * merged: the fixpoint over the pair relation is the cheap step
    * (pairs are ≪ corpus), and labels cannot be merged locally anyway
    * (one new edge can fuse two old components).
    */
  def labels(spark: SparkSession, root: String): DataFrame =
    Dedup.connectedComponents(pairs(spark, root).select("doc_a", "doc_b"))
      .select("doc_id", "component")

  // --- mutual-kNN graph maintenance (the knn_edges artifact's trickle
  // path). The maintained relation is the per-node adjacency LIST
  // (u, v, diff), not the edge set: mutual-kNN edges are not additive
  // (a new closer neighbor evicts an old one from a node's top-K), but
  // a batch node can only enter the lists of nodes within the band
  // tolerance of it. Both the bootstrap (over an empty base) and
  // refreshKnn commit the list DELTA of a batch
  // ([[GraphOps.knnListDelta]]: one band shuffle, then each band
  // recomputes its nodes' old and new lists side by side), so upserts
  // and eviction deletes come from one relation and the merge's own
  // materialization is the refresh's only one. The cheap mutual join
  // over the maintained lists reproduces the from-scratch edge set. ---

  private def listKeyed(lists: DataFrame): DataFrame =
    lists.withColumn("list_key", concat_ws(":", col("u"), col("v")))

  /** Build the kNN list table from the base (key, price) node
    * relation: the refresh of an empty index, whose delta is every
    * base node's list as inserts ([[GraphOps.knnLists]]). The inserts
    * commit without the op column, so the first commit has no delete
    * anti-join to plan.
    */
  def bootstrapKnn(spark: SparkSession, root: String, baseNodes: DataFrame,
      batchId: String = "bootstrap"): Boolean =
    IdempotentMergeSink.merge(spark, root,
      listKeyed(GraphOps.knnLists(baseNodes)), "list_key", batchId)

  /** Merge one node batch into the list table under `batchId`: the
    * inserts and eviction deletes of [[GraphOps.knnListDelta]],
    * committed as they are. Precondition: `baseNodes` is the corpus
    * the table holds (its bootstrap plus every batch applied since),
    * because each base node's old list is recomputed from it rather
    * than read from the table; batch keys must be new. False = already
    * applied (the retry no-op). Throws on a root with no commit (see
    * [[requireBuilt]]).
    */
  def refreshKnn(spark: SparkSession, root: String, baseNodes: DataFrame,
      batchNodes: DataFrame, batchId: String): Boolean = {
    requireBuilt(root, "refreshKnn", "bootstrapKnn")
    IdempotentMergeSink.merge(spark, root,
      listKeyed(GraphOps.knnListDelta(baseNodes, batchNodes)), "list_key", batchId)
  }

  /** The maintained per-node adjacency lists (u, v). */
  def knnLists(spark: SparkSession, root: String): DataFrame =
    committed(spark, root, "knn list", "u", "v")

  /** Mutual-kNN edges over the maintained lists — the same join as the
    * inline build ([[GraphOps.mutualEdgesOf]]), recomputed over a
    * relation of ≤ K·n rows: the cheap step, like [[labels]].
    */
  def knnEdges(spark: SparkSession, root: String): DataFrame =
    GraphOps.mutualEdgesOf(knnLists(spark, root))

  /** Time-travel read of the mutual edge set as of version `v` — the
    * DELETE-bearing counterpart of [[pairsAt]]: the kNN chain's deltas
    * carry eviction delete rows alongside upserts, so the historical
    * fold exercises the removes anti-join path, not just the union.
    */
  def knnEdgesAt(spark: SparkSession, root: String, v: Int): DataFrame =
    GraphOps.mutualEdgesOf(
      IdempotentMergeSink.readAt(spark, root, v).select("u", "v"))

  // --- BM25 postings maintenance (the bm25_tf/df/dl artifacts'
  // trickle path). tf and dl are doc-keyed — a batch of NEW docs is a
  // pure insert. df is term-keyed and ADDITIVE: the refresh commits
  // per-term INCREMENTS through mergeAdditive, whose CAS loop sums the
  // deltas against whatever state won each attempt — so concurrent
  // maintainers of different batches cannot lose each other's counts
  // (the r10 read-modify-write upsert could: it baked the read version
  // into absolute df rows outside the commit loop). Each sub-table
  // commit is exactly-once under the shared batchId, so a crash
  // between the three merges resumes where it left off. A refresh of
  // an empty root is the build. ---

  private def tfRoot(root: String) = s"$root/tf"
  private def dfRoot(root: String) = s"$root/df"
  private def dlRoot(root: String) = s"$root/dl"

  /** The df sub-table's sink root — exposed so the vacuum/time-travel
    * contract query ([[MaintQueries.maintBm25VacuumTravel]]) can
    * compact and vacuum the ADDITIVE chain it then reads back.
    */
  private[operators] def bm25DfRoot(root: String): String = dfRoot(root)

  /** Build the three posting tables from the base corpus: a refresh
    * of the empty index (kept as a name because callers build with it).
    */
  def bootstrapBm25(spark: SparkSession, root: String, baseDocs: DataFrame,
      batchId: String = "bootstrap"): Boolean = refreshBm25(spark, root, baseDocs, batchId)

  /** Merge one ingest batch of NEW docs into the posting tables:
    * insert its tf and dl rows, add its per-term df increments (on an
    * empty root, the first commit of each is the base).
    * False = every sub-table had already applied the batch.
    */
  def refreshBm25(spark: SparkSession, root: String, batchDocs: DataFrame,
      batchId: String): Boolean = {
    val btf = AnnSearch.bm25Tf(batchDocs).localCheckpoint() // feeds 3 merges
    commitAll(
      () => IdempotentMergeSink.merge(spark, tfRoot(root),
        btf.withColumn("tf_key", concat_ws(":", col("doc_id"), col("term"))),
        "tf_key", batchId),
      () => IdempotentMergeSink.mergeAdditive(spark, dfRoot(root),
        btf.groupBy(col("term")).agg(count(lit(1)).as("df")), "term", batchId),
      () => IdempotentMergeSink.merge(spark, dlRoot(root),
        btf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")), "doc_id", batchId))
  }

  /** Time-travel read of the maintained per-term document-frequency
    * relation as of df-table version `v` — [[IdempotentMergeSink.readAt]]
    * over the additive increment chain: the state equals the df of
    * exactly the batches committed up to `v`, later commits invisible.
    */
  def bm25DfAt(spark: SparkSession, root: String, v: Int): DataFrame =
    IdempotentMergeSink.readAt(spark, dfRoot(root), v).select("term", "df")

  /** The maintained (tf, df, dl) posting relations — drop-in for
    * [[AnnSearch.bm25LexRanked]]'s inputs.
    */
  def bm25(spark: SparkSession, root: String): (DataFrame, DataFrame, DataFrame) =
    (committed(spark, tfRoot(root), "posting", "doc_id", "term", "tf"),
      committed(spark, dfRoot(root), "posting", "term", "df"),
      committed(spark, dlRoot(root), "posting", "doc_id", "dl"))

  // --- DCT perceptual-hash maintenance (the phash_dct artifact's
  // trickle path). Fingerprints are per-row immutable map-side work →
  // a media batch is a pure insert; the pair table is ADDITIVE because
  // fingerprints never change — refresh merges only the batch-vs-all
  // banded pairs ([[Multimodal.dctNewPairs]]), never old-vs-old. A
  // refresh of an empty root is the build. ---

  private def fpRoot(root: String) = s"$root/fp"
  private def dctPairsRoot(root: String) = s"$root/pairs"

  /** Merge one media batch: insert its fingerprints, add the pairs it
    * introduces. False = every sub-table had already applied the batch.
    */
  def refreshPhash(spark: SparkSession, root: String,
      batchMedia: org.apache.spark.sql.Dataset[Multimodal.MediaRow],
      batchId: String): Boolean = {
    val bfp = Multimodal.dctFingerprintsOf(batchMedia).localCheckpoint()
    // baseFp resolves its version set NOW (committed() is eager), so
    // the fp merge landing first cannot change what the pair merge
    // reads — the two commits are safely concurrent. With no fp commit
    // the base is empty, and dctNewPairs(bfp, ∅) is dctPairsOver(bfp)
    val baseFp = IdempotentMergeSink.read(spark, fpRoot(root)).getOrElse(bfp.limit(0))
      .select("doc_id", "modality", "phash64")
    commitAll(
      () => IdempotentMergeSink.merge(spark, fpRoot(root), bfp, "doc_id", batchId),
      () => IdempotentMergeSink.merge(spark, dctPairsRoot(root),
        keyed(Multimodal.dctNewPairs(bfp, baseFp)), "pair_key", batchId))
  }

  /** The maintained perceptual pair relation. */
  def dctPairs(spark: SparkSession, root: String): DataFrame =
    committed(spark, dctPairsRoot(root), "dct pair", "modality", "doc_a", "doc_b", "hamming")

  // --- exact-span gram maintenance (the span_grams artifact's trickle
  // path). Positional grams are per-doc immutable map-side work → a
  // doc batch is a pure insert into the gram table; per-gram document
  // frequency is ADDITIVE (batch docs are new, so a batch's distinct
  // (doc, g) rows are pure increments) and rides mergeAdditive like
  // the BM25 df. The span extraction RECOMPUTES over the maintained
  // relations — spans cannot be merged locally (a gram crossing the
  // df cap retroactively deletes old pairs' hits, and one new hit can
  // fuse two islands on a diagonal), but the corpus-sized work (the
  // tokenize + explode scan) is what became incremental, and
  // eligibility comes free from the maintained df table instead of a
  // corpus-wide distinct + aggregate. A refresh of an empty root is
  // the build. ---

  private def spanGramsRoot(root: String) = s"$root/grams"
  private def spanDfRoot(root: String) = s"$root/gdf"

  private def gramKeyed(grams: DataFrame): DataFrame =
    grams.withColumn("gram_key", concat_ws(":", col("doc_id"), col("pos")))

  private def gramDfOf(grams: DataFrame): DataFrame =
    grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("gdf"))

  /** Merge one ingest batch of NEW docs: insert its positional grams,
    * add its per-gram df increments — the same concurrent-maintainer
    * convergence contract as the BM25 df. False = every sub-table had
    * already applied the batch.
    */
  def refreshSpans(spark: SparkSession, root: String, batchDocs: DataFrame,
      batchId: String): Boolean = {
    val bg = TextAnalysis.spanGramsOver(batchDocs).localCheckpoint() // feeds 2 merges
    commitAll(
      () => IdempotentMergeSink.merge(spark, spanGramsRoot(root),
        gramKeyed(bg), "gram_key", batchId),
      () => IdempotentMergeSink.mergeAdditive(spark, spanDfRoot(root),
        gramDfOf(bg), "g", batchId))
  }

  /** The maintained positional-gram relation (doc_id, pos, g). */
  def spanGrams(spark: SparkSession, root: String): DataFrame =
    committed(spark, spanGramsRoot(root), "gram", "doc_id", "pos", "g")

  /** The maintained per-gram document-frequency relation (g, gdf). */
  def spanGramDf(spark: SparkSession, root: String): DataFrame =
    committed(spark, spanDfRoot(root), "gram df", "g", "gdf")

  /** Maximal cross-document spans over the maintained relations —
    * equals [[TextAnalysis.dedupExactSpans]] over the combined corpus
    * (cap crossings included: eligibility reads the maintained df).
    */
  def exactSpans(spark: SparkSession, root: String): DataFrame =
    TextAnalysis.spansFromGramsWithDf(
      spanGrams(spark, root), spanGramDf(spark, root))
}
