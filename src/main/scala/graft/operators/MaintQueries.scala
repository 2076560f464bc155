package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental-maintenance tier AS oracle-checked queries: each
  * query runs a bootstrap → refresh chain through
  * [[graft.sinks.IdempotentMergeSink]] inside the query itself, reads
  * the maintained (or time-travelled) state back, and hash-compares it
  * against a from-scratch DuckDB replay. Until now the maintenance
  * invariant ("maintained ≡ from-scratch at every version") was
  * spec-pinned only; these put every delta kind through the driver's
  * correctness gate:
  *
  *  - `maint_pairs_refresh` — UPSERT deltas: the near-dup pair table
  *    bootstrapped from three md5-mod quarters of the working slice
  *    and refreshed with the fourth must hash-equal the from-scratch
  *    build (the oracle is built by the same `jaccardCtesOver`
  *    generator as `dedup_ngram_jaccard`'s — zero aliasing drift
  *    possible);
  *  - `maint_knn_refresh` — upserts + DELETES: the mutual-kNN list
  *    table refreshed with a node batch (fresh lists for touched
  *    nodes, delete rows for evicted neighbors) must reproduce the
  *    from-scratch edge set (`graph_knn_edges`'s oracle);
  *  - `maint_bm25_df_time_travel` — ADDITIVE increments + time travel:
  *    three doc batches committed into the BM25 df table, read back
  *    `AS OF` version 2 — the answer counts exactly the first two
  *    batches' documents, proving a later commit is invisible to a
  *    historical read (the versionAsOf contract, oracle-replayed);
  *  - `maint_phash_refresh` — pure-insert fingerprints + additive
  *    pair table for the perceptual-hash family, against the full
  *    integer-DCT DuckDB replay;
  *  - `maint_spans_refresh` — gram inserts + additive df with
  *    NON-LOCAL span recomputation, against the maximal-span replay —
  *    INCLUDING a deterministic df-cap crossing: the raw corpus never
  *    pushes a 5-gram past the cap (measured max df 3), so the query
  *    injects an at-the-cap phrase into exactly `SpanDfCap` base docs
  *    and one batch doc crosses it — the retraction path is
  *    oracle-checked, not just spec-checked;
  *  - `maint_pairs_time_travel` — UPSERT-chain time travel: `readAt`
  *    version 2 of a 3-commit pair chain, so BOTH delta kinds with a
  *    fold path have their historical reads oracle-checked;
  *  - `maint_knn_time_travel` — DELETE-bearing-chain time travel:
  *    `readAt` version 2 of a 3-commit kNN list chain whose deltas
  *    carry eviction delete rows, so the historical fold's removes
  *    anti-join (not just the upsert union) is oracle-checked;
  *  - `maint_pairs_vacuum_travel` — retention interaction: `readAt`
  *    of the oldest RETAINED version after `vacuum(keep=2)` really
  *    deleted the pre-compaction versions — historical reads survive
  *    snapshot expiry exactly as a table format promises;
  *  - `maint_bm25_vacuum_travel` — the same retention interaction for
  *    the ADDITIVE delta kind: the df increment chain is compacted,
  *    vacuumed, and read back at its oldest retained version.
  *
  * Together these put every [[IndexMaintenance]] family and every
  * delta kind the sink commits (upsert, delete, additive increment)
  * through the driver's DuckDB gate, not just the spec suite.
  *
  * WORKING SETS (r15): the document-keyed queries run over the fixed
  * [[DocSliceN]] md5-RANK-smallest doc ids — the knn recipe
  * ([[KnnSliceN]]) applied to the pair/span families, whose
  * proportional md5-mod halves made `maint_spans_refresh` /
  * `maint_pairs_refresh` the fleet's most expensive contract queries
  * (5× ratio ~1.7) while the invariant under test is
  * corpus-independent. The slice is sized so the answers stay
  * non-trivial (≥ ~10 pair rows at both sf0.01 and sf0.1 — the r14
  * verdict's thin-oracle niggle) and batch membership inside it stays
  * the deterministic md5-hash-mod split both engines reconstruct
  * bit-for-bit. Each run commits into a fresh temp root, materializes
  * the answer with `localCheckpoint()`, and deletes the root —
  * re-runs never share state, so the queries are safe under the
  * bench's median loop.
  *
  * This is the reference's update flow made exactly-once and
  * versioned: its nightly job re-PUTs changed menu entities against
  * the served index (batch_processor.py:1044-1129, retried PUTs with
  * no idempotency guard) — here a retried batch is a structural no-op
  * and yesterday's index state remains a readable version.
  */
object MaintQueries {

  /** Deterministic md5-hash-mod class of an id — both engines evaluate
    * the identical expression (see [[AnnSearch]]'s calibration sample).
    */
  private def hmod(c: Column, m: Int): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % m

  private def hmodSql(c: String, m: Int): String =
    s"CAST(('0x' || substr(md5(CAST($c AS VARCHAR)), 1, 8)) AS BIGINT) % $m"

  /** Run `build` against a fresh temp root, materialize its answer
    * (the maintained table is about to be deleted out from under the
    * lazy plan — `localCheckpoint` pins the rows first), and delete
    * the root even when a commit or the checkpoint THROWS — a failed
    * bench/verify run must not leave half-committed tables in tmpdir.
    */
  private def withRoot(tag: String)(build: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(s"graft_maintq_$tag")
      .toAbsolutePath.toString
    try build(root).localCheckpoint()
    finally graft.sinks.IdempotentMergeSink
      .deleteRecursively(new java.io.File(root))
  }

  /** The three commits of a time-travel chain: `rel`'s rows whose
    * hashed `key` falls in class {1, 2}, {3} and {0} mod 4.
    */
  private def thirds(rel: DataFrame, key: String): (DataFrame, DataFrame, DataFrame) = {
    val m = hmod(col(key), 4)
    (rel.filter(m.isin(1, 2)), rel.filter(m === 3), rel.filter(m === 0))
  }

  /** Compact `root` (its second commit must have written a delta),
    * apply `third`, vacuum with keep = 2, and require that the vacuum
    * really removed v=1 and v=2 — otherwise a vacuum-travel query
    * degenerates into its plain time-travel twin.
    */
  private def compactThenVacuum(spark: SparkSession, root: String)(third: => Unit): Unit = {
    require(graft.sinks.IdempotentMergeSink.compact(spark, root),
      s"compact was a no-op — the second commit wrote no delta at $root")
    third
    graft.sinks.IdempotentMergeSink.vacuum(root, keep = 2)
    require(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v=1")) &&
        !java.nio.file.Files.exists(java.nio.file.Paths.get(root, "v=2")),
      s"vacuum(keep=2) left v=1/v=2 in place at $root")
  }

  /** Fixed node count of the document-keyed working slices: the
    * md5-RANK-smallest doc ids (ORDER BY md5 LIMIT n — deterministic
    * on both engines). 1024 keeps the retained-version pair answers
    * ≥ ~10 rows at sf0.01 AND sf0.1 (measured 25 / 15 full-slice, 15 /
    * 11 on the batches-1-2 subset) while the chain's working-set cost
    * is constant at any corpus ≥ n docs; slice derivation itself is a
    * single linear top-K scan (TakeOrderedAndProject), bounded — not
    * constant.
    */
  private[graft] val DocSliceN = 1024

  /** The slice, materialized once per query (it feeds several batch
    * plans and the injected-phrase marking).
    */
  private def docSlice(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select("doc_id", "text")
      .orderBy(md5(col("doc_id").cast("string")))
      .limit(DocSliceN)
      .localCheckpoint()

  private val docSliceCte: String =
    s"""slice AS (
       |  SELECT doc_id, text FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT $DocSliceN)""".stripMargin

  /** Upsert-delta maintenance vs from-scratch: bootstrap the near-dup
    * pair table from the md5-mod-4 classes {1,2,3} of the working
    * slice, refresh with class 0 (batch-vs-all candidates, never
    * old-vs-old), read the maintained pairs. Oracle = the SAME
    * `jaccardCtesOver` generator as `dedup_ngram_jaccard`, built over
    * the slice CTE — maintained ≡ from-scratch, replayed by DuckDB.
    */
  def maintPairsRefresh(spark: SparkSession, dir: String): DataFrame =
    withRoot("pairs") { root =>
      val docs = docSlice(spark, dir)
      val base = docs.filter(hmod(col("doc_id"), 4) =!= 0)
      val batch = docs.filter(hmod(col("doc_id"), 4) === 0)
      IndexMaintenance.bootstrap(spark, root, base)
      IndexMaintenance.refresh(spark, root, base, batch, "b2")
      IndexMaintenance.pairs(spark, root).orderBy("doc_a", "doc_b")
    }

  /** Upsert + DELETE maintenance vs from-scratch: bootstrap the kNN
    * list table from the md5-mod-class-2 half of the part nodes,
    * refresh with the class-0 half (evicted neighbors committed as
    * delete rows), and read the mutual edge set over the maintained
    * lists. Oracle = the same `knnEdgesCteOver` generator as
    * `graph_knn_edges`, built over the working-subset CTE.
    */
  def maintKnnRefresh(spark: SparkSession, dir: String): DataFrame =
    withRoot("knn") { root =>
      val nodes = GraphOps.partNodes(spark, dir)
        .filter(hmod(col("key"), 2) === 0)
      val base = nodes.filter(hmod(col("key"), 4) === 2)
      val batch = nodes.filter(hmod(col("key"), 4) === 0)
      IndexMaintenance.bootstrapKnn(spark, root, base)
      IndexMaintenance.refreshKnn(spark, root, base, batch, "b2")
      IndexMaintenance.knnEdges(spark, root).orderBy("a", "b")
    }

  /** Additive-increment maintenance + TIME TRAVEL: commit three doc
    * batches into the BM25 df table (bootstrap base, then two
    * `mergeAdditive` increment deltas), read the df relation AS OF
    * version 2. The answer counts exactly batches 1-2's documents —
    * the version-3 commit is invisible to the historical read, and the
    * additive chain folds through the coalesced re-sum path. Oracle =
    * per-term document frequency over the md5-mod {1,2,3} subset.
    */
  def maintBm25DfTimeTravel(spark: SparkSession, dir: String): DataFrame =
    withRoot("bm25") { root =>
      bm25Chain(spark, dir, root)(third => third)
      IndexMaintenance.bm25DfAt(spark, root, 2).orderBy("term")
    }

  /** Both BM25 df chains over the corpus's [[thirds]]: bootstrap batch
    * 1 (v1), increment with batch 2 (v2), then the batch-3 increment
    * run inside `third` — [[pairChain]]'s counterpart.
    */
  private def bm25Chain(spark: SparkSession, dir: String, root: String)(
      third: (=> Unit) => Unit): Unit = {
    val (b1, b2, b3) = thirds(Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")
    IndexMaintenance.bootstrapBm25(spark, root, b1, "b1")
    IndexMaintenance.refreshBm25(spark, root, b2, "b2")
    third(IndexMaintenance.refreshBm25(spark, root, b3, "b3"))
  }

  /** Retained-version time travel after vacuum for the ADDITIVE delta
    * kind — [[maintPairsVacuumTravel]]'s counterpart on the BM25 df
    * increment chain (VERDICT r14 item 7: the upsert chain's vacuum
    * interaction was oracle-checked, the additive chain's was
    * spec-only): bootstrap v1, increment v2, COMPACT v3, increment
    * v4, `vacuum(keep=2)` really deletes v1-v2 (required in-query),
    * and `readAt(v3)` — the oldest retained version — must equal the
    * df over batches 1-2's documents. Shares
    * [[maintBm25DfTimeTravel]]'s oracle: compaction and vacuum change
    * physical layout, never logical state.
    */
  def maintBm25VacuumTravel(spark: SparkSession, dir: String): DataFrame =
    withRoot("bm25_vac") { root =>
      bm25Chain(spark, dir, root)(compactThenVacuum(spark, IndexMaintenance.bm25DfRoot(root)))
      IndexMaintenance.bm25DfAt(spark, root, 3).orderBy("term")
    }

  /** Pure-insert + ADDITIVE-pair maintenance for the perceptual-hash
    * family: bootstrap the fingerprint + DCT pair tables from the
    * md5-mod-class-2 half of the (re-encode-augmented) media, refresh
    * with the class-0 half ([[Multimodal.dctNewPairs]] — batch-vs-all,
    * never old-vs-old), read the maintained pair relation. Oracle =
    * the same `dctPairsOracleWhere` generator as
    * `multimodal_phash_dct_pairs`, filtered to the working subset —
    * the full integer-DCT replay, subset-filtered at the fingerprint.
    */
  def maintPhashRefresh(spark: SparkSession, dir: String): DataFrame =
    withRoot("phash") { root =>
      val media = Multimodal.augmentedMedia(spark, dir)
        .filter(hmod(col("doc_id"), 2) === 0)
      val base = media.filter(hmod(col("doc_id"), 4) === 2)
      val batch = media.filter(hmod(col("doc_id"), 4) === 0)
      IndexMaintenance.refreshPhash(spark, root, base, "bootstrap")
      IndexMaintenance.refreshPhash(spark, root, batch, "b2")
      IndexMaintenance.dctPairs(spark, root).orderBy("doc_a", "doc_b")
    }

  /** The fixed 12-token phrase the span-refresh query injects to force
    * a df-cap crossing (the raw corpus's max 5-gram df is 3 — without
    * the injection the retraction path would be structurally
    * unreachable at driver scale). Exactly [[TextAnalysis.SpanDfCap]]
    * base docs carry it (df AT the cap — eligible, generating spans);
    * ONE batch doc pushes its grams to cap + 1 — every pair they
    * generated must retract from the maintained extraction.
    */
  private[graft] val CapPhrase: String =
    (1 to 12).map(i => s"graftdfcap$i").mkString(" ")

  /** Insert + additive-df maintenance with NON-LOCAL recomputation for
    * the exact-span family, over the fixed working slice WITH a
    * deterministic cap crossing: bootstrap the positional-gram +
    * gram-df tables from the phrase-augmented base (md5-mod-4 classes
    * {1,2,3} of the slice; the [[TextAnalysis.SpanDfCap]]
    * md5-rank-smallest base docs carry [[CapPhrase]]), refresh with
    * the class-0 batch whose md5-rank-smallest doc ALSO carries the
    * phrase — its grams cross the cap, the in-query `require` proves
    * it (maintained df = cap + 1), and the extraction over the
    * MAINTAINED relations must drop every pair the phrase generated
    * (eligibility reads the maintained df). Oracle = the same
    * `exactSpansCtesOver` generator as `dedup_exact_spans`, over the
    * identically-augmented slice CTE.
    */
  def maintSpansRefresh(spark: SparkSession, dir: String): DataFrame =
    withRoot("spans") { root =>
      val docs = docSlice(spark, dir)
      val baseRaw = docs.filter(hmod(col("doc_id"), 4) =!= 0)
      val batchRaw = docs.filter(hmod(col("doc_id"), 4) === 0)
      val capDocs = baseRaw
        .orderBy(md5(col("doc_id").cast("string")))
        .limit(TextAnalysis.SpanDfCap)
        .select(col("doc_id").as("mark_id"))
      val batchDoc = batchRaw
        .orderBy(md5(col("doc_id").cast("string")))
        .limit(1)
        .select(col("doc_id").as("mark_id"))
      def injected(raw: DataFrame, marks: DataFrame): DataFrame = raw
        .join(marks, col("doc_id") === col("mark_id"), "left")
        .select(col("doc_id"),
          when(col("mark_id").isNotNull,
            concat(lit(CapPhrase + " "), col("text")))
            .otherwise(col("text")).as("text"))
        .localCheckpoint()
      val base = injected(baseRaw, capDocs)
      val batch = injected(batchRaw, batchDoc)
      IndexMaintenance.refreshSpans(spark, root, base, "bootstrap")
      IndexMaintenance.refreshSpans(spark, root, batch, "b2")
      // non-vacuity: the batch really pushed the phrase grams across
      // the cap — the retraction the oracle's from-scratch build bakes
      // in must have a maintained-side cause
      val g0 = CapPhrase.split(" ").take(5).mkString(" ")
      val crossed = IndexMaintenance.spanGramDf(spark, root)
        .filter(col("g") === g0).select("gdf").head().getLong(0)
      require(crossed == TextAnalysis.SpanDfCap + 1,
        s"phrase gram df $crossed != cap+1 — the cap crossing did not happen")
      IndexMaintenance.exactSpans(spark, root)
        .orderBy("doc_a", "doc_b", "start_a", "start_b")
    }

  /** The fixed node-count of [[maintKnnTimeTravel]]'s working slice:
    * the kNN build family's cost scales with its working set (banded
    * candidates), so a PROPORTIONAL md5-mod slice made this contract
    * query the fleet's most expensive (6.73 s at sf0.01, 3.68× at a
    * 5× corpus). The invariant under test — the historical fold
    * applies v2's deletions and hides v3 — is corpus-independent, so
    * the chain runs over the `KnnSliceN` md5-RANK-smallest part keys:
    * deterministic on both engines (ORDER BY md5(key) LIMIT n). The
    * WORKING-SET cost is constant at any corpus ≥ n parts; deriving
    * the slice is one linear top-K scan of the key column
    * (TakeOrderedAndProject) — bounded, not constant.
    */
  private[graft] val KnnSliceN = 512

  /** DELETE-bearing-chain time travel — the last (family × fold-path)
    * combination: three node batches committed into the kNN list table
    * (bootstrap + two refreshes, each refresh delta carrying fresh
    * lists AND eviction delete rows), the mutual edge set read back AS
    * OF version 2. The answer is the from-scratch kNN build over
    * batches 1-2's nodes: the v2 fold must APPLY v2's deletions
    * (neighbors evicted by batch 2 are gone) while v3's upserts and
    * deletions are both invisible — the historical read exercises the
    * removes anti-join, which [[maintPairsTimeTravel]]'s delete-free
    * upsert chain never does. Scoped to the fixed-size [[KnnSliceN]]
    * slice (see there); batches split by md5-mod-4 class within it.
    */
  def maintKnnTimeTravel(spark: SparkSession, dir: String): DataFrame =
    withRoot("knn_tt") { root =>
      // one 512-row materialization: the slice feeds six batch plans
      val slice = GraphOps.partNodes(spark, dir)
        .orderBy(md5(col("key").cast("string")))
        .limit(KnnSliceN)
        .localCheckpoint()
      val (b1, b2, b3) = thirds(slice, "key")
      IndexMaintenance.bootstrapKnn(spark, root, b1)
      IndexMaintenance.refreshKnn(spark, root, b1, b2, "b2")
      IndexMaintenance.refreshKnn(spark, root, b1.unionByName(b2), b3, "b3")
      IndexMaintenance.knnEdgesAt(spark, root, 2).orderBy("a", "b")
    }

  /** UPSERT-chain time travel — the [[maintBm25DfTimeTravel]]
    * counterpart for upsert deltas: three doc batches committed into
    * the pair table (bootstrap + two refresh deltas), read back AS OF
    * version 2 via `readAt`. The answer is the from-scratch pair build
    * over batches 1-2's documents — version 3's upserts fold into
    * nothing, proving the upsert chain's anti-join + union replay
    * stops at the requested version. Over the fixed [[DocSliceN]]
    * slice with md5-mod-4 batches {1,2} / {3} / {0}, so the retained
    * answer carries ≥ ~10 pair rows (the r14 thin-oracle niggle).
    */
  def maintPairsTimeTravel(spark: SparkSession, dir: String): DataFrame =
    withRoot("pairs_tt") { root =>
      pairChain(spark, dir, root)(third => third)
      IndexMaintenance.pairsAt(spark, root, 2).orderBy("doc_a", "doc_b")
    }

  /** Both pair chains over the working slice's [[thirds]]: bootstrap
    * batch 1 (v1), refresh with batch 2 (v2), then the batch-3 refresh
    * run inside `third`.
    */
  private def pairChain(spark: SparkSession, dir: String, root: String)(
      third: (=> Unit) => Unit): Unit = {
    val (b1, b2, b3) = thirds(docSlice(spark, dir), "doc_id")
    IndexMaintenance.bootstrap(spark, root, b1)
    IndexMaintenance.refresh(spark, root, b1, b2, "b2")
    third(IndexMaintenance.refresh(spark, root, b1.unionByName(b2), b3, "b3"))
  }

  /** Retained-version time travel AFTER VACUUM — the retention
    * interaction the spec suite covers but the driver gate (until r14)
    * did not: a 4-commit pair chain (bootstrap v1, refresh v2, COMPACT
    * v3, refresh v4) is vacuumed with keep=2, which really deletes
    * v1-v2 (v3 is a base, so the retained chain's floor is v3 itself),
    * and the query answers `readAt(v3)` — the OLDEST retained version,
    * reconstructed with its entire pre-compaction history gone. The
    * answer equals the from-scratch build over batches 1-2's documents
    * (compaction and vacuum change the physical layout, never the
    * logical state), which is exactly [[maintPairsTimeTravel]]'s
    * oracle — the same subset replayed by DuckDB.
    */
  def maintPairsVacuumTravel(spark: SparkSession, dir: String): DataFrame =
    withRoot("pairs_vac") { root =>
      pairChain(spark, dir, root)(compactThenVacuum(spark, root))
      IndexMaintenance.pairsAt(spark, root, 3).orderBy("doc_a", "doc_b")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "maint_knn_time_travel" -> (maintKnnTimeTravel _),
    "maint_pairs_refresh" -> (maintPairsRefresh _),
    "maint_knn_refresh" -> (maintKnnRefresh _),
    "maint_bm25_df_time_travel" -> (maintBm25DfTimeTravel _),
    "maint_bm25_vacuum_travel" -> (maintBm25VacuumTravel _),
    "maint_phash_refresh" -> (maintPhashRefresh _),
    "maint_spans_refresh" -> (maintSpansRefresh _),
    "maint_pairs_time_travel" -> (maintPairsTimeTravel _),
    "maint_pairs_vacuum_travel" -> (maintPairsVacuumTravel _))

  /** The from-scratch pair build over batches 1-2's documents (the
    * md5-mod-4 classes {1,2,3} of the slice) — the answer BOTH
    * `maint_pairs_time_travel` (v2 read of a live chain) and
    * `maint_pairs_vacuum_travel` (read of the oldest retained version
    * after vacuum) must reproduce.
    */
  private val pairsBatch12Oracle: String =
    s"""WITH $docSliceCte,
       |sub AS (
       |  SELECT doc_id, text FROM slice
       |  WHERE ${hmodSql("doc_id", 4)} <> 0),
       |${Dedup.jaccardCtesOver("sub")}
       |SELECT * FROM jpairs ORDER BY doc_a, doc_b""".stripMargin

  /** The additive chain's batches-1-2 df — shared by the live
    * time-travel read and the post-vacuum retained-version read.
    */
  private val bm25Batch12Oracle: String =
    s"""WITH sub AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ${hmodSql("doc_id", 4)} <> 0),
       |terms AS (
       |  SELECT * FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |    FROM sub)
       |  WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2)
       |SELECT term, count(*) AS df FROM tf GROUP BY term ORDER BY term""".stripMargin

  val oracles: Map[String, String] = Map(
    // maintained ≡ from-scratch: the oracle is the SAME CTE generator
    // the from-scratch query's oracle uses, over the working slice
    "maint_pairs_refresh" ->
      s"""WITH $docSliceCte,
         |sub AS (SELECT doc_id, text FROM slice),
         |${Dedup.jaccardCtesOver("sub")}
         |SELECT * FROM jpairs ORDER BY doc_a, doc_b""".stripMargin,
    "maint_knn_refresh" ->
      s"""WITH sub AS (
         |  SELECT p_partkey, p_retailprice FROM part
         |  WHERE ${hmodSql("p_partkey", 2)} = 0),
         |${GraphOps.knnEdgesCteOver("sub")}
         |SELECT a, b FROM edges ORDER BY a, b""".stripMargin,
    // the v2 state is the from-scratch build over batches 1-2's nodes:
    // within the fixed md5-rank slice, the hmod-4 classes {1,2} ∪ {3};
    // v3's class-0 nodes are invisible
    "maint_knn_time_travel" ->
      s"""WITH slice AS (
         |  SELECT p_partkey, p_retailprice FROM part
         |  ORDER BY md5(CAST(p_partkey AS VARCHAR)) LIMIT $KnnSliceN),
         |sub AS (
         |  SELECT p_partkey, p_retailprice FROM slice
         |  WHERE ${hmodSql("p_partkey", 4)} <> 0),
         |${GraphOps.knnEdgesCteOver("sub")}
         |SELECT a, b FROM edges ORDER BY a, b""".stripMargin,
    "maint_bm25_df_time_travel" -> bm25Batch12Oracle,
    // compaction + vacuum never change logical state: the additive
    // chain's retained-version read shares the live read's oracle
    "maint_bm25_vacuum_travel" -> bm25Batch12Oracle,
    "maint_phash_refresh" ->
      Multimodal.dctPairsOracleWhere(s"${hmodSql("doc_id", 2)} = 0"),
    "maint_pairs_time_travel" -> pairsBatch12Oracle,
    // compaction + vacuum never change logical state: the retained
    // version's read equals the SAME from-scratch subset build, so
    // the two queries share one oracle definition (no copy to drift)
    "maint_pairs_vacuum_travel" -> pairsBatch12Oracle,
    "maint_spans_refresh" ->
      s"""WITH $docSliceCte,
         |capdocs AS (
         |  SELECT doc_id FROM slice WHERE ${hmodSql("doc_id", 4)} <> 0
         |  ORDER BY md5(CAST(doc_id AS VARCHAR))
         |  LIMIT ${TextAnalysis.SpanDfCap}),
         |bdoc AS (
         |  SELECT doc_id FROM slice WHERE ${hmodSql("doc_id", 4)} = 0
         |  ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 1),
         |sub AS (
         |  SELECT s.doc_id,
         |    CASE WHEN c.doc_id IS NOT NULL OR b.doc_id IS NOT NULL
         |         THEN '$CapPhrase ' || s.text ELSE s.text END AS text
         |  FROM slice s
         |  LEFT JOIN capdocs c ON s.doc_id = c.doc_id
         |  LEFT JOIN bdoc b ON s.doc_id = b.doc_id),
         |${TextAnalysis.exactSpansCtesOver("sub")}
         |SELECT doc_a, doc_b, start_a, start_b, span_len
         |FROM spans ORDER BY doc_a, doc_b, start_a, start_b""".stripMargin)
}
