package graft

import graft.operators.{AnnSearch, GraphOps, MaintQueries}
import org.apache.spark.sql.functions._

/** The maintenance-tier oracle queries: semantics the DuckDB parity
  * gate can't see from one run — the time-travel read really excludes
  * the later commit, the refreshed tables really equal from-scratch
  * builds, and each run cleans its temp root.
  */
class MaintQueriesSpec extends SparkTestBase {

  private def hmod(c: org.apache.spark.sql.Column, m: Int) =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % m

  private def dfSet(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  /** The document-keyed queries' fixed working slice (r15): the
    * DocSliceN md5-rank-smallest doc ids — the spec mirrors the
    * operator's definition exactly.
    */
  private def docSlice() = Tables.documents(spark, sfDir)
    .select("doc_id", "text")
    .orderBy(md5(col("doc_id").cast("string")))
    .limit(MaintQueries.DocSliceN)
    .localCheckpoint()

  test("bm25 df time travel reads v2: batches 1-2 counted, batch 3 invisible") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val got = dfSet(MaintQueries.maintBm25DfTimeTravel(spark, sfDir)
      .select("term", "df"))
    val v2Docs = docs.filter(hmod(col("doc_id"), 4) =!= 0)
    val expectV2 = dfSet(AnnSearch.bm25Tf(v2Docs)
      .groupBy("term").agg(count(lit(1)).as("df")))
    assert(got == expectV2, "time-travel state diverges from batches 1-2's df")
    val expectV3 = dfSet(AnnSearch.bm25Tf(docs)
      .groupBy("term").agg(count(lit(1)).as("df")))
    assert(got != expectV3,
      "v2 read equals the full-corpus df — the later commit leaked into history")
  }

  test("refreshed pair table equals the from-scratch build over the working set") {
    val docs = docSlice()
    val got = MaintQueries.maintPairsRefresh(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val scratch = nearDupPairsBrute(docs).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == scratch)
  }

  test("refreshed kNN edge set equals from-scratch; eviction deletes applied") {
    val nodes = GraphOps.partNodes(spark, sfDir)
      .filter(hmod(col("key"), 2) === 0)
    val got = MaintQueries.maintKnnRefresh(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scratch = graft.operators.GraphOps.mutualEdgesOf(knnListsBrute(nodes))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == scratch)
  }

  test("refreshed DCT pair table equals from-scratch over the working media") {
    val media = graft.operators.Multimodal.augmentedMedia(spark, sfDir)
      .filter(hmod(col("doc_id"), 2) === 0)
    val got = MaintQueries.maintPhashRefresh(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val scratch = dctPairsBrute(graft.operators.Multimodal.dctFingerprintsOf(media))
      .select("modality", "doc_a", "doc_b", "hamming")
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == scratch)
  }

  test("refreshed span extraction equals from-scratch over the working corpus") {
    // mirror the query's slice AND its deterministic cap-phrase
    // augmentation (SpanDfCap base docs + the crossing batch doc)
    val docs = docSlice()
    val baseRaw = docs.filter(hmod(col("doc_id"), 4) =!= 0)
    val batchRaw = docs.filter(hmod(col("doc_id"), 4) === 0)
    val marks = baseRaw
      .orderBy(md5(col("doc_id").cast("string")))
      .limit(graft.operators.TextAnalysis.SpanDfCap)
      .select(col("doc_id").as("mark_id"))
      .union(batchRaw.orderBy(md5(col("doc_id").cast("string"))).limit(1)
        .select(col("doc_id").as("mark_id")))
    val augmented = docs
      .join(marks, col("doc_id") === col("mark_id"), "left")
      .select(col("doc_id"),
        when(col("mark_id").isNotNull,
          concat(lit(MaintQueries.CapPhrase + " "), col("text")))
          .otherwise(col("text")).as("text"))
    val got = MaintQueries.maintSpansRefresh(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val scratch = graft.operators.TextAnalysis.exactSpansOver(augmented)
      .collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == scratch)
    // the from-scratch build over the UN-augmented slice must differ:
    // the phrase docs' boundary grams add spans, proving the
    // augmentation (and therefore the cap-crossing retraction the
    // operator requires in-query) is not a no-op
    val plain = graft.operators.TextAnalysis.exactSpansOver(docs)
      .collect().map(_.toSeq).toSet
    assert(got != plain, "the cap-phrase augmentation changed nothing")
  }

  test("pairs time travel reads v2: batches 1-2's pairs, batch 3 invisible") {
    val docs = docSlice()
    val got = MaintQueries.maintPairsTimeTravel(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val v2Docs = docs.filter(hmod(col("doc_id"), 4) =!= 0)
    val expectV2 = nearDupPairsBrute(v2Docs).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == expectV2,
      "time-travel state diverges from the from-scratch build over batches 1-2")
    val expectV3 = nearDupPairsBrute(docs).collect().map(_.toSeq).toSet
    assert(got != expectV3,
      "v2 read equals the full working-set pairs — the later commit leaked")
  }

  test("knn time travel reads v2: deletes applied, batch 3 invisible") {
    // the query's working set: the KnnSliceN md5-rank-smallest keys
    val slice = GraphOps.partNodes(spark, sfDir)
      .orderBy(md5(col("key").cast("string")))
      .limit(MaintQueries.KnnSliceN)
      .localCheckpoint()
    val got = MaintQueries.maintKnnTimeTravel(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the v2 state ≡ from-scratch over batches 1-2's nodes: any
    // eviction delete v2 failed to fold would leave a stale b1-era
    // neighbor pair the scratch build lacks
    val v2Nodes = slice.filter(hmod(col("key"), 4) =!= 0)
    val expectV2 = GraphOps.mutualEdgesOf(knnListsBrute(v2Nodes))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == expectV2,
      "time-travel edge set diverges from the from-scratch build over batches 1-2")
    val expectV3 = GraphOps.mutualEdgesOf(knnListsBrute(slice))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got != expectV3,
      "v2 read equals the full working-set edges — the later commit leaked")
    // guard against a vacuous pass: the v2 delta must actually carry
    // eviction DELETE rows, or got == expectV2 would hold through the
    // plain upsert-union path and prove nothing about delete folding.
    // Replay the same b1 → b2 chain into an inspectable root and read
    // the delta's removes/ set minus its own upsert keys (an upsert
    // also lists its key under removes; a PURE delete appears only
    // there).
    val root = java.nio.file.Files
      .createTempDirectory("graft_kttspec").toAbsolutePath.toString
    try {
      val b1 = slice.filter(hmod(col("key"), 4).isin(1, 2))
      val b2 = slice.filter(hmod(col("key"), 4) === 3)
      graft.operators.IndexMaintenance.bootstrapKnn(spark, root, b1)
      graft.operators.IndexMaintenance.refreshKnn(spark, root, b1, b2, "b2")
      // if the b2 batch ever lands as a full base (delta overflow or a
      // compacting commit), v=2 has no removes/ at all — fail with the
      // diagnosis, not a path-not-found AnalysisException
      assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(root, "v=2", "removes")),
        "v=2 was written as a base, not a delta — shrink the batch so " +
          "the refresh stays under the sink's delta threshold")
      val pureDeletes = spark.read.parquet(s"$root/v=2/removes")
        .join(spark.read.parquet(s"$root/v=2/upserts"),
          Seq("list_key"), "left_anti")
        .count()
      assert(pureDeletes > 0,
        "b2 evicted no neighbors at this scale — the time-travel query " +
          "is not exercising the removes anti-join it exists to pin")
    } finally graft.sinks.IdempotentMergeSink
      .deleteRecursively(new java.io.File(root))
  }

  test("pairs vacuum travel: retained version readable, earlier versions gone") {
    // the query itself asserts v1/v2 were really deleted (a require in
    // the operator); here pin the LOGICAL claim — reading the oldest
    // retained version after vacuum equals the from-scratch build over
    // batches 1-2, i.e. retention never changes answers
    val docs = docSlice()
    val got = MaintQueries.maintPairsVacuumTravel(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val v2Docs = docs.filter(hmod(col("doc_id"), 4) =!= 0)
    val expectV2 = nearDupPairsBrute(v2Docs).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == expectV2,
      "post-vacuum read of the retained version diverges from the " +
        "from-scratch build over batches 1-2")
  }

  test("bm25 vacuum travel: retained additive version readable, earlier gone") {
    // the operator requires v1/v2 really deleted; pin the LOGICAL
    // claim here — the post-vacuum read of the oldest retained version
    // equals batches 1-2's df, exactly like the live time-travel read
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val got = dfSet(MaintQueries.maintBm25VacuumTravel(spark, sfDir)
      .select("term", "df"))
    val expectV2 = dfSet(AnnSearch.bm25Tf(docs.filter(hmod(col("doc_id"), 4) =!= 0))
      .groupBy("term").agg(count(lit(1)).as("df")))
    assert(got == expectV2,
      "post-vacuum read of the retained additive version diverges from " +
        "batches 1-2's df")
  }

  test("each maintenance query deletes its temp root") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def roots() = Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("graft_maintq_")).map(_.getName).toSet
    val before = roots()
    MaintQueries.maintBm25DfTimeTravel(spark, sfDir).count()
    assert(roots() == before, "maintenance query left its temp root behind")
  }
}
