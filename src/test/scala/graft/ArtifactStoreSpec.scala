package graft

import graft.operators.{AnnSearch, GraphOps}
import graft.sources.ArtifactStore
import org.apache.spark.sql.functions._

/** The train-once/serve-many contract: `*_indexed` / `*_served`
  * operators answer from persisted artifact tables and must equal
  * their self-contained twins row-for-row; the artifact builds at most
  * once per JVM.
  */
class ArtifactStoreSpec extends SparkTestBase {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("artifact builds once per JVM and serves the identical relation") {
    var builds = 0
    def make = {
      builds += 1
      spark.range(5).select(col("id").as("k"), (col("id") * 2).as("v"))
    }
    val a = ArtifactStore.ensure(spark, sfDir, "spec_probe", "k", 2)(make)
    val b = ArtifactStore.ensure(spark, sfDir, "spec_probe", "k", 2)(make)
    assert(builds == 1, s"build ran $builds times")
    assert(ArtifactStore.has(spark, sfDir, "spec_probe"))
    assert(rows(a.orderBy("k")) == rows(b.orderBy("k")))
    assert(a.count() == 5)
  }

  test("ensureMany: one build across concurrent first callers, outputs in step") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def fetch() = ArtifactStore.ensureMany(spark, sfDir,
      Seq(("spec_many_a", "k", 2), ("spec_many_b", "k", 2))) {
      // the expensive shared training pass — must run at most once even
      // when every caller arrives before the first build finishes
      builds.incrementAndGet()
      val base = spark.range(8).select(col("id").as("k"), (col("id") * 3).as("v"))
      Map("spec_many_a" -> base,
        "spec_many_b" -> base.withColumn("v", col("v") + 1))
    }
    val all = Await.result(
      Future.sequence((1 to 4).map(_ => Future(fetch()))), 120.seconds)
    assert(builds.get() == 1, s"shared build ran ${builds.get()} times")
    all.foreach { m =>
      assert(m("spec_many_a").count() == 8 && m("spec_many_b").count() == 8)
    }
  }

  test("graph served twins equal their self-contained forms") {
    // pagerank (iterative), triangles (wedge join), kcore (peel) cover
    // the three graph plan shapes; the other twins share knnEdgesServed
    assert(rows(GraphOps.graphPagerankIndexed(spark, sfDir))
      == rows(GraphOps.graphPagerank(spark, sfDir)))
    assert(rows(GraphOps.graphTrianglesIndexed(spark, sfDir))
      == rows(GraphOps.graphTriangles(spark, sfDir)))
    assert(rows(GraphOps.graphKcoreIndexed(spark, sfDir))
      == rows(GraphOps.graphKcore(spark, sfDir)))
  }

  test("ann served twins equal their self-contained forms") {
    assert(rows(AnnSearch.annIvfadcServed(spark, sfDir))
      == rows(AnnSearch.annIvfadcTopk(spark, sfDir)))
    assert(rows(AnnSearch.annIvfadcRerankServed(spark, sfDir))
      == rows(AnnSearch.annIvfadcRerank(spark, sfDir)))
    assert(rows(AnnSearch.annRrfFusionServed(spark, sfDir))
      == rows(AnnSearch.annRrfFusion(spark, sfDir)))
    // residual PQ: the served form's codes/codebook trained on
    // residuals vs the SERVED centroids must reproduce the
    // self-contained chain bit-for-bit (k-means here is deterministic)
    assert(rows(AnnSearch.annIvfpqResidualServed(spark, sfDir))
      == rows(AnnSearch.annIvfpqResidual(spark, sfDir)))
  }

  test("dedup served twins equal their self-contained forms") {
    import graft.operators.Dedup
    assert(rows(Dedup.dedupComponentsServed(spark, sfDir))
      == rows(Dedup.dedupComponents(spark, sfDir)))
    assert(rows(Dedup.dedupClusterStatsServed(spark, sfDir))
      == rows(Dedup.dedupClusterStats(spark, sfDir)))
    assert(rows(Dedup.dedupKeepBestServed(spark, sfDir))
      == rows(Dedup.dedupKeepBest(spark, sfDir)))
    assert(rows(Dedup.dedupIncrementalServed(spark, sfDir))
      == rows(Dedup.dedupIncremental(spark, sfDir)))
    // the CAPPED serving tier (r15 second half): pre-capped pair/label
    // artifacts must reproduce the self-contained capped forms
    // row-for-row — both levers are baked in at build time
    assert(rows(Dedup.dedupPairsCappedServed(spark, sfDir))
      == rows(Dedup.dedupPairsCapped(spark, sfDir)))
    assert(rows(Dedup.dedupComponentsCappedServed(spark, sfDir))
      == rows(Dedup.dedupComponentsCapped(spark, sfDir)))
    assert(rows(Dedup.dedupKeepBestCappedServed(spark, sfDir))
      == rows(Dedup.dedupKeepBestCapped(spark, sfDir)))
    // the group-aware split over the served label artifact
    assert(rows(graft.operators.Pipeline.corpusGroupSplitServed(spark, sfDir))
      == rows(graft.operators.Pipeline.corpusGroupSplit(spark, sfDir)))
  }

  test("datasets whose paths differ only in punctuation keep separate artifacts") {
    import graft.operators.Dedup
    // both paths fold to the same `[a-z0-9_]` token; the second holds
    // the same documents under shifted ids, so its clusters differ
    val base = java.nio.file.Files.createTempDirectory("graft_art_collide").toFile
    val dirs = Seq("sf0.1", "sf0_1").map(n => new java.io.File(base, n).getPath)
    try {
      val docs = Tables.documents(spark, sfDir)
      docs.coalesce(1).write.parquet(s"${dirs(0)}/documents.parquet")
      docs.withColumn("doc_id", col("doc_id") + 100000L)
        .coalesce(1).write.parquet(s"${dirs(1)}/documents.parquet")
      // serve both before checking either: a shared table would hold
      // only the second directory's build
      dirs.foreach(d => Dedup.dedupComponentsServed(spark, d).count())
      dirs.foreach { d =>
        val own = rows(Dedup.dedupComponents(spark, d))
        assert(own.nonEmpty, s"no clusters in $d")
        assert(rows(Dedup.dedupComponentsServed(spark, d)) == own, s"served labels of $d")
        assert(rows(graft.operators.Pipeline.corpusGroupSplitServed(spark, d))
          == rows(graft.operators.Pipeline.corpusGroupSplit(spark, d)), s"group split of $d")
      }
    } finally {
      // the artifact tables of both directories carry the base
      // directory's name; drop them so no run leaves any behind
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.contains(base.getName.toLowerCase))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.sinks.IdempotentMergeSink.deleteRecursively(base)
    }
  }

  test("capped fusion artifacts respect their scan-depth and posting caps") {
    // run the query first so its artifacts exist (build-once path),
    // then inspect them: a cap that silently stopped binding (or
    // stopped existing) would make ann_rrf_fusion_capped a slower
    // alias of the served twin
    val out = AnnSearch.annRrfFusionCapped(spark, sfDir).cache()
    assert(out.count() > 0)
    assert(out.agg(max("rank")).head().getInt(0) <= AnnSearch.RrfTopK)
    def built(name: String, key: String) =
      ArtifactStore.ensure(spark, sfDir, name, key, 8)(
        sys.error(s"$name must already exist after the capped query ran"))
    // posting cap: must BIND at this scale (common terms have df >> 64
    // over 500 docs), so a deleted cap shows as equal row counts —
    // not just a vacuous <= assertion
    val wFull = built("bm25_w", "doc_id")
    val wCapped = built("bm25_w_capped", "doc_id")
    assert(wCapped.count() < wFull.count(),
      "posting cap does not bind at test scale — the capped table " +
        "equals the full postings, so the truncation is untested")
    val maxPost = wCapped
      .groupBy("term").count().agg(max("count")).head().getLong(0)
    assert(maxPost <= AnnSearch.RrfPostCap,
      s"posting depth $maxPost exceeds cap ${AnnSearch.RrfPostCap}")
    // bucket cap: 500 vectors over 16-bit-pattern buckets may never
    // reach 128 here, so binding can't be asserted at this scale —
    // instead pin the LOGIC exactly: the capped table must equal the
    // independently recomputed rank-<=-cap truncation of the full keys
    val keysFull = built("lsh_keys", "vec_id")
    val expected = keysFull
      .withColumn("pos", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("t"), col("b")).orderBy(col("vec_id"))))
      .filter(col("pos") <= AnnSearch.RrfBucketCap).drop("pos")
      .collect().map(_.toSeq).toSet
    val actual = built("lsh_keys_capped", "vec_id")
      .collect().map(_.toSeq).toSet
    assert(actual == expected,
      "lsh_keys_capped diverges from the recomputed per-bucket truncation")
    // champion list (r15): 500 docs < RrfChampCap, so binding can't be
    // asserted here either — pin the LOGIC: the artifact must equal
    // the independently recomputed global top-K by total impact mass
    val champ = built("bm25_champ", "doc_id")
      .collect().map(_.getLong(0)).toSet
    val expectedChamp = wFull
      .groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.functions.sum(col("w6")).as("tw6"))
      .orderBy(col("tw6").desc, col("doc_id"))
      .limit(AnnSearch.RrfChampCap)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(champ == expectedChamp,
      "bm25_champ diverges from the recomputed total-impact top-K")
  }

  test("the capped signature index equals the recomputed per-bucket prefix") {
    import graft.operators.Dedup
    // build (or reuse) the capped artifact, then pin the LOGIC against
    // an independent recomputation from the FULL signature index — the
    // lsh_keys_capped discipline applied to the text side (500 docs
    // rarely exceed SigScanCap per band bucket, so binding is pinned
    // by StreamingSpec's planted dense corpus, the logic here)
    val capped = Dedup.servedSigsCapped(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val expected = Dedup.servedSigs(spark, sfDir)
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_idx"), col("bk")).orderBy(col("doc_id"))))
      .filter(col("pos") <= Dedup.SigScanCap).drop("pos")
      .collect().map(_.toSeq).toSet
    assert(capped.nonEmpty && capped == expected,
      "dedup_sigs_capped diverges from the recomputed per-bucket prefix")
  }

  test("served ivfadc reads its artifacts as bucketed scans") {
    // the lists ⋈ codes join rides two tables bucketed on vec_id —
    // the storage-level claim: the shuffle was paid at write time
    val plan = AnnSearch.annIvfadcServed(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Bucketed: true".r.findAllIn(plan).length >= 2,
      s"expected >=2 bucketed scans:\n${plan.take(1500)}")
  }

  test("served dct pairs read the fingerprint artifact as bucketed scans") {
    // both sides of the band self-join scan the phash_dct table — the
    // decode + DCT pass was paid at write time, the probe reads buckets
    val plan = graft.operators.Multimodal
      .multimodalPhashDctPairsServed(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Bucketed: true".r.findAllIn(plan).length >= 1,
      s"expected a bucketed fingerprint scan:\n${plan.take(1500)}")
  }

  test("served twins return rows (artifact tables are non-empty)") {
    assert(GraphOps.graphBfsIndexed(spark, sfDir).count() > 0)
    assert(GraphOps.graphLabelPropagationIndexed(spark, sfDir).count() > 0)
    assert(GraphOps.graphModularityIndexed(spark, sfDir).count() > 0)
    assert(GraphOps.graphLinkPredictionIndexed(spark, sfDir).count() > 0)
  }
}
