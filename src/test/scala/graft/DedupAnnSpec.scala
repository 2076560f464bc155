package graft

import graft.operators.{AnnSearch, CorpusOps, Dedup}
import org.apache.spark.sql.functions._

class DedupAnnSpec extends SparkTestBase {

  test("every dedup/ann query returns rows") {
    (Dedup.queries ++ AnnSearch.queries).foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("dedup_exact: canonical ids are cluster minima and non-dups are canonical") {
    val df = Dedup.dedupExact(spark, sfDir).cache()
    assert(df.filter(col("canonical_id") > col("doc_id")).count() == 0)
    assert(df.filter(!col("is_duplicate") && col("doc_id") =!= col("canonical_id")).count() == 0)
    // one canonical per cluster
    val perCluster = df.groupBy("content_hash")
      .agg(countDistinct("canonical_id").as("n"))
    assert(perCluster.filter(col("n") =!= 1).count() == 0)
  }

  test("dedup_minhash: signature values bounded and bands deterministic") {
    val df = Dedup.dedupMinhash(spark, sfDir).cache()
    assert(df.columns.count(_.startsWith("m")) == 16)
    assert(df.columns.count(_.startsWith("band")) == 8)
    // re-running yields the identical signature for the same doc
    val again = Dedup.dedupMinhash(spark, sfDir)
    assert(df.exceptAll(again).count() == 0)
  }

  test("dedup_ngram_jaccard: pairs are ordered, above threshold, and symmetric-free") {
    val df = Dedup.dedupNgramJaccard(spark, sfDir).cache()
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("jaccard") < 0.5).count() == 0)
  }

  test("ann_mips_topk: the augmentation reduction maps MIPS onto cosine NNS exactly") {
    import org.apache.spark.sql.expressions.Window
    val mips = AnnSearch.annMipsTopk(spark, sfDir).cache()
    assert(mips.count() > 0)
    assert(mips.filter(col("rank") > 5).count() == 0)
    // cosine ranking on the augmented space (corpus padded with
    // sqrt(M^2 - |x|^2), queries zero-padded) must reproduce the dot
    // ranking on the original space
    val (corpus, queries) = AnnSearch.mipsAugmented(spark, sfDir)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val viaCos = corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .withColumn("cos", AnnSearch.cosine(col("qa"), col("va")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    val mipsPairs = mips.select("q_id", "neighbor_id")
    assert(mipsPairs.exceptAll(viaCos).count() == 0 &&
      viaCos.exceptAll(mipsPairs).count() == 0,
      "augmented-cosine neighbors differ from MIPS neighbors")
    mips.unpersist()
  }

  test("dedup_prefix_filter: lossless vs all-pairs definition, candidates pruned") {
    val df = Dedup.dedupPrefixFilter(spark, sfDir).cache()
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("jaccard") < 0.5).count() == 0)
    // LOSSLESS: the prefix-filtered result must equal the declarative
    // all-pairs definition computed independently (no candidate step)
    // the prefix filter's distinct word 5-grams
    val sh = CorpusOps.grams(Tables.documents(spark, sfDir), 5).localCheckpoint()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val allPairs = sh.select(col("doc_id").as("doc_a"), col("gram"))
      .join(sh.select(col("doc_id").as("doc_b"), col("gram")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
    assert(df.exceptAll(allPairs).count() == 0, "prefix filter invented pairs")
    assert(allPairs.exceptAll(df).count() == 0, "prefix filter LOST qualifying pairs")
    df.unpersist()
  }

  test("dedup_containment: catches contained excerpts that Jaccard misses") {
    val df = Dedup.dedupContainment(spark, sfDir).cache()
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("containment") < 0.7).count() == 0)
    // containment dominates jaccard by definition (min ≤ union)
    assert(df.filter(col("containment") < col("jaccard")).count() == 0)
    // the injected prefix excerpts ARE the asymmetric case: every
    // asymmetric pair links a document to its synthetic excerpt, with
    // full containment (excerpt shingles ⊂ original shingles) and
    // sub-threshold jaccard — the pair class plain Jaccard dedup drops
    val asym = df.filter(col("is_asymmetric")).cache()
    assert(asym.count() > 0, "no asymmetric pairs surfaced")
    // every asymmetric pair involves an injected excerpt (directly of
    // its source doc, or contained in a near-duplicate of the source —
    // both are the real quoted-passage case), and by definition sits
    // below the Jaccard threshold
    assert(asym.filter(col("doc_b") < 100000L).count() == 0)
    assert(asym.filter(col("jaccard") >= 0.5).count() == 0)
    // at least one direct (source, its-own-excerpt) pair is recalled
    // by the banding and flagged with FULL containment
    val direct = asym.filter(col("doc_b") === col("doc_a") + 100000L)
    assert(direct.count() > 0, "no direct excerpt pair recalled")
    assert(direct.filter(col("containment") < 1.0).count() == 0)
    // and the symmetric survivors are exactly the Jaccard pairs
    val jac = Dedup.dedupNgramJaccard(spark, sfDir).select("doc_a", "doc_b")
    assert(df.filter(!col("is_asymmetric")).select("doc_a", "doc_b")
      .exceptAll(jac).count() == 0)
  }

  test("dedup_components: labels are component minima and edges never cross components") {
    val comp = Dedup.dedupComponents(spark, sfDir).cache()
    assert(comp.count() > 0)
    assert(comp.filter(col("component") > col("doc_id")).count() == 0)
    // every edge endpoint pair shares a component
    val pairs = Dedup.dedupNgramJaccard(spark, sfDir).select("doc_a", "doc_b")
    val crossing = pairs
      .join(comp.select(col("doc_id").as("doc_a"), col("component").as("ca")), "doc_a")
      .join(comp.select(col("doc_id").as("doc_b"), col("component").as("cb")), "doc_b")
      .filter(col("ca") =!= col("cb"))
    assert(crossing.count() == 0)
    // the canonical doc belongs to its own component
    assert(comp.filter(col("doc_id") === col("component"))
      .select("component").distinct().count() ==
      comp.select("component").distinct().count())
  }

  test("dedup_cluster_stats: agrees with the labelling, clusters connected") {
    val stats = Dedup.dedupClusterStats(spark, sfDir).cache()
    val comp = Dedup.dedupComponents(spark, sfDir).cache()
    // same component set, and member counts add back up to the labelling
    assert(stats.select("component").exceptAll(comp.select("component").distinct()).count() == 0)
    assert(comp.select("component").distinct().exceptAll(stats.select("component")).count() == 0)
    assert(stats.agg(sum("n_docs")).head().getLong(0) == comp.count())
    // components arise from the pair graph: ≥2 members, and a connected
    // cluster of n docs needs at least n-1 verified pairs
    assert(stats.filter(col("n_docs") < 2).count() == 0)
    assert(stats.filter(col("n_edges") < col("n_docs") - 1).count() == 0)
    assert(stats.filter(col("max_doc") < col("component")).count() == 0)
    stats.unpersist(); comp.unpersist()
  }

  test("dedup_keep_best: one winner per cluster, and it is the best-quality member") {
    val df = Dedup.dedupKeepBest(spark, sfDir).cache()
    assert(df.count() == Tables.documents(spark, sfDir).count())
    // exactly one kept member per component
    val perComp = df.groupBy("component")
      .agg(sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"))
    assert(perComp.filter(col("n_kept") =!= 1L).count() == 0)
    // the winner's quality is the component max
    val best = df.groupBy("component").agg(max("quality_score").as("best"))
    val wrongWinner = df.filter(col("is_kept")).join(best, "component")
      .filter(col("quality_score") < col("best"))
    assert(wrongWinner.count() == 0)
    // the gate actually drops near-dups, and only from multi-member clusters
    val dropped = df.filter(!col("is_kept")).cache()
    assert(dropped.count() > 0, "no near-dup was dropped — dead operator")
    val sizes = df.groupBy("component").agg(count(lit(1)).as("n"))
    assert(dropped.join(sizes, "component").filter(col("n") < 2).count() == 0)
    dropped.unpersist(); df.unpersist()
  }

  test("dedup_minhash_est: estimates are signature fractions; identical docs estimate 1.0") {
    val est = Dedup.dedupMinhashEst(spark, sfDir).cache()
    assert(est.count() > 0)
    // estimates are k/16 in [0.5, 1]
    val bad = est.filter(col("est_jaccard") < 0.5 || col("est_jaccard") > 1.0 ||
      (col("est_jaccard") * 16) =!= round(col("est_jaccard") * 16, 0))
    assert(bad.count() == 0)
    // exact duplicates (same shingle set) must estimate exactly 1.0
    val exact = Dedup.dedupNgramJaccard(spark, sfDir)
      .filter(col("jaccard") === 1.0).select("doc_a", "doc_b")
    val missed = exact.join(est.filter(col("est_jaccard") === 1.0),
      Seq("doc_a", "doc_b"), "left_anti")
    assert(missed.count() == 0)
  }

  test("connectedComponents: empty pair graph yields empty labelling, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("connectedComponents: chain collapses to min label, separate edge stays apart") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs).cache()
    assert(comp.count() == 6)
    val chain = comp.filter(col("doc_id") <= 4L).select("component").distinct().collect()
    assert(chain.map(_.getLong(0)).toSeq == Seq(1L))
    assert(comp.filter(col("doc_id") === 11L).head().getAs[Long]("component") == 10L)
    assert(comp.filter(col("component") === 1L).head().getAs[Long]("component_size") == 4L)
  }

  test("star-contraction components equal min-label propagation on every graph shape") {
    import spark.implicits._
    // long chain (diameter stress — the case star-contraction exists
    // for), clique, hub star, two components, reversed/duplicated edges
    val shapes = Seq(
      // chain of diameter 39: more min-label rounds than a fixed cap of 32
      (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq,
      Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)), // K4
      (2L to 9L).map(i => (i, 1L)),                                  // hub (reversed)
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (2L, 1L)),     // 2 comps + dup
      Seq((5L, 9L)))                                                 // single edge
    shapes.zipWithIndex.foreach { case (edges, i) =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val viaLabels = Dedup.connectedComponents(pairs)
        .select("doc_id", "component", "component_size")
      val viaStars = Dedup.connectedComponentsStar(pairs)
        .select("doc_id", "component", "component_size")
      assert(viaStars.exceptAll(viaLabels).count() == 0 &&
        viaLabels.exceptAll(viaStars).count() == 0,
        s"shape $i: star contraction disagrees with min-label propagation")
    }
    // empty graph: empty labelling, no NPE
    assert(Dedup.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).count() == 0)
    // and on the real corpus pair graph
    val corpus = Dedup.dedupNgramJaccard(spark, sfDir).select("doc_a", "doc_b")
    val a = Dedup.connectedComponents(corpus).select("doc_id", "component", "component_size")
    val b = Dedup.connectedComponentsStar(corpus).select("doc_id", "component", "component_size")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("dedup operators leave no dangling cache entries in the session") {
    // the multi-read intermediates use localCheckpoint (context-cleaner
    // reclaimable), never cache(): a long-lived session running many
    // operators must not accumulate CacheManager entries it can never
    // drop. A leaked cache would substitute an InMemoryRelation into any
    // later plan-equal query — probe a fresh plan for exactly that.
    spark.catalog.clearCache()
    Dedup.dedupNgramJaccard(spark, sfDir).count()
    Dedup.dedupComponents(spark, sfDir).count()
    val probe = Dedup.dedupNgramJaccard(spark, sfDir)
    val cachedNodes = probe.queryExecution.withCachedData.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }
    assert(cachedNodes.isEmpty,
      s"dedup run left ${cachedNodes.size} CacheManager entries behind")
  }

  test("dedup_simhash: 64-bit fingerprints use the full width") {
    val df = Dedup.dedupSimhash(spark, sfDir).cache()
    // every 16-bit band must be populated across the corpus (the old
    // 16-bit fingerprint left bands 1-3 identically zero — the
    // pigeonhole-quadratic regime this widening retires)
    val bandsUsed = (0 until 4).map { b =>
      df.filter(shiftright(col("simhash"), 16 * b)
        .bitwiseAND(lit(65535L)) =!= 0L).count()
    }
    assert(bandsUsed.forall(_ > 0), s"unpopulated 16-bit band: $bandsUsed")
    df.unpersist()
  }

  test("simhash64 native aggregate == declarative 64-sum formulation, bit-exact") {
    // the dump runs the native TypedImperativeAggregate; this rebuilds
    // the original declarative form (md5 hex halves via conv/substring,
    // 64 separate vote sums, OR-mask assembly) and pins bit-equality
    // per doc — the guarantee that lets the native path share the
    // unchanged DuckDB oracle
    val tok = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .withColumn("h0", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
      .withColumn("h1", conv(substring(md5(col("tok")), 9, 8), 16, 10).cast("long"))
    val votes = (0 until 64).map { b =>
      val half = if (b < 32) col("h0") else col("h1")
      sum(when(shiftright(half, b % 32).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"s$b")
    }
    val fp = (0 until 64).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
    val declarative = tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
    val native = Dedup.dedupSimhash(spark, sfDir)
    assert(native.count() > 0)
    assert(native.join(declarative, "doc_id")
      .filter(native("simhash") =!= declarative("simhash")).count() == 0)
    // the aggregate really is the native one (ObjectHashAggregate path)
    val planStr = native.queryExecution.executedPlan.toString
    assert(planStr.contains("simhash64"), s"native simhash64 missing from plan:\n$planStr")
  }

  test("ann_topk: at most k neighbors per query, ranked by descending cosine") {
    val df = AnnSearch.annTopk(spark, sfDir).cache()
    val perQ = df.groupBy("q_id").count()
    assert(perQ.filter(col("count") > 5).count() == 0)
    // rank 1 has the max cosine within each query group
    val r1 = df.filter(col("rank") === 1)
      .select(col("q_id"), col("cosine").as("c1"))
    val joined = df.join(r1, "q_id").filter(col("cosine") > col("c1"))
    assert(joined.count() == 0)
    assert(df.filter(col("q_id") === col("neighbor_id")).count() == 0)
  }

  test("ann_ivf_topk: neighbors come from at most nprobe lists and scores agree with brute force") {
    val ivf = AnnSearch.annIvfTopk(spark, sfDir).cache()
    assert(ivf.count() > 0)
    // at most NProbe probed labels per query
    val probes = ivf.groupBy("q_id").agg(countDistinct("probe_label").as("n"))
    assert(probes.filter(col("n") > 3).count() == 0)
    assert(ivf.filter(col("q_id") === col("neighbor_id")).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir)
      .select(col("q_id"), col("neighbor_id"), col("cosine").as("bf_cosine"))
    val both = ivf.join(bf, Seq("q_id", "neighbor_id"))
    assert(both.filter(col("cosine") =!= col("bf_cosine")).count() == 0)
  }

  test("ann_lsh_topk: table-agreement counts bounded and scores agree with brute force") {
    val lsh = AnnSearch.annLshTopk(spark, sfDir).cache()
    assert(lsh.filter(col("q_id") === col("neighbor_id")).count() == 0)
    // every surviving pair matched in 1..4 hash tables
    assert(lsh.filter(col("n_shared") < 1 || col("n_shared") > 4).count() == 0)
    // every (q, neighbor) pair found by LSH scores identically in brute force
    val bf = AnnSearch.annTopk(spark, sfDir)
      .select(col("q_id"), col("neighbor_id"), col("cosine").as("bf_cosine"))
    val both = lsh.join(bf, Seq("q_id", "neighbor_id"))
    assert(both.filter(col("cosine") =!= col("bf_cosine")).count() == 0)
  }

  test("approximate ANN recall against brute force is measured and bounded") {
    // the quality contract of the scale paths: what fraction of the
    // true (brute-force) top-k does each approximate index recover?
    // deterministic data -> deterministic recall, so this pins the
    // current quality and fails loudly if an index change degrades it
    val bf = AnnSearch.annTopk(spark, sfDir)
      .select(col("q_id"), col("neighbor_id"))
    val nTrue = bf.count()
    def recall(approx: org.apache.spark.sql.DataFrame): Double = {
      val hit = approx.select(col("q_id"), col("neighbor_id"))
        .join(bf, Seq("q_id", "neighbor_id")).count()
      hit.toDouble / nTrue
    }
    val lshRecall = recall(AnnSearch.annLshTopk(spark, sfDir))
    val ivfRecall = recall(AnnSearch.annIvfTopk(spark, sfDir))
    // calibrated against the current indexes (4 LSH tables x 4-bit
    // signatures; IVF nprobe=3), which measured 42-58% (PLANS.md "ANN
    // recall") — the 0.30 bound asserts each index is genuinely working
    // (far above chance) without overclaiming; the superseded
    // single-8-bit-table / nprobe=1 configs measured 4%/26% and fail it
    assert(lshRecall >= 0.30, f"LSH recall collapsed: $lshRecall%.3f")
    assert(ivfRecall >= 0.30, f"IVF recall collapsed: $ivfRecall%.3f")
  }

  test("ann_pq_topk: k per query, non-negative ADC distances, measurable recall") {
    val pq = AnnSearch.annPqTopk(spark, sfDir).cache()
    val perQ = pq.groupBy("q_id").count().agg(max("count")).head().getLong(0)
    assert(perQ <= 5)
    // ADC distances are sums of rounded squared distances: >= -4e-6
    assert(pq.filter(col("adist2") < -4e-6).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    val hit = pq.select(col("q_id"), col("neighbor_id"))
      .join(bf, Seq("q_id", "neighbor_id")).count()
    val recall = hit.toDouble / bf.count()
    // calibrated: 16 subspaces x 32 codewords over normalized vectors
    // measures 42% on this corpus (PLANS.md "PQ recall"); same 0.30
    // floor as the LSH/IVF indexes — genuinely working, not overclaimed
    assert(recall >= 0.30, f"PQ recall collapsed: $recall%.3f")
    pq.unpersist()
  }

  test("ann_ivfadc_topk: k per query, candidates confined to probed lists, measurable recall") {
    val r = AnnSearch.annIvfadcTopk(spark, sfDir).cache()
    assert(r.groupBy("q_id").count().agg(max("count")).head().getLong(0) <= 5)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    val hit = r.select(col("q_id"), col("neighbor_id"))
      .join(bf, Seq("q_id", "neighbor_id")).count()
    val recall = hit.toDouble / bf.count()
    // IVFADC = PQ quantization error ∩ IVF list pruning: recall is
    // bounded above by both stages'. With the coarse quantizer trained
    // on the same normalized vectors PQ encodes (the published setup)
    // it measures 0.42 here / 0.38 at sf0.01 — level with PQ alone;
    // the r4 raw-vector quantizer measured ~2× worse and fails this
    assert(recall >= 0.30, f"IVFADC recall collapsed: $recall%.3f")
    r.unpersist()
  }

  test("ann_ivfadc_rerank: exact re-scoring never loses recall vs raw ADC") {
    val rr = AnnSearch.annIvfadcRerank(spark, sfDir).cache()
    assert(rr.groupBy("q_id").count().agg(max("count")).head().getLong(0) <= 5)
    // exact distances are rounded true squared L2 on unit vectors:
    // within [0, 4] up to rounding
    assert(rr.filter(col("dist2") < -4e-6 || col("dist2") > 4.000004).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("q_id"), col("neighbor_id"))
        .join(bf, Seq("q_id", "neighbor_id")).count().toDouble / bf.count()
    val adcRecall = recall(AnnSearch.annIvfadcTopk(spark, sfDir))
    val rrRecall = recall(rr)
    // the refinement theorem this operator exists for: quantization
    // error now only decides the R-shortlist, the final order is exact
    // — so recall(k) can only improve over raw ADC (measured: it does)
    assert(rrRecall >= adcRecall,
      f"re-ranking LOST recall: $rrRecall%.3f < $adcRecall%.3f")
    assert(rrRecall >= 0.30, f"reranked recall collapsed: $rrRecall%.3f")
    rr.unpersist()
  }

  test("ann_ivfpq_residual: published residual recipe, recall measured against raw-vector ADC") {
    val res = AnnSearch.annIvfpqResidual(spark, sfDir).cache()
    assert(res.groupBy("q_id").count().agg(max("count")).head().getLong(0) <= 5)
    assert(res.filter(col("adist2") < -4e-6).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("q_id"), col("neighbor_id"))
        .join(bf, Seq("q_id", "neighbor_id")).count().toDouble / bf.count()
    val rawRecall = recall(AnnSearch.annIvfadcTopk(spark, sfDir))
    val resRecall = recall(res)
    // Same lists/probes/code budget; the only change is WHAT the 16×32
    // codebook models. On THIS corpus residuals measure 0.28 vs 0.42
    // raw — the instructive worst case: the vectors are structureless
    // (near-uniform on the sphere), so the coarse centroids sit near 0,
    // explain almost no variance, and the residual r = v − ĉ is the
    // vector plus centroid-estimation noise — the published residual
    // gain REQUIRES the coarse quantizer to capture real cluster
    // structure (PLANS.md "Residual PQ"). Floor pins the measured
    // level; the relative comparison is informational, not asserted.
    assert(resRecall >= 0.20, f"residual recall collapsed: $resRecall%.3f")
    assert(rawRecall >= 0.30, f"raw IVFADC recall collapsed: $rawRecall%.3f")
    res.unpersist()
  }

  test("ann_bq_rerank: exact refinement never loses recall vs the raw sign-bit ranking") {
    val rr = AnnSearch.annBqRerank(spark, sfDir).cache()
    assert(rr.groupBy("q_id").count().agg(max("count")).head().getLong(0) <= 5)
    // exact distances are rounded true squared L2 on unit vectors
    assert(rr.filter(col("dist2") < -4e-6 || col("dist2") > 4.000004).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("q_id"), col("neighbor_id"))
        .join(bf, Seq("q_id", "neighbor_id")).count().toDouble / bf.count()
    val bqRecall = recall(AnnSearch.annBqTopk(spark, sfDir))
    val rrRecall = recall(rr)
    // the refinement theorem again (cf. ann_ivfadc_rerank): sign-bit
    // error now only decides the R-shortlist, the final order is exact
    assert(rrRecall >= bqRecall,
      f"refinement LOST recall: $rrRecall%.3f < $bqRecall%.3f")
    rr.unpersist()
  }

  test("ann_ivfsq8_topk: list pruning costs recall only through the probes, never the scoring") {
    val sq = AnnSearch.annIvfSq8Topk(spark, sfDir).cache()
    assert(sq.groupBy("q_id").count().agg(max("count")).head().getLong(0) <= 5)
    assert(sq.filter(col("adist2") < 0).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("q_id"), col("neighbor_id"))
        .join(bf, Seq("q_id", "neighbor_id")).count().toDouble / bf.count()
    val ivfsq8 = recall(sq)
    val adc = recall(AnnSearch.annIvfadcTopk(spark, sfDir))
    // identical lists and probes to IVFADC — the ONLY difference is
    // per-candidate fidelity: SQ8's near-exact distances (vs PQ's
    // codebook error) can only rank the probed candidates better, so
    // recall must be ≥ the IVFADC level on the same corpus
    assert(ivfsq8 >= adc,
      f"IVF+SQ8 recall $ivfsq8%.3f fell below IVFADC's $adc%.3f with identical probes")
    assert(ivfsq8 >= 0.30, f"IVF+SQ8 recall collapsed: $ivfsq8%.3f")
    sq.unpersist()
  }

  test("ann_ivfpq_residual: residual coding beats raw-vector ADC once the corpus HAS cluster structure") {
    // The published residual gain (Jégou et al.) is conditional on the
    // coarse quantizer capturing real cluster structure — false of the
    // driver's near-uniform synthetic vectors (measured 0.28 residual vs
    // 0.42 raw there; PLANS.md "Residual PQ"). This closes the
    // "recipe unproven in this repo" gap: a deterministic 8-Gaussian
    // mixture corpus (the shape real embedding corpora have) where the
    // SAME code paths, lists, probes and code budget must show
    // residual ≥ raw — the direction the paper promises.
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val dims = 64
    val centers = Array.fill(8)(Array.fill(dims)(rnd.nextGaussian()))
      .map { c => val n = math.sqrt(c.map(x => x * x).sum); c.map(x => (x / n).toFloat) }
    // per-dim sigma 0.05 → noise norm ≈ 0.4 vs inter-center distance
    // ≈ √2: clusters are separated but not trivially tight
    val rows = (0 until 500).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + 0.05f * rnd.nextGaussian().toFloat), i % 8)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-mixture").toString
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val bf = AnnSearch.annTopk(spark, dir).select(col("q_id"), col("neighbor_id")).cache()
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select(col("q_id"), col("neighbor_id"))
        .join(bf, Seq("q_id", "neighbor_id")).count().toDouble / bf.count()
    val rawRecall = recall(AnnSearch.annIvfadcTopk(spark, dir))
    val resRecall = recall(AnnSearch.annIvfpqResidual(spark, dir))
    info(f"mixture corpus: residual recall $resRecall%.3f vs raw ADC $rawRecall%.3f")
    assert(resRecall >= rawRecall,
      f"residual coding LOST recall on clustered data: $resRecall%.3f < $rawRecall%.3f")
    // and not vacuously: both tiers must actually work on this corpus
    assert(rawRecall >= 0.30, f"raw IVFADC collapsed on the mixture corpus: $rawRecall%.3f")
    assert(resRecall >= 0.50, f"residual recall below the structured-data bar: $resRecall%.3f")
    bf.unpersist()
  }

  test("ann_sq8_topk: near-exact recall — the 8x-compression tier above PQ's 32x") {
    val sq = AnnSearch.annSq8Topk(spark, sfDir).cache()
    assert(sq.groupBy("q_id").count().agg(max("count")).head().getLong(0) <= 5)
    assert(sq.filter(col("adist2") < 0).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    val hit = sq.select(col("q_id"), col("neighbor_id"))
      .join(bf, Seq("q_id", "neighbor_id")).count()
    val recall = hit.toDouble / bf.count()
    // 8 bits per dimension quantizes each coordinate to ~0.4% of its
    // range: the distance perturbation is far below typical neighbor
    // gaps, so recall should be NEAR-EXACT (measured 0.97+) — the
    // quality/compression point that justifies trying SQ8 before PQ
    assert(recall >= 0.90, f"SQ8 recall below the near-exact tier: $recall%.3f")
    sq.unpersist()
  }

  test("ann_bq_topk: 1-bit codes, hamming consistent with signs, measurable recall") {
    val bq = AnnSearch.annBqTopk(spark, sfDir).cache()
    assert(bq.groupBy("q_id").count().agg(max("count")).head().getLong(0) <= 5)
    assert(bq.filter(col("hamming") < 0 || col("hamming") > 64).count() == 0)
    // est_cosine is the sign-estimator cos(pi*h/64): monotone in hamming
    assert(bq.filter(col("est_cosine") < -1.0 || col("est_cosine") > 1.0).count() == 0)
    val bf = AnnSearch.annTopk(spark, sfDir).select(col("q_id"), col("neighbor_id"))
    val hit = bq.select(col("q_id"), col("neighbor_id"))
      .join(bf, Seq("q_id", "neighbor_id")).count()
    val recall = hit.toDouble / bf.count()
    // 64 sign bits ~ E[h] = 64*theta/pi: a coarse but genuinely
    // informative estimator — the 256x-compression scan tier vector
    // stores run before any refinement; same 0.30 working floor as
    // the other approximate indexes
    assert(recall >= 0.30, f"BQ recall collapsed: $recall%.3f")
    bq.unpersist()
  }

  test("ann_rrf_fusion: bounded per-query output, rrf arithmetic consistent, both legs contribute") {
    val df = AnnSearch.annRrfFusion(spark, sfDir).cache()
    // ≤ 5 fused results per query, ranks 1..5 without gaps
    val perQ = df.groupBy("q_id").agg(count(lit(1)).as("n"), max("rank").as("mx"))
    assert(perQ.filter(col("n") =!= col("mx")).count() == 0)
    assert(df.filter(col("rank") > 5).count() == 0)
    // rrf = sum of the reciprocal terms that exist
    val bad = df.filter(abs(col("rrf") -
      (coalesce(lit(1.0) / (col("vec_rank") + 60), lit(0.0)) +
        coalesce(lit(1.0) / (col("lex_rank") + 60), lit(0.0)))) > 1e-6)
    assert(bad.count() == 0)
    // a candidate ranked by BOTH legs outranks one ranked by a single
    // leg at the same per-leg positions — double evidence must fuse
    // higher than either single term alone
    assert(df.filter(col("vec_rank").isNotNull && col("lex_rank").isNotNull)
      .count() > 0, "fusion never saw agreement between the legs")
    // ranks within each leg are ≤ the candidate depth
    assert(df.filter(col("vec_rank") > 10 || col("lex_rank") > 10).count() == 0)
  }

  test("kmeans training: total assignment, bounded K, deterministic, cost improves") {
    val a = AnnSearch.annKmeansTrain(spark, sfDir).cache()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(a.count() == n)
    assert(a.select("cluster").distinct().count() <= 8)
    assert(a.filter(col("dist2") < -1e-6).count() == 0)
    assert(a.exceptAll(AnnSearch.annKmeansTrain(spark, sfDir)).count() == 0)
    a.unpersist()
  }


  test("lsh sensitivity: full grid, exact endpoints, S-curve dominance, observed mass present") {
    val t = Dedup.dedupLshSensitivity(spark, sfDir).cache()
    val rows = t.orderBy(col("n_match")).collect()
    assert(rows.length == 17, s"grid not complete: ${rows.length}")
    // endpoints are exact: s=0 detects nothing, s=1 always detects
    val p = (r: org.apache.spark.sql.Row) => (3 to 6).map(r.getDouble)
    assert(p(rows.head).forall(_ == 0.0) && p(rows.last).forall(_ == 1.0))
    // fewer rows per band dominates at every similarity (provable:
    // (1-s)^2 <= 1-s^2), and each curve is nondecreasing in s
    rows.foreach { r =>
      val Seq(p1, p2, p4, p8) = p(r)
      assert(p1 >= p2 && p2 >= p4 && p4 >= p8, s"dominance broken at $r")
    }
    (3 to 6).foreach { c =>
      val curve = rows.map(_.getDouble(c))
      assert(curve.zip(curve.tail).forall { case (x, y) => y >= x },
        s"column $c not monotone")
    }
    // banded candidates exist on this corpus and every one agrees on
    // at least the 2 components of its shared band
    assert(rows.map(_.getLong(2)).sum > 0, "no observed candidate mass")
    assert(rows.take(2).forall(_.getLong(2) == 0L),
      "candidate with <2 agreeing components is impossible under 2-hash bands")
    t.unpersist()
  }

  test("angular lsh sensitivity: full grid, endpoints, dominance, bucket-share floor") {
    val t = AnnSearch.annLshSensitivity(spark, sfDir).cache()
    val rows = t.orderBy(col("n_agree")).collect()
    assert(rows.length == 17)
    val p = (r: org.apache.spark.sql.Row) => (6 to 9).map(r.getDouble)
    assert(p(rows.head).forall(_ == 0.0) && p(rows.last).forall(_ == 1.0))
    rows.foreach { r =>
      val Seq(p1, p2, p4, p8) = p(r)
      assert(p1 >= p2 && p2 >= p4 && p4 >= p8, s"dominance broken at $r")
    }
    // a candidate shares a whole 4-bit table bucket, so fewer than 4
    // agreeing plane bits is impossible
    assert(rows.take(4).forall(_.getLong(3) == 0L),
      "candidate with <4 agreeing table-plane bits")
    assert(rows.map(_.getLong(3)).sum > 0, "no observed candidate mass")
    // below the calibration target the audit degenerates to the exact
    // full-corpus count: mod = 1, estimate ≡ raw observed
    rows.foreach { r =>
      assert(r.getLong(5) == 1L, "corpus under target must use mod=1")
      assert(r.getLong(3) == r.getLong(4), "mod=1 estimate must be exact")
    }
    // implied angle decreases as agreement rises; endpoints exact
    assert(rows.head.getDouble(2) == 180.0 && rows.last.getDouble(2) == 0.0)
    t.unpersist()
  }

  test("angular lsh sensitivity: calibration sample preserves the grid, bounds the join, scales mass by mod^2") {
    val full = AnnSearch.annLshSensitivityAt(spark, sfDir, 1000000)
      .orderBy(col("n_agree")).collect()
    // force mod = ceil(500/125) = 4 on the 500-vector test corpus
    val samp = AnnSearch.annLshSensitivityAt(spark, sfDir, 125)
      .orderBy(col("n_agree")).collect()
    assert(samp.length == 17 && full.length == 17)
    samp.zip(full).foreach { case (s, f) =>
      // the grid and every ANALYTIC column are corpus-independent —
      // bit-equal between the sampled and full audits
      assert(s.getLong(0) == f.getLong(0))
      (Seq(1, 2) ++ (6 to 9)).foreach(c =>
        assert(s.getDouble(c) == f.getDouble(c),
          s"analytic col $c diverged at n_agree=${s.getLong(0)}"))
      assert(s.getLong(5) == 4L, "expected sample_mod=4")
      // the estimator is exactly obs × mod²
      assert(s.getLong(3) == s.getLong(4) * 16L)
    }
    // the sample genuinely shrank the observed join's input
    val obsSum = samp.map(_.getLong(4)).sum
    val fullSum = full.map(_.getLong(4)).sum
    assert(obsSum > 0, "sampled audit lost all observed mass")
    assert(obsSum < fullSum / 4,
      s"sample did not shrink the pair join ($obsSum vs $fullSum)")
    // and the scaled estimate lands in the right regime (unbiased
    // estimator; fixed corpus so this is a deterministic reading)
    val estSum = samp.map(_.getLong(3)).sum
    assert(estSum > fullSum / 4 && estSum < fullSum * 4,
      s"mass estimate off-regime: est $estSum vs full $fullSum")
  }

  test("hamming banding sensitivity: pigeonhole regions exact, decay monotone, finer bands dominate") {
    val t = Dedup.dedupSimhashSensitivity(spark, sfDir).cache()
    val rows = t.orderBy(col("hamming")).collect()
    assert(rows.length == 17)
    rows.foreach { r =>
      val h = r.getLong(0)
      val (p4, p8, p16) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      // pigeonhole: h flips cannot touch all bands when h < bands —
      // the inclusion-exclusion must COMPUTE exactly 1, not be pinned
      if (h < 4) assert(p4 == 1.0, s"4x16 not lossless at h=$h")
      if (h < 8) assert(p8 == 1.0, s"8x8 not lossless at h=$h")
      assert(p16 >= p8 && p8 >= p4, s"finer bands must dominate at $r")
      // observed mass comes from the radius-bounded banded search
      if (h > 3) assert(r.getLong(1) == 0L, s"pair beyond the radius at $r")
    }
    assert(rows.map(_.getLong(1)).sum > 0, "no observed pair mass")
    Seq(2, 3, 4).foreach { c =>
      val curve = rows.map(_.getDouble(c))
      assert(curve.zip(curve.tail).forall { case (x, y) => y <= x },
        s"column $c not non-increasing")
    }
    t.unpersist()
  }

  test("simhash pairs served == self-contained (fingerprints from the artifact table)") {
    val base = Dedup.dedupSimhashPairs(spark, sfDir)
    val served = Dedup.dedupSimhashPairsServed(spark, sfDir)
    assert(base.exceptAll(served).count() == 0)
    assert(served.exceptAll(base).count() == 0)
    assert(graft.sources.ArtifactStore.has(spark, sfDir, "simhash_fp"))
  }

  test("simhash pairs: within radius, ordered, and banding loses nothing") {
    val pairs = Dedup.dedupSimhashPairs(spark, sfDir).cache()
    assert(pairs.filter(col("hamming") > 3).count() == 0)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
    // pigeonhole completeness: the banded candidate join must find EVERY
    // pair within the radius — compare against the all-pairs ground truth
    val fp = Dedup.dedupSimhash(spark, sfDir).select("doc_id", "simhash")
    val truth = fp.select(col("doc_id").as("doc_a"), col("simhash").as("fa"))
      .crossJoin(fp.select(col("doc_id").as("doc_b"), col("simhash").as("fb")))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr("bit_count(fa ^ fb)") <= 3)
      .select("doc_a", "doc_b")
    assert(truth.exceptAll(pairs.select("doc_a", "doc_b")).count() == 0)
    assert(pairs.select("doc_a", "doc_b").exceptAll(truth).count() == 0)
    pairs.unpersist()
  }


  test("semantic dedup: pairs share a learned cluster and clear the threshold") {
    val pairs = Dedup.dedupSemantic(spark, sfDir).cache()
    assert(pairs.filter(col("cosine") < 0.35).count() == 0)
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
    // blocking consistency: both members carry the pair's cluster label
    val lab = AnnSearch.annKmeansTrain(spark, sfDir).select("vec_id", "cluster")
    val bad = pairs
      .join(lab.select(col("vec_id").as("id_a"), col("cluster").as("ca")), "id_a")
      .join(lab.select(col("vec_id").as("id_b"), col("cluster").as("cb")), "id_b")
      .filter(col("ca") =!= col("cluster") || col("cb") =!= col("cluster"))
    assert(bad.count() == 0)
    pairs.unpersist()
  }

  test("dedup_incremental: verdicts consistent, batch complete, old-vs-old never examined") {
    val df = Dedup.dedupIncremental(spark, sfDir).cache()
    // one verdict per new-batch doc, and only new-batch docs
    assert(df.filter(col("doc_id") % 4 =!= 0).count() == 0)
    val batch = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 4 === 0).count()
    assert(df.count() == batch, "one verdict per new doc")
    // drop ⇔ a verified match above threshold; admit ⇔ no match
    assert(df.filter(col("action") === "drop" &&
      (col("match_id").isNull || col("match_jaccard") < 0.5)).count() == 0)
    assert(df.filter(col("action") === "admit" && col("match_id").isNotNull)
      .count() == 0)
    // matches drawn from the index: existing docs, or EARLIER new docs
    // (arrival order = id order) — a new-batch match with id ≥ the doc
    // would mean the batch compared against later arrivals
    assert(df.filter(col("match_id").isNotNull &&
      col("match_id") % 4 === 0 && col("match_id") >= col("doc_id"))
      .count() == 0)
    df.unpersist()
  }

}
