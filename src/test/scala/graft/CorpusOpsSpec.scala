package graft

import graft.operators.{CorpusOps, TextAnalysis}
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkTestBase {

  test("every corpus op returns rows") {
    CorpusOps.queries.foreach { case (name, fn) =>
      assert(fn(spark, sfDir).count() > 0, s"$name returned no rows")
    }
  }

  test("stratified sample: english downsampled, tail languages kept whole") {
    val docs = Tables.documents(spark, sfDir).cache()
    val sample = CorpusOps.corpusSampleStratified(spark, sfDir).cache()
    val byLang = docs.groupBy("lang").count()
      .withColumnRenamed("count", "n_all")
      .join(sample.groupBy("lang").count().withColumnRenamed("count", "n_kept"),
        Seq("lang"), "left")
      .na.fill(0L, Seq("n_kept")).collect()
      .map(r => r.getAs[String]("lang") -> (r.getAs[Long]("n_all"), r.getAs[Long]("n_kept"))).toMap
    val (enAll, enKept) = byLang("en")
    assert(enKept < enAll, "english must be downsampled")
    assert(math.abs(enKept.toDouble / enAll - 0.4) < 0.15, s"en rate ${enKept.toDouble / enAll}")
    byLang.filterNot(_._1 == "en").foreach { case (lang, (all, kept)) =>
      assert(kept == all, s"$lang should be kept whole")
    }
    // membership is deterministic: rerun yields the identical sample
    assert(sample.exceptAll(CorpusOps.corpusSampleStratified(spark, sfDir)).count() == 0)
  }

  test("ppl buckets: per-language terciles, ranked by the shared bigram LM") {
    val df = CorpusOps.corpusPplBuckets(spark, sfDir).cache()
    // per language: ranks are 1..lang_docs and terciles differ by <= 1 doc
    df.groupBy("lang").agg(
      count(lit(1)).as("n"), max("ppl_rank").as("mr"),
      countDistinct("ppl_rank").as("dr"), max("lang_docs").as("ld"))
      .collect().foreach { r =>
        assert(r.getAs[Long]("n") == r.getAs[Long]("mr"))
        assert(r.getAs[Long]("n") == r.getAs[Long]("dr"))
        assert(r.getAs[Long]("n") == r.getAs[Long]("ld"))
      }
    val sizes = df.groupBy("lang", "bucket").count()
      .groupBy("lang").agg((max("count") - min("count")).as("spread"))
    assert(sizes.filter(col("spread") > 1).count() == 0)
    // bucket order is the score order: every head doc is at most as
    // perplexed as every tail doc of the same language
    val headMax = df.filter(col("bucket") === "head")
      .groupBy("lang").agg(max("cross_entropy").as("h"))
    val tailMin = df.filter(col("bucket") === "tail")
      .groupBy("lang").agg(min("cross_entropy").as("t"))
    assert(headMax.join(tailMin, Seq("lang")).filter(col("h") > col("t")).count() == 0)
    // same model as text_perplexity: scores agree doc-for-doc
    val ppl = TextAnalysis.textPerplexity(spark, sfDir)
      .select(col("doc_id"), col("cross_entropy").as("ce2"))
    assert(df.join(ppl, Seq("doc_id"))
      .filter(col("cross_entropy") =!= col("ce2")).count() == 0)
  }

  test("epoch plan: weights normalize, caps bind, deficit only past the cap") {
    val df = CorpusOps.corpusEpochPlan(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    assert(df.count() == docs.select("source").distinct().count())
    // temperature weights sum to ~1 (6-dp rounding slack per source)
    val wsum = df.agg(sum("weight")).head().getDouble(0)
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
    // the cap binds: epochs_capped == min(epochs, 4)
    assert(df.filter(col("epochs_capped") > 4.0).count() == 0)
    assert(df.filter(col("epochs") <= 4.0 &&
      col("epochs_capped") =!= col("epochs")).count() == 0)
    // deficit is nonzero exactly when the target exceeds 4 full passes
    assert(df.filter((col("deficit_tokens") > 0) =!=
      (col("target_tokens") > col("avail_tokens") * 4)).count() == 0)
    // targets track the budget: within one floor-rounding per source
    val tsum = df.agg(sum("target_tokens")).head().getLong(0)
    assert(tsum <= 60000L && tsum > 60000L - 10 * df.count(), s"targets sum to $tsum")
  }

  test("pack pairs: rank is a permutation, bins pair longest with shortest") {
    val df = CorpusOps.corpusPackPairs(spark, sfDir).cache()
    val n = Tables.documents(spark, sfDir).count()
    assert(df.count() == n)
    // pack_rank is exactly 1..n
    assert(df.select("pack_rank").distinct().count() == n)
    val mm = df.agg(min("pack_rank"), max("pack_rank")).head()
    assert(mm.getLong(0) == 1L && mm.getLong(1) == n)
    // every bin holds 1 or 2 docs; exactly ceil(n/2) bins
    val sizes = df.groupBy("bin_id").count().cache()
    assert(sizes.filter(col("count") > 2).count() == 0)
    assert(sizes.count() == (n + 1) / 2)
    // complement pairing: partner ranks sum to n+1 in every 2-doc bin
    val bad = df.groupBy("bin_id")
      .agg(sum("pack_rank").as("rs"), count(lit(1)).as("c"))
      .filter(col("c") === 2 && col("rs") =!= n + 1)
    assert(bad.count() == 0)
    // bin totals account for every token
    val tok = df.agg(sum("n_tok")).head().getLong(0)
    val binTok = df.select("bin_id", "bin_tokens").distinct()
      .agg(sum("bin_tokens")).head().getLong(0)
    assert(tok == binTok)
    // the longest doc shares its bin with the shortest
    val r1 = df.filter(col("pack_rank") === 1).select("bin_id").head().getLong(0)
    val rn = df.filter(col("pack_rank") === n).select("bin_id").head().getLong(0)
    assert(r1 == rn && r1 == 1L)
    // deterministic on rerun
    assert(CorpusOps.corpusPackPairs(spark, sfDir).exceptAll(df).count() == 0)
  }

  test("token budget: per-source cumulative totals never exceed the budget, longest first") {
    val df = CorpusOps.corpusTokenBudget(spark, sfDir).cache()
    assert(df.filter(col("cum_tokens") > 1000L).count() == 0)
    // within a source, kept docs are a prefix of the length-desc ordering:
    // every kept doc is at least as long as any dropped doc... ties aside,
    // check the weaker invariant directly: cum_tokens is consistent
    val bad = df.groupBy("source")
      .agg(sum("n_tokens").as("s"), max("cum_tokens").as("m"))
      .filter(col("s") =!= col("m"))
    assert(bad.count() == 0)
  }

  test("corpus_shuffle_export: a deterministic permutation into fixed shards, decoupled from storage order") {
    val df = CorpusOps.corpusShuffleExport(spark, sfDir).cache()
    val n = Tables.documents(spark, sfDir).count()
    assert(df.count() == n)
    // global positions are exactly 0..n-1 (a permutation, no gap/dup)
    assert(df.select("global_pos").distinct().count() == n)
    val mm = df.agg(min("global_pos"), max("global_pos")).head()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == n - 1)
    // shard arithmetic is consistent
    assert(df.filter(col("shard_id") =!= expr("global_pos DIV 64") ||
      col("pos_in_shard") =!= pmod(col("global_pos"), lit(64L))).count() == 0)
    // the shuffle actually shuffles: storage order is not preserved
    assert(df.filter(col("global_pos") =!= col("doc_id")).count() > 0)
    // and it is reproducible
    assert(CorpusOps.corpusShuffleExport(spark, sfDir).exceptAll(df).count() == 0)
  }

  test("corpus_weighted_sample: weighted reservoir favors quality, matches the window form") {
    import graft.operators.TextAnalysis
    val s = CorpusOps.corpusWeightedSample(spark, sfDir).cache()
    // bounded per group, contiguous ranks
    val perLang = s.groupBy("lang").agg(count(lit(1)).as("n"), max("sample_rank").as("mx"))
    assert(perLang.filter(col("n") =!= col("mx") || col("n") > 10).count() == 0)
    // membership equals the window-form Efraimidis-Spirakis definition
    // (k smallest exponential-race keys per language), recomputed from
    // the operator's own published weights — the bounded aggregate may
    // never change WHO wins, only how many rows reach the shuffle
    val keyed = TextAnalysis.textQuality(spark, sfDir)
      .select(col("doc_id"), col("quality_score").as("w"))
      .join(Tables.documents(spark, sfDir).select("doc_id", "lang"), "doc_id")
      .withColumn("u",
        (conv(substring(md5(concat(lit("res:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("bigint") % 1000000L + 0.5) / 1000000.0)
      .withColumn("ekey", lpad(
        round(-log(col("u")) / col("w") * 1000000, 0).cast("bigint").cast("string"),
        12, "0"))
    val expected = keyed
      .withColumn("sample_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("ekey"), col("doc_id"))).cast("int"))
      .filter(col("sample_rank") <= 10)
      .select("lang", "sample_rank", "doc_id")
    assert(s.select("lang", "sample_rank", "doc_id").exceptAll(expected).count() == 0)
    assert(expected.exceptAll(s.select("lang", "sample_rank", "doc_id")).count() == 0)
    // the weight column is the doc's own quality score, verbatim
    assert(s.join(TextAnalysis.textQuality(spark, sfDir), "doc_id")
      .filter(col("weight") =!= col("quality_score")).count() == 0)
    // deterministic
    assert(CorpusOps.corpusWeightedSample(spark, sfDir).exceptAll(s).count() == 0)
  }

  test("pii scrub: injected emails/phones are found and redacted") {
    val df = CorpusOps.corpusPiiScrub(spark, sfDir).cache()
    val injected = df.filter(col("doc_id") % 7 === 0)
    assert(injected.filter(col("n_emails") < 1).count() == 0)
    assert(injected.filter(col("n_phones") < 1).count() == 0)
    val clean = df.filter(col("doc_id") % 7 =!= 0)
    assert(clean.filter(col("n_emails") > 0).count() == 0)
  }

  test("corpus_curate_e2e: one corpus shuffle, broadcast-only joins, gates composed correctly") {
    // plan audit BEFORE any execution/caching: the pre-AQE plan carries
    // exactly one copy of each exchange
    spark.catalog.clearCache()
    val plan = graft.operators.Pipeline.corpusCurate(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the corpus is never shuffle-joined: every join is broadcast
    // (decon id set + bench grams are tiny by design)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus got shuffle-joined:\n$plan")
    // hash exchanges: dedup window (corpus) + the two small distinct
    // sets on the decon side — never more
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges <= 3, s"$hashExchanges hash exchanges:\n$plan")
    val df = graft.operators.Pipeline.corpusCurate(spark, sfDir).cache()
    assert(df.count() > 0)
    // gates compose: no benchmark docs, no contaminated docs, no PII
    // text survives, splits are valid
    assert(df.filter(col("doc_id") < 20).count() == 0)
    val contaminated = CorpusOps.corpusDecontaminate(spark, sfDir)
      .filter(col("is_contaminated")).select("doc_id")
    assert(df.join(contaminated, "doc_id").count() == 0)
    assert(df.filter(!col("split").isin("train", "val", "test")).count() == 0)
    assert(df.filter(col("doc_id") % 7 === 0 && col("n_pii") < 2).count() == 0)
  }

  test("quality gate: threshold is the corpus p25, kept docs all reach it") {
    val docs = Tables.documents(spark, sfDir)
    val gated = CorpusOps.corpusQualityGate(spark, sfDir).cache()
    // one threshold for the whole corpus, and every kept row clears it
    assert(gated.select("p25").distinct().count() == 1)
    assert(gated.filter(col("quality_score") < col("p25")).count() == 0)
    // the gate keeps roughly the top three quartiles (ties can only ADD
    // rows at the boundary, never remove)
    val frac = gated.count().toDouble / docs.count()
    assert(frac >= 0.75 && frac < 0.90, s"kept fraction $frac")
    // dropped docs all score strictly below the threshold
    val thr = gated.select("p25").head().getDouble(0)
    val dropped = docs.join(gated.select("doc_id"), Seq("doc_id"), "left_anti")
    val scored = graft.operators.TextAnalysis.textQuality(spark, sfDir)
      .select(col("doc_id"), col("quality_score"))
    assert(dropped.join(scored, "doc_id").filter(col("quality_score") >= thr).count() == 0)
    gated.unpersist()
  }

  test("decontamination: benchmark docs' near-copies are flagged, benchmark excluded") {
    val df = CorpusOps.corpusDecontaminate(spark, sfDir).cache()
    assert(df.filter(col("doc_id") < 20).count() == 0)
    assert(df.count() == Tables.documents(spark, sfDir).filter(col("doc_id") >= 20).count())
    // exact duplicates of benchmark docs (same content hash) must be flagged
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
    val benchHashes = docs.filter(col("doc_id") < 20).select("h").distinct()
    val dupOfBench = docs.filter(col("doc_id") >= 20).join(benchHashes, "h").select("doc_id")
    val missed = dupOfBench.join(df.filter(!col("is_contaminated")), "doc_id")
    assert(missed.count() == 0)
  }

  test("bloom decontamination: bit-identical to exact, bloom inside the plan, prefilter prunes") {
    val exact = CorpusOps.corpusDecontaminate(spark, sfDir)
    val bloom = CorpusOps.corpusDecontaminateBloom(spark, sfDir)
    assert(bloom.exceptAll(exact).count() == 0)
    assert(exact.exceptAll(bloom).count() == 0)
    // the sketch pair is actually in the plan: the aggregate builds it
    // in a subquery, the scan-side filter probes it (formatted explain
    // is the mode that renders subquery plans)
    val plan = bloom.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("bloom_agg") || plan.contains("bloom_filter_agg") ||
      plan.contains("BloomFilterAggregate"),
      "bloom aggregate missing from plan")
    assert(plan.contains("might_contain") || plan.contains("bloom_contains"),
      "bloom probe missing from plan")
    // and it prunes: candidates surviving the bloom are a strict subset
    // of the corpus gram stream (non-contaminated grams dominate)
    val docs = Tables.documents(spark, sfDir)
    val corpusGrams = CorpusOps.grams(docs.filter(col("doc_id") >= 20), CorpusOps.ContamN)
    val bench = CorpusOps.grams(docs.filter(col("doc_id") < 20), CorpusOps.ContamN)
      .select(col("gram")).distinct()
    val bloomCol = bench
      .agg(call_function("bloom_agg", xxhash64(col("gram")), lit(100000L)).as("bf"))
      .scalar()
    val kept = corpusGrams
      .filter(call_function("bloom_contains", bloomCol, xxhash64(col("gram")))).count()
    val total = corpusGrams.count()
    assert(kept < total / 2,
      s"bloom prefilter kept $kept of $total grams - not pruning")
  }

  test("mix rebalance: weights normalize, budget respected, tail upweighted") {
    val df = CorpusOps.corpusMixRebalance(spark, sfDir).cache()
    val wsum = df.agg(sum("weight")).head().getDouble(0)
    assert(math.abs(wsum - 1.0) < 1e-3)
    assert(df.agg(sum("target_docs")).head().getLong(0) <= 300)
    assert(df.filter(col("sample_rate") <= 0 || col("sample_rate") > 1).count() == 0)
    // alpha = 0.5 flattens the mixture: the rarest language's weight must
    // exceed its raw corpus share, the most common one's must fall below
    val total = df.agg(sum("n_docs")).head().getLong(0).toDouble
    val rows = df.orderBy(col("n_docs")).collect()
    assert(rows.head.getAs[Double]("weight") > rows.head.getAs[Long]("n_docs") / total)
    assert(rows.last.getAs[Double]("weight") < rows.last.getAs[Long]("n_docs") / total)
    df.unpersist()
  }

  test("model quality: verdict equals the margin sign, scores are calibrated probabilities") {
    val df = CorpusOps.corpusModelQuality(spark, sfDir).cache()
    // sigmoid range and monotone consistency with the margin
    assert(df.filter(col("model_score") <= 0 || col("model_score") >= 1).count() == 0)
    assert(df.filter((col("margin") > 0) && col("model_score") < 0.5).count() == 0)
    assert(df.filter((col("margin") < 0) && col("model_score") > 0.5).count() == 0)
    // the cut is the exact integer margin sign (never the rounded score)
    assert(df.filter(col("is_kept") =!= (col("margin") >= 0)).count() == 0)
    // hash-derived weights are zero-mean: the filter must not collapse
    // to keep-everything or drop-everything
    val kept = df.filter(col("is_kept")).count()
    assert(kept > 0 && kept < df.count())
    df.unpersist()
  }

  test("zipf profile: hand-computed 2-type slope of exactly -1, corpus invariants hold") {
    import spark.implicits._
    // corpus "a a b": ranks (a=1, f=2), (b=2, f=1) -> fit through
    // (ln 1, ln 2) and (ln 2, ln 1) = (0, ln2), (ln2, 0): slope -1
    val tiny = Seq("a a b").toDF("text")
    val t = graft.operators.TextAnalysis.zipfProfileOver(tiny).head()
    assert(t.getLong(0) == 2 && t.getLong(1) == 3 && t.getLong(2) == 1)
    assert(t.getDouble(3) == 0.5)
    assert(t.getDouble(4) == -1.0, s"slope ${t.getDouble(4)}")
    // corpus invariants: freq non-increasing in rank forces slope <= 0
    val c = graft.operators.TextAnalysis.textZipfProfile(spark, sfDir).head()
    assert(c.getLong(1) >= c.getLong(0))       // tokens >= types
    assert(c.getLong(2) <= c.getLong(0))       // hapax <= types
    assert(c.getDouble(4) <= 0.0, s"corpus slope ${c.getDouble(4)}")
  }

  test("length buckets: integer-exact bin edges, waste bounded by one bin width") {
    val b = graft.operators.CorpusOps.corpusLengthBuckets(spark, sfDir).cache()
    assert(b.count() > 0)
    assert(b.filter(col("bucket_len") % 64 =!= 0).count() == 0)
    // every doc's tokens fit its bin: sum <= padded, and per-doc padding
    // is < 64 so waste_frac < 64 * n_docs / padded
    assert(b.filter(col("sum_tokens") > col("padded_tokens")).count() == 0)
    assert(b.filter(col("waste_frac") < 0 || col("waste_frac") >= 1).count() == 0)
    assert(b.filter(col("sum_tokens") <= col("padded_tokens") - lit(64L) * col("n_docs"))
      .count() == 0, "a doc was binned above its minimal bin")
    // bucket populations cover the corpus exactly once
    val total = b.agg(sum("n_docs")).head().getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
    b.unpersist()
  }

  test("repeated spans: exact-duplicate docs are 100% repeated, fractions consistent") {
    val r = graft.operators.TextAnalysis.textRepeatedSpans(spark, sfDir).cache()
    assert(r.count() > 0)
    assert(r.filter(col("n_repeated") > col("n_spans")).count() == 0)
    assert(r.filter(col("repeated_frac") < 0 || col("repeated_frac") > 1).count() == 0)
    r.unpersist()
    // planted semantics: doc 2 quotes doc 1's middle sentence verbatim
    // — exactly those span positions (and only those) are repeated; the
    // identical twins 3/4 are 100% repeated; the unrelated doc 5 is 0%
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon" // 5 tokens = 1 span
    val planted = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"seven eight nine ten $shared eleven"),
      (3L, "same text in both places here now"),
      (4L, "same text in both places here now"),
      (5L, "nothing here repeats anywhere at all ever")
    ).toDF("doc_id", "text")
    val p = graft.operators.TextAnalysis.repeatedSpansOver(planted).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    // doc 1 has 11 tokens -> 7 spans, doc 2 has 10 -> 6; in each,
    // exactly ONE span (the quoted sentence at its position) is
    // cross-doc — the flanking windows differ
    assert(p(1L) == ((7L, 1L, 0.142857)), s"doc1 ${p(1L)}")
    assert(p(2L) == ((6L, 1L, 0.166667)), s"doc2 ${p(2L)}")
    assert(p(3L)._3 == 1.0 && p(4L)._3 == 1.0, "identical twins not 100% repeated")
    assert(p(5L)._2 == 0L && p(5L)._3 == 0.0, "unrelated doc marked repeated")
  }


  test("exact spans: maximal cross-doc spans at their true offsets; df cap excludes boilerplate") {
    val full = graft.operators.TextAnalysis.dedupExactSpans(spark, sfDir).cache()
    // the corpus has planted duplicates (winnow_pairs finds them), so
    // the extraction must surface real spans, every one >= the gram
    // width, on ordered pairs
    assert(full.count() > 0, "no spans extracted from the corpus")
    assert(full.filter(col("span_len") < 5).count() == 0)
    assert(full.filter(col("doc_a") >= col("doc_b")).count() == 0)
    full.unpersist()

    import spark.implicits._
    // doc 1 shares an 8-token run with doc 2 (different offsets) and a
    // separate 5-token run with doc 3; a 5-token boilerplate phrase in
    // 60 docs sits over the df cap and must produce NO pairs
    val shared8 = "s1 s2 s3 s4 s5 s6 s7 s8"
    val shared5 = "u1 u2 u3 u4 u5"
    val boiler = "c1 c2 c3 c4 c5"
    val planted = (Seq(
      (1L, s"a1 a2 $shared8 $shared5"),
      (2L, s"b1 $shared8 b2 b3"),
      (3L, s"d1 d2 d3 $shared5 d4")
    ) ++ (10L until 70L).map(i => (i, s"x$i $boiler y$i"))).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.exactSpansOver(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // ONE maximal span per sharing pair — gram hits merged along the
    // diagonal, not reported gram-by-gram — at the true token offsets
    assert(rows.toSet == Set(
      (1L, 2L, 3L, 2L, 8L),  // shared8: doc1 pos 3 (after a1 a2), doc2 pos 2
      (1L, 3L, 11L, 4L, 5L)  // shared5: doc1 pos 11, doc3 pos 4
    ), s"got ${rows.mkString(", ")}")
  }

  test("span strip: doc_b occurrences cut, lowest-id copy survives, over-cap phrases untouched") {
    val out = graft.operators.TextAnalysis.dedupSpanStrip(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    // one row per doc, counts consistent, and the corpus's planted
    // duplicates mean something was actually removed
    assert(out.count() == docs.count())
    assert(out.filter(col("n_removed") > col("n_tokens")).count() == 0)
    assert(out.agg(sum("n_removed")).head().getLong(0) > 0, "nothing stripped")
    // surviving token count == clean stream length
    assert(out.filter(col("clean_text").isNotNull)
      .filter(size(split(col("clean_text"), " ")) =!=
        col("n_tokens") - col("n_removed")).count() == 0)
    out.unpersist()

    import spark.implicits._
    // same plant as the extraction spec: doc 2 loses the 8-run to doc
    // 1, doc 3 loses the 5-run, doc 1 keeps both copies; the over-cap
    // boilerplate phrase in 60 docs is not a span and stays put
    val shared8 = "s1 s2 s3 s4 s5 s6 s7 s8"
    val shared5 = "u1 u2 u3 u4 u5"
    val boiler = "c1 c2 c3 c4 c5"
    val planted = (Seq(
      (1L, s"a1 a2 $shared8 $shared5"),
      (2L, s"b1 $shared8 b2 b3"),
      (3L, s"d1 d2 d3 $shared5 d4")
    ) ++ (10L until 70L).map(i => (i, s"x$i $boiler y$i"))).toDF("doc_id", "text")
    val rows = graft.operators.TextAnalysis.spanStripOver(planted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rows(1L) == ((15L, 0L, s"a1 a2 $shared8 $shared5")), s"doc1 ${rows(1L)}")
    assert(rows(2L) == ((11L, 8L, "b1 b2 b3")), s"doc2 ${rows(2L)}")
    assert(rows(3L) == ((9L, 5L, "d1 d2 d3 d4")), s"doc3 ${rows(3L)}")
    assert((10L until 70L).forall(i => rows(i)._2 == 0L),
      "over-cap boilerplate was stripped")
  }

  test("exact spans served == self-contained (grams from the artifact table)") {
    val base = graft.operators.TextAnalysis.dedupExactSpans(spark, sfDir)
    val served = graft.operators.TextAnalysis.dedupExactSpansServed(spark, sfDir)
    assert(base.exceptAll(served).count() == 0)
    assert(served.exceptAll(base).count() == 0)
    assert(graft.sources.ArtifactStore.has(spark, sfDir, "span_grams"))
    val sBase = graft.operators.TextAnalysis.dedupSpanStrip(spark, sfDir)
    val sServed = graft.operators.TextAnalysis.dedupSpanStripServed(spark, sfDir)
    assert(sBase.exceptAll(sServed).count() == 0)
    assert(sServed.exceptAll(sBase).count() == 0)
  }

  test("boilerplate strip: templated spans cut, clean text reassembled in order") {
    val out = CorpusOps.corpusBoilerplateStrip(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    // total: one row per doc, counts consistent
    assert(out.count() == docs.count())
    assert(out.filter(col("n_removed") > col("n_chunks")).count() == 0)
    // something was actually removed on this corpus (repeated spans exist)
    assert(out.agg(sum("n_removed")).head().getLong(0) > 0, "nothing stripped")
    // untouched docs keep their exact chunked text: rejoining the clean
    // text of a zero-removal doc must reproduce its whitespace-normal
    // word stream
    val zero = out.filter(col("n_removed") === 0)
      .join(docs, Seq("doc_id"))
      .withColumn("orig_norm", concat_ws(" ", split(trim(col("text")), "\\s+")))
    assert(zero.filter(col("clean_text") =!= col("orig_norm")).count() == 0,
      "zero-removal doc text not reproduced")
    // removed chunks are exactly the cross-doc repeated ones: a planted
    // template across three docs of one source disappears from each,
    // the unique tails survive
    import spark.implicits._
    val planted = Seq(
      (1L, "srcA", "legal footer terms apply here alpha beta gamma delta epsilon"),
      (2L, "srcA", "legal footer terms apply here one two three four five"),
      (3L, "srcA", "legal footer terms apply here six seven eight nine ten"),
      (4L, "srcB", "legal footer terms apply here lone copy in other source"))
      .toDF("doc_id", "source", "text")
    val got = CorpusOps.stripOver(planted).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), Option(r.getString(4))))).toMap
    // the shared 5-word prefix chunk is boilerplate in srcA (df=3)...
    assert(got(1L) == ((1L, Some("alpha beta gamma delta epsilon"))), s"${got(1L)}")
    assert(got(2L) == ((1L, Some("one two three four five"))), s"${got(2L)}")
    assert(got(3L) == ((1L, Some("six seven eight nine ten"))), s"${got(3L)}")
    // ...but NOT in srcB (df=1 there): source-blocked, not global
    assert(got(4L) == ((0L, Some("legal footer terms apply here lone copy in other source"))),
      s"${got(4L)}")
    out.unpersist()
  }


  test("quality logreg: distilled gate agrees with its teacher well above chance") {
    val out = CorpusOps.corpusQualityLogreg(spark, sfDir).cache()
    val docs = Tables.documents(spark, sfDir)
    assert(out.count() == docs.count())
    // probabilities are probabilities; pred is the 0.5 cut of p6
    assert(out.filter(col("p6") < 0 || col("p6") > 1).count() == 0)
    assert(out.filter((col("p6") >= 0.5) =!= (col("pred") === 1)).count() == 0)
    // labels are the gate decision: every gate survivor is labeled 1
    val gate = CorpusOps.corpusQualityGate(spark, sfDir).select("doc_id")
    assert(out.join(gate, "doc_id").filter(col("label") =!= 1).count() == 0)
    assert(out.join(gate, Seq("doc_id"), "left_anti").filter(col("label") =!= 0).count() == 0)
    // the distilled model tracks its teacher: the gate decision is
    // exactly linear in the standardized signals (the score is a
    // sigmoid of them), so GD must clear the all-one-class floor by a
    // real margin, not just match the majority share
    val acc = out.agg(avg(col("correct").cast("double"))).head().getDouble(0)
    val maj = out.agg(avg(col("label").cast("double"))).head().getDouble(0)
    val floor = math.max(maj, 1 - maj) + 0.05
    assert(acc >= floor, f"accuracy $acc%.3f not above majority floor $floor%.3f")
    // and it actually separates: both classes appear in predictions
    assert(out.select("pred").distinct().count() == 2, "degenerate single-class model")
    out.unpersist()
  }

  test("quality logreg and calibration over an empty corpus: zero rows, normal schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_corpus").toFile
    dir.deleteOnExit()
    Tables.documents(spark, sfDir).limit(0)
      .write.parquet(s"${dir.getAbsolutePath}/documents.parquet")
    Seq(CorpusOps.corpusQualityLogreg _, CorpusOps.corpusQualityCalibration _).foreach { fn =>
      val empty = fn(spark, dir.getAbsolutePath)
      assert(empty.schema == fn(spark, sfDir).schema)
      assert(empty.count() == 0)
    }
  }

  test("quality calibration: buckets tile the corpus, per-bucket stats re-derive from the scores") {
    val cal = CorpusOps.corpusQualityCalibration(spark, sfDir).cache()
    assert(cal.filter(col("bucket") < 0 || col("bucket") > 9).count() == 0)
    val scored = CorpusOps.corpusQualityLogreg(spark, sfDir)
      .select(col("label"), col("p6")).cache()
    assert(cal.agg(sum(col("n_docs"))).head().getLong(0) == scored.count())
    // re-derive one bucket's stats directly
    val row = cal.orderBy(col("n_docs").desc).limit(1).collect().head
    val (b, n, avgP, rate) = (row.getInt(0), row.getLong(1), row.getDouble(2), row.getDouble(3))
    val in = scored.filter(least(floor(col("p6") * 10).cast("int"), lit(9)) === b).cache()
    assert(in.count() == n)
    val directRate = in.agg(avg(col("label").cast("double"))).head().getDouble(0)
    assert(math.abs(rate - directRate) < 1e-6)
    val directAvg = in.agg(avg(col("p6"))).head().getDouble(0)
    assert(math.abs(avgP - directAvg) < 1e-5)
    // gap column is consistent and calibration is not absurd in the
    // heaviest bucket (the gate was trained on these very labels)
    assert(math.abs(row.getDouble(4) - math.abs(avgP - rate)) < 1e-6)
    in.unpersist(); scored.unpersist(); cal.unpersist()
  }

}
