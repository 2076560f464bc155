package graft

import graft.operators.{Events, GraphOps, TextAnalysis}
import org.apache.spark.sql.functions._

/** Semantics of the round-4 operators: PageRank/triangles over pair
  * graphs, winnowing fingerprints, and interval-join attribution.
  */
class GraphOpsSpec extends SparkTestBase {

  import spark.implicits._

  test("pagerank on a star graph: hand-computed 3-iteration values") {
    // S3: center 0, leaves 1..3. Degrees: d(0)=3, d(leaf)=1.
    // r0 = 1/4 each; three exact iterations by hand give
    // center 0.6208125, leaf 0.12639583... (see assertions).
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r = GraphOps.pagerankOf(star).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // tolerance, not rounded equality: the center's exact value
    // 0.6208125 sits ON a 6-dp rounding boundary, so the last-ulp
    // float error decides the rounded digit
    assert(math.abs(r(0L) - 0.6208125) < 2e-6)
    Seq(1L, 2L, 3L).foreach(l => assert(math.abs(r(l) - 0.12639583) < 2e-6))
  }

  test("pagerank re-rounds ranks every iteration, not only at the end") {
    // P3 path 1-2-3 distinguishes the two semantics at the 6th decimal:
    // per-iteration rounding -> center 0.580541; rounding only at the
    // end -> 0.580542 (exact iter-3 center = 0.05 + 0.85*2*r1 where
    // unrounded r1 = 0.31208333... vs rounded r1 = 0.312083). The
    // oracle CTE rounds every round, so the Spark loop must too — this
    // pins the cross-engine re-convergence contract (VERDICT r5 #3).
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = GraphOps.pagerankOf(path).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(2L) == 0.580541, s"center ${r(2L)}: per-iteration rounding regressed")
    assert(r(1L) == 0.209729 && r(3L) == 0.209729)
    // every emitted rank is an exact 6-dp value (no unrounded tail)
    r.values.foreach(v => assert((v * 1e6).round / 1e6 == v, s"unrounded rank $v"))
  }

  test("equi-height edges interpolate over PRE-rounded values") {
    // raw median of [2.0000001, 2.0000007] is 2.0000004 -> rounds DOWN
    // to 2.000000; the contract interpolates over round(value, 6) =
    // [2.000000, 2.000001], median 2.0000005 -> rounds UP to 2.000001.
    // The oracle uses quantile_cont(round(value, 6), ...), so a
    // regression to raw-value interpolation here would flip the edge
    // and cost a parity round on boundary data (VERDICT r5 #4).
    val ev = Seq(("x", 1.0), ("x", 2.0000001), ("x", 2.0000007), ("x", 3.0))
      .toDF("event_type", "value")
    // bucket 1 is (e1, e2]: with e2 = 2.000001 BOTH noise values land in
    // bucket 1 — under the raw-median semantics e2 = 2.000000 would push
    // both to bucket 2
    val h = Events.equiheightOf(ev).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(h.getOrElse(1, 0L) == 2L,
      s"bucket populations $h: median edge not computed over pre-rounded values")
  }

  test("pagerank preserves unit rank mass") {
    val g = GraphOps.graphPagerank(spark, sfDir)
    val total = g.agg(sum(col("pagerank"))).head().getDouble(0)
    val n = g.count()
    // each node's value is rounded to 6dp, so tolerance scales with n
    assert(math.abs(total - 1.0) <= 1e-6 * n + 1e-9, s"mass $total over $n nodes")
  }

  test("triangles on K4: four triangles, every node in three, clustering 1") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val t = GraphOps.trianglesOf(k4).collect()
    assert(t.length == 4)
    assert(t.forall(r => r.getLong(1) == 3 && r.getLong(2) == 3 && r.getDouble(3) == 1.0))
  }

  test("a path graph has no triangles and zero clustering") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val t = GraphOps.trianglesOf(path).collect()
    assert(t.forall(r => r.getLong(2) == 0))
    assert(t.forall(r => r.getDouble(3) == 0.0))
  }

  test("degree orientation: star+triangle counts match, hub keeps one wedge") {
    // hub 0 (degree 10, HIGHEST id-order but highest degree) with leaves
    // 1..10, plus edge (1,2) closing triangle {0,1,2}: under degree
    // orientation the hub is every edge's HEAD, so its out-degree is 0
    // — the Σ outdeg² hot task the key orientation would create (hub
    // out-degree 10) provably cannot exist
    val star = ((1L to 10L).map(l => (0L, l)) :+ (1L, 2L)).toDF("a", "b")
    val t = GraphOps.trianglesOf(star).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(t(0L) == (10L, 1L))
    assert(t(1L) == (2L, 1L) && t(2L) == (2L, 1L))
    (3L to 10L).foreach(l => assert(t(l) == (1L, 0L)))
  }

  test("degree orientation matches a brute-force triangle count on a pseudo-random graph") {
    // deterministic Erdős–Rényi-ish graph on 30 nodes
    val edges = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L
      if (a * 31 + b * 17 + a * b) % 5 == 0
    } yield (a, b)).toSeq
    val adj = edges.toSet
    val expected = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L; c <- (b + 1) until 30L
      if adj((a, b)) && adj((b, c)) && adj((a, c))
    } yield Seq(a, b, c)).flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = GraphOps.trianglesOf(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    got.foreach { case (node, n) => assert(n == expected.getOrElse(node, 0L), s"node $node") }
    assert(expected.keySet.subsetOf(got.keySet))
  }

  test("label propagation: disjoint triangles converge to one community each") {
    import spark.implicits._
    // two disjoint triangles; sync LPA with min tie-break converges both
    // to label 1 / label 10 within two rounds (hand-traced)
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    val lp = GraphOps.labelPropagationOf(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    for (n <- Seq(1L, 2L, 3L)) assert(lp(n) == ((1L, 3L)), s"node $n: ${lp(n)}")
    for (n <- Seq(10L, 11L, 12L)) assert(lp(n) == ((10L, 3L)), s"node $n: ${lp(n)}")
  }

  test("modularity: two disjoint triangles score Q = 0.25 + 0.25") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("a", "b")
    // m = 6; each community: intra 3, degree sum 6
    // q = 3/6 - (6/12)^2 = 0.25
    val q = GraphOps.modularityOf(pairs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(q.keySet == Set(1L, 10L))
    assert(q(1L) == ((3L, 6L, 250000L, 0.25)) &&
      q(10L) == ((3L, 6L, 250000L, 0.25)), s"$q")
    // negative contribution exercises the bigint `div` truncation path
    // (toward zero in both Spark and DuckDB): K2 + K3 under LPA gives
    // the K2 community intra=1, deg=2, m=4 → 1/4 − (2/8)² = 0.1875
    // and K3 intra=3, deg=6, m=4 → 3/4 − (6/8)² = 0.1875; rig a
    // negative one instead via a star whose leaves defect: a path
    // 1-2-3 has LPA communities that can leave a cut edge with
    // intra=0, deg>0 → strictly negative q_ppm
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val qp = GraphOps.modularityOf(path).collect()
    qp.foreach { r =>
      val ppm = r.getLong(3)
      assert(r.getDouble(4) == ppm.toDouble / 1e6,
        s"q_contrib must derive exactly from q_ppm: $r")
    }
    // and the corpus partition has positive modularity (real structure)
    val corpus = GraphOps.graphModularity(spark, sfDir)
    val total = corpus.agg(sum("q_contrib")).head().getDouble(0)
    assert(total > 0.0, s"corpus modularity $total not positive")
  }

  test("label propagation invariants on the mutual-kNN price graph") {
    val lp = GraphOps.graphLabelPropagation(spark, sfDir).cache()
    // one row per graph node
    val nodes = GraphOps.knnEdges(spark, sfDir)
      .select(col("a").as("n")).union(
        GraphOps.knnEdges(spark, sfDir).select(col("b").as("n")))
      .distinct().count()
    assert(lp.count() == nodes)
    // community sizes are consistent with the labelling itself
    val sizes = lp.groupBy("community").count()
    assert(lp.join(sizes, "community")
      .filter(col("community_size") =!= col("count")).count() == 0)
    lp.unpersist()
  }

  test("knn list strategy is signature-level: symmetric == asymmetric set, same-instance misuse fails loudly") {
    // two DISTINCT instances of the same relation: the delta's
    // same-instance guard must not fire on them
    val n1 = GraphOps.partNodes(spark, sfDir)
    val n2 = GraphOps.partNodes(spark, sfDir)
    // the maintenance form: the base lists with the batch's list delta
    // applied equal the lists over base ∪ batch
    val base = n1.filter(col("key") % 5 =!= 0)
    val delta = GraphOps.knnListDelta(base, n2.filter(col("key") % 5 === 0))
    def lists(df: org.apache.spark.sql.DataFrame) =
      df.select("u", "v", "diff").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ops = delta.select("u", "v", "diff", "op").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)) -> r.getString(3))
    val deleted = ops.collect { case ((u, v, _), "D") => (u, v) }.toSet
    val applied = lists(knnListsBrute(base))
      .filterNot { case (u, v, _) => deleted((u, v)) }.toSet ++
      ops.collect { case (row, "I") => row }
    val want = lists(knnListsBrute(n1)).toSet
    assert(deleted.nonEmpty && want.nonEmpty && applied == want)
    // one relation passed as both base and batch fails loudly
    intercept[IllegalArgumentException] { GraphOps.knnListDelta(n1, n1) }
  }

  test("kNN full build over no nodes or one node has no rows and the (u, v, diff) schema") {
    val nodes = GraphOps.partNodes(spark, sfDir)
    Seq(nodes.limit(0), nodes.orderBy("key").limit(1)).foreach { in =>
      val lists = GraphOps.knnLists(in)
      assert(lists.schema.map(f => f.name -> f.dataType.simpleString)
        == Seq("u" -> "bigint", "v" -> "bigint", "diff" -> "double"))
      assert(lists.count() == 0)
    }
  }

  test("graph_triangles invariants on the mutual-kNN price graph") {
    val t = GraphOps.graphTriangles(spark, sfDir).cache()
    assert(t.count() > 0)
    assert(t.filter(col("clustering") < 0 || col("clustering") > 1).count() == 0)
    assert(t.filter(col("n_triangles") > 0 && col("degree") < 2).count() == 0)
    // mutual kNN bounds degree at k BY CONSTRUCTION — the scale claim
    assert(t.agg(max(col("degree"))).head().getLong(0) <= 4)
    t.unpersist()
  }

  test("kcore: K4 survives whole (degree 3 everywhere), a tree peels to nothing") {
    // K4 is its own 3-core: every node keeps degree 3 at every round
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val core = GraphOps.kcoreOf(k4).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core.toSet == Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // a path (tree) has max degree 2 < k: one round empties it
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    assert(GraphOps.kcoreOf(path).count() == 0)
  }

  test("kcore: a pendant chain cascades off K4 one node per round") {
    // K4 + chain 4-5, 5-6: node 6 (deg 1) dies round 1, which drops 5
    // to deg 1 → dies round 2; node 4 keeps its 3 K4 edges. The
    // cascade is exactly why peeling needs multiple rounds.
    val g = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core = GraphOps.kcoreOf(g).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(core.toSet == Set((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("graph_kcore invariants on the mutual-kNN price graph") {
    val core = GraphOps.graphKcore(spark, sfDir).cache()
    assert(core.count() > 0)
    // the final keep-filter guarantees every emitted node carries
    // round-R degree >= k — the hard contract, no weakening needed
    assert(core.filter(col("core_degree") < 3).count() == 0)
    // the 3-core is a subgraph of the input node set
    val nodes = GraphOps.graphTriangles(spark, sfDir).select(col("node"))
    assert(core.join(nodes, "node").count() == core.count())
    core.unpersist()
  }

  test("link prediction on a square: both diagonals score cn=2, jaccard=1, AA=2/ln2") {
    // C4 cycle 1-2-3-4-1: non-edges are the diagonals (1,3) and (2,4);
    // each has both off-diagonal nodes as common neighbors, all
    // degrees 2 → jaccard 2/(2+2−2) = 1; AA = 2·1/ln 2, with each term
    // integer-scaled to 1442695 before the sum → 2.88539 exactly
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val r = GraphOps.linkPredictionOf(square).collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3), x.getDouble(4))).toMap
    assert(r.keySet == Set((1L, 3L), (2L, 4L)))
    r.values.foreach { case (cn, j, aa) =>
      assert(cn == 2L && j == 1.0 && aa == 2.88539)
    }
    // path 1-2-3: single candidate (1,3) through the deg-2 midpoint
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = GraphOps.linkPredictionOf(path).collect()
    assert(p.length == 1)
    assert(p.head.getLong(0) == 1L && p.head.getLong(1) == 3L)
    assert(p.head.getLong(2) == 1L && p.head.getDouble(3) == 1.0
      && p.head.getDouble(4) == 1.442695)
  }

  test("graph_link_prediction invariants: candidates are non-edges, jaccard bounded") {
    val lp = GraphOps.graphLinkPrediction(spark, sfDir).cache()
    assert(lp.count() > 0)
    assert(lp.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() == 0)
    assert(lp.filter(col("u") >= col("w")).count() == 0)
    // no scored pair is an existing edge
    val edges = GraphOps.knnEdges(spark, sfDir)
    assert(lp.join(edges, lp("u") === edges("a") && lp("w") === edges("b")).count() == 0)
    lp.unpersist()
  }

  test("bfs: hand-traced path distances; nodes beyond the round horizon stay absent") {
    // path 0-1-2-...-7: node 0 seeds (0 % 50 = 0); 4 rounds reach
    // distance <= 4, nodes 5..7 remain unreached
    val path = (0L until 7L).map(i => (i, i + 1)).toDF("a", "b")
    val d = GraphOps.bfsOf(path).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("bfs: multi-source takes the min over seeds, cycle relaxes from both sides") {
    // cycle 50-51-52-...-99-50... too big; use 0..5 ring with seeds 0
    // only — ring of 6: node 3 is distance 3 via either side
    val ring = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (0L, 5L)).toDF("a", "b")
    val d = GraphOps.bfsOf(ring).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L))
    // two seeds 0 and 50 joined by a path: the midpoint takes the min
    val twoSeeds = Seq((0L, 10L), (10L, 50L)).toDF("a", "b")
    val d2 = GraphOps.bfsOf(twoSeeds).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(0L -> 0L, 10L -> 1L, 50L -> 0L))
  }

  test("graph_bfs invariants on the mutual-kNN price graph") {
    val d = GraphOps.graphBfs(spark, sfDir).cache()
    assert(d.count() > 0)
    assert(d.filter(col("dist") < 0 || col("dist") > 4).count() == 0)
    // seeds are at distance 0 exactly
    assert(d.filter(col("node") % 50 === 0).filter(col("dist") =!= 0).count() == 0)
    d.unpersist()
  }

  test("winnowing guarantee: within a doc, consecutive fingerprint positions gap <= w") {
    val W = 4
    val fp = TextAnalysis.textWinnowing(spark, sfDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("fp_pos"))
    val gaps = fp.withColumn("gap", col("fp_pos") - lag(col("fp_pos"), 1).over(w))
    assert(gaps.filter(col("gap") > W).count() == 0)
    // first selection must land inside the first window
    val firsts = fp.groupBy(col("doc_id")).agg(min(col("fp_pos")).as("p0"))
    assert(firsts.filter(col("p0") > W - 1).count() == 0)
  }

  test("winnowing density is ~2/(w+1) of grams") {
    val fp = TextAnalysis.textWinnowing(spark, sfDir)
    val nFp = fp.count().toDouble
    val nGrams = Tables.documents(spark, sfDir)
      .select(greatest(size(split(lower(trim(col("text"))), "\\s+")) - 2, lit(0)).as("g"))
      .agg(sum(col("g"))).head().getLong(0).toDouble
    val density = nFp / nGrams
    assert(density > 0.25 && density < 0.55, s"density $density")
  }

  test("winnow pairs: above threshold, ordered, and backed by actual shared fingerprints") {
    val pairs = TextAnalysis.textWinnowPairs(spark, sfDir).cache()
    assert(pairs.count() > 0)
    assert(pairs.filter(col("n_shared") < 3).count() == 0)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
    // spot-check: the top pair's overlap equals a direct fingerprint
    // intersection count
    val top = pairs.orderBy(col("n_shared").desc, col("doc_a")).head()
    val fp = TextAnalysis.textWinnowing(spark, sfDir)
      .select(col("doc_id"), col("fp_hash")).distinct()
    val inter = fp.filter(col("doc_id") === top.getLong(0)).select("fp_hash")
      .intersect(fp.filter(col("doc_id") === top.getLong(1)).select("fp_hash"))
      .count()
    assert(inter == top.getLong(2), s"pair overlap ${top.getLong(2)} != direct $inter")
    pairs.unpersist()
  }

  test("snapshot diff: statuses match the modular churn predicates") {
    val d = graft.operators.EtlCleaning.snapshotDiff(spark, sfDir).cache()
    val byStatus = d.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val part = Tables.part(spark, sfDir)
    assert(byStatus.getOrElse("added", 0L) ==
      part.filter(col("p_partkey") % 89 === 0 && col("p_partkey") % 97 =!= 0).count())
    assert(byStatus.getOrElse("removed", 0L) ==
      part.filter(col("p_partkey") % 97 === 0 && col("p_partkey") % 89 =!= 0).count())
    assert(d.filter(col("status") === "added" && col("old_price").isNotNull).count() == 0)
    assert(d.filter(col("status") === "removed" && col("new_price").isNotNull).count() == 0)
    assert(d.filter(col("status") === "changed")
      .filter(col("old_price") === col("new_price")).count() == 0)
    d.unpersist()
  }

  test("resample+ffill: contiguous grid per type, no null after fill, gaps carry values") {
    val r = Events.eventsResampleFfill(spark, sfDir).cache()
    // grid completeness: rows per type == (max-min)/3600 + 1
    val spans = r.groupBy("event_type").agg(
      count(lit(1)).as("n"), min("hour_s").as("lo"), max("hour_s").as("hi"))
    assert(spans.filter(col("n") =!= (col("hi") - col("lo")) / 3600 + 1).count() == 0)
    assert(r.filter(col("filled").isNull).count() == 0)
    // every gap's filled value equals the nearest preceding observation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_s"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val obs = r.withColumn("prev_obs",
      last(when(!col("was_gap"), col("filled")), ignoreNulls = true).over(w))
    assert(obs.filter(col("was_gap") && col("filled") =!= col("prev_obs")).count() == 0)
    r.unpersist()
  }

  test("context packing: per-source stream is contiguous and context ids consistent") {
    val p = graft.operators.CorpusOps.corpusPackContexts(spark, sfDir).cache()
    assert(p.filter(col("off_in_ctx") < 0 || col("off_in_ctx") >= 256).count() == 0)
    assert(p.filter(col("ctx_last") < col("ctx_first")).count() == 0)
    // contiguity: each doc starts exactly where the previous one ended
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val gaps = p.withColumn("prev_end",
        lag(col("stream_off") + col("n_tok"), 1, 0L).over(w))
      .filter(col("stream_off") =!= col("prev_end"))
    assert(gaps.count() == 0)
    // a doc spans exactly the contexts its token span covers
    assert(p.filter(col("ctx_last") =!=
      floor((col("stream_off") + col("n_tok") - 1) / 256L)).count() == 0)
    p.unpersist()
  }

  test("promo attribution: every window's events fall inside it and users <= events") {
    val r = Events.eventsPromoAttribution(spark, sfDir).collect()
    assert(r.nonEmpty && r.length <= 5)
    r.foreach { row =>
      assert(row.getLong(1) - row.getLong(0) == 7200L) // 2-hour windows
      assert(row.getLong(3) <= row.getLong(2))         // n_users <= n_events
    }
  }
}
