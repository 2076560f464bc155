package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative / relational graph analytics over pair relations — the
  * third graph tier next to the connected-components fixpoint
  * ([[Dedup.connectedComponents]]) and the cluster audit views: fixed-
  * iteration PageRank and per-node triangle counting. In a curation
  * pipeline these run over the near-dup pair graph (rank = centrality
  * of a document inside its duplication neighborhood; triangles =
  * cluster cohesion before committing deletions). Here they are
  * exercised on the price-proximity pair graph
  * ([[CoreAnalytics.priceBandPairs]]), whose degree distribution is
  * rich enough to make the arithmetic observable — the near-dup graph
  * in the synthetic corpus is a union of tiny regular cliques, where
  * PageRank degenerates to a uniform vector.
  *
  * Both operators are pure plan work over (src, dst) relations: joins
  * and aggregations shuffling on vertex keys — nothing is collected,
  * nothing iterates on the driver.
  */
object GraphOps {

  /** Neighbors kept per node in the kNN graph. */
  private[graft] val KnnK = 4

  /** MUTUAL 4-nearest-neighbor price graph — the bounded-degree input
    * both graph operators run on. The raw band pair graph
    * ([[CoreAnalytics.priceBandPairs]]) densifies with the corpus
    * (same price range, more parts → per-band occupancy and therefore
    * node degree grow LINEARLY with data size; measured: triangle
    * counting over it cost 23.9s at sf0.1 vs 0.5s at sf0.01 — a
    * Σ deg² blow-up, the classic unscalable graph shape). kNN-graph
    * construction is the standard fix AND a standard operator in its
    * own right: per-node k nearest within the band tolerance
    * ([[knnLists]]'s band sweep) → an edge survives only if BOTH
    * endpoints chose each other (mutual kNN), which caps degree at k
    * BY CONSTRUCTION at any corpus size. Σ deg² ≤ k²·n — triangle and
    * rank costs stay linear forever.
    */
  private[graft] def knnEdges(spark: SparkSession, dir: String): DataFrame = {
    mutualEdgesOf(knnLists(partNodes(spark, dir)))
      // materialize the graph once: consumers reference the edge
      // relation 3-5 times (wedge joins, degree counts) and would
      // otherwise re-run the list build + mutual join per reference
      .localCheckpoint()
  }

  /** The node relation the kNN graph is built over: parts keyed by
    * partkey with retail price as the 1-D embedding.
    */
  private[graft] def partNodes(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.part(spark, dir)
      .select(col("p_partkey").as("key"), col("p_retailprice").as("price"))

  /** Candidate band width (same tolerance as
    * [[CoreAnalytics.priceBandPairs]] — the candidate semantics the
    * oracle CTE mirrors).
    */
  private val KnnTol = 0.5

  /** Per-node kNN adjacency lists (u, v, diff) over one node relation:
    * each node's K nearest other nodes within `KnnTol`, ranked by
    * (`round(|Δprice|, 6)`, v). The full build is the list delta of
    * every node against an empty base ([[knnListDelta]]), whose rows
    * are then all inserts: the build and the refresh are one algorithm
    * (the incremental top-k framing of EDBT 2020, solved band by band
    * as in REPOSE). A node with a null key or price has no list and
    * appears in none.
    */
  private[graft] def knnLists(nodes: DataFrame): DataFrame =
    knnListDelta(nodes.limit(0), nodes).select("u", "v", "diff")

  /** The kNN list DELTA a batch of NEW nodes makes to the lists of
    * `base`: rows (u, v, diff, op), where op "I" adds (u, v) and "D"
    * removes it. Applied to the lists of `base` it gives the lists of
    * `base ∪ batch` exactly — the maintenance form
    * [[IndexMaintenance.refreshKnn]] commits unchanged. Over an empty
    * base every row is an insert: that is the full build, [[knnLists]].
    * It never reads the maintained lists: the old list of a base node
    * is recomputed beside its new one, from the same co-located
    * candidates. Nodes with a null key or price are dropped at entry
    * (they have no band), as the oracle's join predicate drops them.
    *
    * A batch node can only enter the list of a node in its own band or
    * a neighbour band (within `KnnTol`), so the work is the bands near
    * the batch, not the corpus. The batch's band set is collected to
    * the driver once (one job): at most (price range / `KnnTol`) + 1
    * values, whatever the node count. Every base or batch node whose
    * home band lies within 2 bands of a batch band is routed, in one
    * shuffle sorted by (band, probe), as a CANDIDATE to each band
    * within 1 of its home that is a probe band (within 1 of a batch
    * band), and as a PROBE to its home band when that is a probe band:
    * the ±1 band reach of the `KnnTol` predicate. Each band is then
    * solved locally by [[sweepBands]] (candidates sort first).
    *
    * Memory per band: two price → (K+1 smallest keys) maps (base nodes
    * only, and all nodes) over the candidates of 3 bands, i.e.
    * O(distinct prices in 3 bands × (K+1)) keys; probes stream. A
    * probe's search walks outward from its own price, so it visits
    * O(K) price groups, not the band.
    */
  private[graft] def knnListDelta(base: DataFrame, batch: DataFrame): DataFrame = {
    require(!(base eq batch),
      "knnListDelta needs a batch of NEW nodes; the same relation as base adds nothing")
    val spark = batch.sparkSession
    import spark.implicits._
    val band = floor(col("price") / KnnTol).cast("long")
    def nodes(df: DataFrame, fresh: Boolean) =
      df.select(col("key").cast("long"), col("price").cast("double"),
        band.as("home"), lit(fresh).as("fresh"))
        .filter(col("key").isNotNull && col("price").isNotNull)
    val batchNodes = nodes(batch, fresh = true)
    val batchBands = batchNodes.select("home").as[Long]
      .mapPartitions(_.toSet.iterator).collect().toSet
    val probeBands = batchBands.flatMap(b => b - 1 to b + 1)
    val routed = nodes(base, fresh = false).unionByName(batchNodes)
      .filter(col("home").isin(batchBands.toSeq.flatMap(b => b - 2 to b + 2).distinct: _*))
      .as[KnnNode].rdd
      .flatMap { n =>
        val probe = if (probeBands(n.home)) Seq((n.home, true) -> n) else Nil
        (n.home - 1 to n.home + 1).filter(probeBands).map(q => (q, false) -> n) ++ probe
      }
    // the RDD shuffle runs inside the consumer's job: a DataFrame
    // repartition's map stage would be a Spark job of its own (AQE)
    val bands = new BandPartitioner(
      math.max(1, math.min(probeBands.size, spark.sessionState.conf.numShufflePartitions)))
    routed.repartitionAndSortWithinPartitions(bands).mapPartitions(sweepBands).toDS().toDF()
  }

  /** A node of the list-delta routing; `fresh` marks a batch node. */
  private[graft] case class KnnNode(key: Long, price: Double, home: Long, fresh: Boolean)

  /** Routes a (band, probe) key by its band alone, so a band's
    * candidates and probes meet in one partition.
    */
  private final class BandPartitioner(val numPartitions: Int)
      extends org.apache.spark.Partitioner {
    def getPartition(key: Any): Int =
      java.lang.Math.floorMod(key.asInstanceOf[(Long, Boolean)]._1, numPartitions.toLong).toInt
  }

  /** One [[knnListDelta]] row. */
  private[graft] case class KnnListRow(u: Long, v: Long, diff: Double, op: String)

  /** Solves each band of a partition sorted by (band, probe): the
    * band's candidates build the two collapsed maps, then each probe
    * takes its top-K from both. A batch probe emits its whole list as
    * inserts; a base probe emits new \ old as inserts and old \ new as
    * deletes, so an unchanged list emits nothing.
    */
  private def sweepBands(rows: Iterator[((Long, Boolean), KnnNode)]): Iterator[KnnListRow] = {
    var band = 0L
    var baseGroups: PriceGroups = null
    var allGroups: PriceGroups = null
    rows.flatMap { case ((q, probe), n) =>
      if (allGroups == null || q != band) {
        band = q; baseGroups = new PriceGroups; allGroups = new PriceGroups
      }
      if (!probe) {
        allGroups.add(n.price, n.key)
        if (!n.fresh) baseGroups.add(n.price, n.key)
        Nil
      } else {
        val now = allGroups.topK(n.price, n.key)
        def emit(l: Seq[(Double, Long)], op: String) =
          l.map { case (d, v) => KnnListRow(n.key, v, d, op) }
        if (n.fresh) emit(now, "I")
        else {
          val old = baseGroups.topK(n.price, n.key)
          val (nowV, oldV) = (now.map(_._2).toSet, old.map(_._2).toSet)
          emit(now.filterNot(c => oldV(c._2)), "I") ++ emit(old.filterNot(c => nowV(c._2)), "D")
        }
      }
    }
  }

  /** Spark's `round(d, 6)` on a double: HALF_UP over the shortest
    * decimal form (`BigDecimal.valueOf`), the list diff's rounding.
    */
  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Candidates collapsed by exact price to the K+1 smallest keys:
    * members of one price group are interchangeable candidates (same
    * diff to any probe) chosen by smallest key, so a probe's top-K
    * takes at most K members of a group, K+1 when the probe is one of
    * them.
    */
  private final class PriceGroups {
    private val byPrice = new java.util.TreeMap[java.lang.Double, Array[Long]]()

    def add(price: Double, key: Long): Unit = {
      val keys = byPrice.getOrDefault(price, Array.emptyLongArray)
      if (keys.length <= KnnK || key < keys(KnnK))
        byPrice.put(price, (keys :+ key).sorted.take(KnnK + 1))
    }

    /** The top-K of a probe (`self` at `p`) by (rounded diff, v), within
      * `KnnTol`. Groups are visited outward from `p`; rounding keeps
      * the visit order non-decreasing, so once K are held the walk
      * stops at the first group whose rounded diff exceeds the last.
      */
    def topK(p: Double, self: Long): Seq[(Double, Long)] = {
      import scala.jdk.CollectionConverters._
      val below = byPrice.headMap(p, true).descendingMap().entrySet().iterator().asScala.buffered
      val above = byPrice.tailMap(p, false).entrySet().iterator().asScala.buffered
      def gap(side: BufferedIterator[java.util.Map.Entry[java.lang.Double, Array[Long]]]) =
        if (side.hasNext) math.abs(p - side.head.getKey) else Double.MaxValue
      val held = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      var last = 0.0
      var more = true
      while (more) {
        val side = if (gap(below) <= gap(above)) below else above
        val d = gap(side)
        more = d <= KnnTol && (held.size < KnnK || round6(d) <= last)
        if (more) {
          last = round6(d)
          side.next().getValue.foreach(v => if (v != self) held += ((last, v)))
        }
      }
      held.sortWith((a, b) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)).take(KnnK).toSeq
    }
  }

  /** Mutual-kNN edges over any per-node adjacency list relation: an
    * edge survives only if BOTH endpoints chose each other. Split out
    * so the maintained list table ([[IndexMaintenance.knnEdges]])
    * derives edges through the identical join as the inline build.
    */
  private[graft] def mutualEdgesOf(lists: DataFrame): DataFrame =
    lists.as("k1").join(lists.as("k2"),
        col("k1.u") === col("k2.v") && col("k1.v") === col("k2.u"))
      .filter(col("k1.u") < col("k1.v"))
      .select(col("k1.u").as("a"), col("k1.v").as("b"))

  /** The same mutual-kNN edge relation as SQL CTEs ending in `edges`
    * (a < b) — shared by both oracles.
    */
  private[graft] def knnEdgesCteOver(rel: String): String =
    s"""cand AS (
       |  SELECT a.p_partkey AS u, b.p_partkey AS v,
       |    round(abs(a.p_retailprice - b.p_retailprice), 6) AS diff
       |  FROM $rel a JOIN $rel b
       |    ON a.p_partkey < b.p_partkey
       |    AND abs(a.p_retailprice - b.p_retailprice) <= 0.5),
       |sym AS (SELECT u, v, diff FROM cand UNION ALL SELECT v, u, diff FROM cand),
       |knn AS (SELECT u, v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY u ORDER BY diff, v) AS rn FROM sym)
       |  WHERE rn <= $KnnK),
       |edges AS (
       |  SELECT k1.u AS a, k1.v AS b
       |  FROM knn k1 JOIN knn k2 ON k1.u = k2.v AND k1.v = k2.u
       |  WHERE k1.u < k1.v)""".stripMargin

  private val knnEdgesCte: String = knnEdgesCteOver("part")

  /** Damping factor and its complement as separate literals: `1 - 0.85`
    * and `0.15` are DIFFERENT doubles, so both engines must use the
    * same literal form or ranks drift in the last ulp per iteration.
    */
  private[operators] val Damping = 0.85
  private[operators] val Teleport = 0.15
  private[operators] val Iters = 3

  /** Fixed-iteration PageRank (3 rounds, d=0.85) over the undirected
    * pair graph, unrolled into ONE Catalyst plan — no driver loop, no
    * checkpoint bookkeeping, because the iteration count is a constant
    * of the operator (rank-for-audit, not convergence-to-tolerance).
    * Per iteration the plan is exactly one shuffle: weighted edges join
    * the current ranks on src, partial-aggregate map-side, and reduce
    * on dst. The 1-row node count joins in via `crossJoin(broadcast)`,
    * never a driver collect. For convergence-driven rank (tens of
    * iterations) switch to the [[Dedup.connectedComponents]] pattern —
    * a driver loop with `localCheckpoint()` every few rounds to
    * truncate lineage; per-round plan shape stays identical.
    *
    * Symmetrized edges mean every node has out-degree ≥ 1, so there is
    * no dangling-mass term; each node also receives ≥ 1 contribution,
    * so the inner join after aggregation loses no nodes.
    */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(knnEdges(spark, dir))

  /** The PageRank preprocessing shared by the DataFrame form and the
    * SQL-text twin: per-node degrees, the degree-weighted adjacency
    * (src, dst, d) MATERIALIZED once (without it every unrolled
    * iteration re-plans the edge-building subtree and the static plan
    * grows an Exchange tower — 19 exchanges for 3 iterations when left
    * pure; localCheckpoint also truncates lineage, reliable
    * checkpoint() on a real cluster), and the checkpointed 1-row node
    * count that is crossJoin-broadcast into every iteration.
    */
  private[operators] def pagerankAdjacency(
      pairs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val edges = symmetricEdges(pairs)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val weighted = edges.join(deg, "src").localCheckpoint()
    val nRel = deg.agg(count(lit(1)).as("n_nodes")).localCheckpoint()
    (deg, weighted, nRel)
  }

  /** PageRank over any (a, b) pair relation with a < b — exposed for
    * specs to drive degenerate graphs (single edge, path, star).
    */
  def pagerankOf(pairs: DataFrame): DataFrame = {
    val (deg, weighted, nRel) = pagerankAdjacency(pairs)
    var ranks = deg.crossJoin(broadcast(nRel))
      .select(col("src").as("doc_id"), (lit(1.0) / col("n_nodes")).as("r"))
    for (_ <- 1 to Iters) {
      // ranks are re-rounded to 6dp EVERY iteration (both engines): the
      // per-node contribution sums accumulate in engine-specific order,
      // and without the per-round re-convergence the ulp drift compounds
      // until a value lands on a final-round boundary (ADVICE r4)
      ranks = weighted.join(ranks, weighted("src") === ranks("doc_id"))
        .groupBy(col("dst"))
        .agg(sum(col("r") / col("d")).as("contrib"))
        .crossJoin(broadcast(nRel))
        .select(col("dst").as("doc_id"),
          round(lit(Teleport) / col("n_nodes") + lit(Damping) * col("contrib"), 6).as("r"))
    }
    ranks.select(col("doc_id"), col("r").as("pagerank"))
      .orderBy(col("doc_id"))
  }

  /** Community detection by synchronous LABEL PROPAGATION (Raghavan et
    * al. 2007), `Iters` unrolled rounds over the mutual-kNN graph:
    * every node starts as its own label and each round adopts the most
    * frequent label among its neighbors (ties → smallest label, so the
    * update is a deterministic function of the graph — the classic
    * LPA tie-coin-flip is replaced by a total order, as an oracle-able
    * operator must). Each round is one keyed aggregation over the
    * edge relation plus a per-node rank window — all integer
    * arithmetic, so both engines agree exactly with no rounding
    * discipline needed. Same fixed-iteration contract as
    * [[pagerankOf]]: at 100 TB each round is a self-contained
    * shuffle-on-dst pass; the edge relation is checkpointed once.
    */
  def graphLabelPropagation(spark: SparkSession, dir: String): DataFrame =
    labelPropagationOf(knnEdges(spark, dir))

  /** Both directions (src, dst) of every edge of an (a, b) pair
    * relation — the adjacency each iterative graph operator walks.
    */
  private def symmetricEdges(pairs: DataFrame): DataFrame = {
    val jp = pairs.toDF("a", "b")
    jp.select(col("a").as("src"), col("b").as("dst"))
      .union(jp.select(col("b").as("src"), col("a").as("dst")))
  }

  /** LPA over any (a, b) pair relation with a < b — exposed for specs
    * to drive planted community structures.
    */
  def labelPropagationOf(pairs: DataFrame): DataFrame = {
    val edges = symmetricEdges(pairs).localCheckpoint()
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to Iters) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dst")).orderBy(col("cnt").desc, col("label"))
      labels = edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("label"))
    }
    val bySize = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    labels
      .withColumn("community_size", count(lit(1)).over(bySize))
      .select(col("node"), col("label").as("community"), col("community_size"))
      .orderBy(col("node"))
  }

  /** Newman MODULARITY of the label-propagation partition — the
    * standard quality score for a community structure (Q = Σ_c e_c/m −
    * (d_c/2m)², fraction of intra-community edges minus the expectation
    * under the degree-preserving null model; Q > 0 means real
    * structure). Everything is grouped integer counting over the edge
    * relation joined to the labelling — one aggregate per community,
    * one 1-row reduction — with a single rounded float expression at
    * the end, so the oracle replays it exactly. Emits per-community
    * rows plus the partition totals a curation audit reads before
    * trusting cluster-level decisions.
    */
  def graphModularity(spark: SparkSession, dir: String): DataFrame =
    modularityOf(knnEdges(spark, dir))

  /** Modularity of the LPA partition over any (a, b) pair relation —
    * exposed for the spec's hand-computable planted graphs.
    */
  def modularityOf(pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("a", "b")
    val labels = labelPropagationOf(edges)
      .select(col("node"), col("community"))
    val m = edges.agg(count(lit(1)).as("m")).localCheckpoint()
    val intra = edges
      .join(labels.select(col("node").as("a"), col("community").as("ca")), "a")
      .join(labels.select(col("node").as("b"), col("community").as("cb")), "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val degSum = edges
      .select(col("a").as("node")).union(edges.select(col("b").as("node")))
      .join(labels, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("degree_sum"))
    degSum
      .join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      // Exact scaled-integer modularity: intra/m − (deg/2m)² =
      // (4·m·intra − deg²) / (4·m²). All inputs are bigint counts, so
      // the 10⁶-scaled contribution is computed entirely in bigint
      // (`div` truncates toward zero in both Spark and DuckDB) and the
      // float column is derived from that one integer — bit-exact
      // across engines, no double-rounding boundary. Magnitudes:
      // |4·m·intra·10⁶| ≤ 4m²·10⁶, so bigint holds through m ≈ 1.5e6
      // edges per modularity scope; shard the graph before that.
      .withColumn("q_num",
        lit(4L) * col("m") * col("intra_edges") * lit(1000000L)
          - col("degree_sum") * col("degree_sum") * lit(1000000L))
      .withColumn("q_den", lit(4L) * col("m") * col("m"))
      .withColumn("q_ppm", expr("q_num div q_den"))
      .withColumn("q_contrib", col("q_ppm").cast("double") / lit(1000000.0))
      .select(col("community"), col("intra_edges"), col("degree_sum"),
        col("q_ppm"), col("q_contrib"))
      .orderBy(col("community"))
  }

  /** Per-node triangle count + local clustering coefficient, via
    * DEGREE-ordered edge orientation: each edge points at its
    * higher-(degree, id) endpoint, every triangle is found exactly once
    * as the two out-edges of its (degree, id)-minimal corner closed by
    * the oriented third edge. Out-degrees under this orientation are
    * bounded by the graph's arboricity (O(√m) worst case), so the wedge
    * join cannot blow up on a hub — key-orientation can leave a low-id
    * hub with ALL its edges outgoing and Σ outdeg² = deg(hub)². Each
    * found triangle credits its three corners (explode) and a groupBy
    * counts per node. Clustering = 2·tri / (deg·(deg−1)), rounded;
    * degree-1 nodes get 0.
    */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(knnEdges(spark, dir))

  /** Triangle/clustering stats over any (a, b) pair relation with
    * a < b and no duplicate pairs — exposed for specs (K4, paths).
    */
  def trianglesOf(pairs: DataFrame): DataFrame = {
    val e = pairs.toDF("key_a", "key_b")
    val deg = e.select(col("key_a").as("node"))
      .union(e.select(col("key_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    // orient toward the higher-(degree, id) endpoint — a strict total
    // order (id breaks degree ties), so exactly one orientation of any
    // edge exists and the oriented graph is acyclic
    val withDeg = e
      .join(deg.select(col("node").as("key_a"), col("degree").as("deg_a")), "key_a")
      .join(deg.select(col("node").as("key_b"), col("degree").as("deg_b")), "key_b")
    val aFirst = (col("deg_a") < col("deg_b")) ||
      (col("deg_a") === col("deg_b") && col("key_a") < col("key_b"))
    // materialize once: the oriented relation feeds both wedge sides and
    // the closing join (same trade as the knnEdges checkpoint)
    val oriented = withDeg.select(
      when(aFirst, col("key_a")).otherwise(col("key_b")).as("src"),
      when(aFirst, col("key_b")).otherwise(col("key_a")).as("dst"))
      .localCheckpoint()
    // wedges out of each node's arboricity-bounded out-neighborhood,
    // closed by the oriented third edge: exactly one of (b→c, c→b)
    // exists, so each triangle surfaces exactly once
    val e1 = oriented.select(col("src").as("a"), col("dst").as("b"))
    val e2 = oriented.select(col("src").as("a"), col("dst").as("c"))
    val tris = e1.join(e2, "a").filter(col("b") =!= col("c"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    val triPerNode = tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(
        col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2, round(
          coalesce(col("n_triangles"), lit(0L)) * 2.0 /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy(col("node"))
  }

  /** Peeling threshold and synchronous rounds for the k-core view. */
  private val KcoreK = 3
  private val KcoreRounds = 3

  /** K-CORE decomposition view (k = 3, `KcoreRounds` synchronous
    * peeling rounds): repeatedly delete every node whose remaining
    * degree is below k — what survives is the graph's load-bearing
    * skeleton (Seidman 1983; in a dedup pair graph, the clusters dense
    * enough that cluster-level decisions are trustworthy, vs nodes
    * attached by one incidental edge). The fixed round count is the
    * same contract as [[pagerankOf]]/[[labelPropagationOf]]: the
    * operator is "R rounds of synchronous peel", a deterministic
    * function of the graph that both engines replay exactly — full
    * convergence needs a data-dependent round count and belongs to the
    * driver-loop tier ([[Dedup.connectedComponents]] pattern). Each
    * round is one keyed degree aggregation plus two semi-join passes
    * over the edge relation (shuffle on node keys, nothing collected);
    * all arithmetic is integer counting, so no rounding discipline is
    * needed. Emits surviving nodes with their in-core degree.
    */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(knnEdges(spark, dir))

  /** The peel over any (a, b) pair relation with a < b — exposed for
    * specs (cliques survive whole; trees peel to nothing).
    */
  def kcoreOf(pairs: DataFrame): DataFrame = {
    var edges = symmetricEdges(pairs).localCheckpoint()
    for (_ <- 1 to KcoreRounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= KcoreK)
        .select(col("src").as("node"))
      // inner joins on both endpoints = the synchronous peel: an edge
      // survives only if BOTH ends kept degree ≥ k this round.
      // localCheckpoint truncates the per-round lineage, same trade as
      // the connected-components fixpoint.
      edges = edges
        .join(keep.select(col("node").as("src")), "src")
        .join(keep.select(col("node").as("dst")), "dst")
        .localCheckpoint()
    }
    // Final keep-filter: a deep peel cascade can leave round-R nodes
    // whose degree already fell below k (the loop's last filter only
    // guarantees ≥ k in the penultimate graph), so emit only nodes
    // whose round-R degree still meets k — every emitted core_degree
    // satisfies ≥ KcoreK by construction. Survivors are round-bounded
    // peel output, not a converged k-core (the fixed-round contract).
    edges.groupBy(col("src"))
      .agg(count(lit(1)).as("core_degree"))
      .filter(col("core_degree") >= KcoreK)
      .select(col("src").as("node"), col("core_degree"))
      .orderBy(col("node"))
  }

  /** Relaxation rounds for the seeded-BFS view. */
  private val BfsRounds = 4

  /** Multi-source BFS distance (every 50th node seeds, `BfsRounds`
    * relaxation rounds) — the reachability primitive under influence /
    * contamination audits (how far does a flagged document's
    * neighborhood extend through the near-dup graph?). Each round
    * relaxes every edge once: frontier joins the edge relation on src,
    * a keyed min folds the new candidate distances into the old —
    * exactly one shuffle-on-node aggregation per round, integer
    * arithmetic throughout. After R rounds every node at true distance
    * ≤ R carries that distance; farther nodes are absent (the fixed-
    * round contract of [[pagerankOf]] — full closure is the
    * [[Dedup.connectedComponents]] driver-loop tier). The distance
    * relation is checkpointed per round: unlike PageRank's single
    * reference per round, BFS reads it twice (union + join), so an
    * unrolled plan would double per round.
    */
  def graphBfs(spark: SparkSession, dir: String): DataFrame =
    bfsOf(knnEdges(spark, dir))

  /** The relaxation over any (a, b) pair relation with a < b — exposed
    * for specs (hand-traced paths, unreached tails).
    */
  def bfsOf(pairs: DataFrame): DataFrame = {
    val edges = symmetricEdges(pairs).localCheckpoint()
    var dist = edges.select(col("src").as("node")).distinct()
      .filter(expr("node % 50 = 0"))
      .withColumn("dist", lit(0L))
      .localCheckpoint()
    for (_ <- 1 to BfsRounds) {
      val relaxed = edges.join(dist, edges("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + lit(1L)).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist.orderBy(col("node"))
  }

  /** LINK PREDICTION scores over the distance-2 candidate pairs — the
    * classic non-edge ranking (Liben-Nowell & Kleinberg 2003) a dedup
    * audit uses to surface "these two clusters are probably the same
    * thing" before any merge: for every non-adjacent pair (u, w)
    * sharing at least one neighbor, the common-neighbor count,
    * Jaccard |N∩|/|N∪|, and Adamic-Adar Σ 1/ln(deg v) (rare shared
    * neighbors weigh more). Candidates come from the wedge join —
    * bounded by Σ deg² ≤ k²·n on the mutual-kNN graph — minus existing
    * edges (left-anti on the canonical a < b relation). Float
    * discipline: the Adamic-Adar terms are integer-scaled BEFORE the
    * group sum (the BM25 rule), so the per-pair sum is order-free and
    * engine-exact; Jaccard is one rounded division of exact integers.
    */
  def graphLinkPrediction(spark: SparkSession, dir: String): DataFrame =
    linkPredictionOf(knnEdges(spark, dir))

  /** Scores over any (a, b) pair relation with a < b — exposed for
    * specs (hand-computable wedges and squares).
    */
  def linkPredictionOf(pairs: DataFrame): DataFrame = {
    val edges = symmetricEdges(pairs).localCheckpoint()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    // wedges u—v—w with u < w, v's degree riding along for Adamic-Adar
    val left = edges.select(col("src").as("v"), col("dst").as("u"))
    val right = edges.select(col("src").as("v"), col("dst").as("w"))
    val wedges = left.join(right, "v").filter(col("u") < col("w"))
      .join(deg.select(col("src").as("v"), col("d").as("deg_v")), "v")
    // candidates are NON-edges: drop pairs already linked (canonical
    // a < b matches the u < w orientation)
    val cand = wedges.join(pairs.toDF("a", "b"),
      col("u") === col("a") && col("w") === col("b"), "left_anti")
    val scored = cand
      .groupBy(col("u"), col("w"))
      .agg(count(lit(1)).as("common_neighbors"),
        // integer-scale each 1/ln(deg) term before the order-free sum
        sum(expr("cast(round(1000000.0 / ln(deg_v), 0) as bigint)")).as("aa6"))
    scored
      .join(deg.select(col("src").as("u"), col("d").as("deg_u")), "u")
      .join(deg.select(col("src").as("w"), col("d").as("deg_w")), "w")
      .select(col("u"), col("w"), col("common_neighbors"),
        round(col("common_neighbors") /
          (col("deg_u") + col("deg_w") - col("common_neighbors")), 6).as("jaccard"),
        round(col("aa6") / 1000000.0, 6).as("adamic_adar"))
      .orderBy(col("u"), col("w"))
  }

  /** The mutual-kNN edge relation SERVED from its write-once bucketed
    * artifact table ([[graft.sources.ArtifactStore]]): the first
    * caller in the JVM pays the band-join + rank + mutual-join build
    * and the bucketed write; every later graph query reads the table —
    * the train-once/serve-many split production graph analytics runs
    * (an edge relation over 100 TB is built by one pipeline and read
    * by every audit query, never rebuilt per query). Bucketed+sorted
    * on `a` so downstream equi-joins on the source endpoint can elide
    * their exchange against an equally-bucketed side.
    */
  private[graft] def knnEdgesServed(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "knn_edges", "a", 8)(
      knnEdges(spark, dir))

  /** Served twins — identical operator math over the artifact edge
    * table instead of the inline-built relation, so each query's cost
    * is the PROBE side alone (ArtifactStoreSpec pins served ≡
    * self-contained; the shared oracle SQL hash-checks each one).
    */
  def graphPagerankIndexed(spark: SparkSession, dir: String): DataFrame =
    pagerankOf(knnEdgesServed(spark, dir))
  def graphTrianglesIndexed(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(knnEdgesServed(spark, dir))
  def graphLabelPropagationIndexed(spark: SparkSession, dir: String): DataFrame =
    labelPropagationOf(knnEdgesServed(spark, dir))
  def graphModularityIndexed(spark: SparkSession, dir: String): DataFrame =
    modularityOf(knnEdgesServed(spark, dir))
  def graphKcoreIndexed(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(knnEdgesServed(spark, dir))
  def graphBfsIndexed(spark: SparkSession, dir: String): DataFrame =
    bfsOf(knnEdgesServed(spark, dir))
  def graphLinkPredictionIndexed(spark: SparkSession, dir: String): DataFrame =
    linkPredictionOf(knnEdgesServed(spark, dir))

  /** The artifact relation itself as an oracle-checked query: every
    * `_indexed` twin already hash-checks THROUGH the edge table, this
    * checks the table's own content directly (a, b ordered pairs).
    */
  def graphKnnEdges(spark: SparkSession, dir: String): DataFrame =
    knnEdgesServed(spark, dir).orderBy(col("a"), col("b"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_knn_edges" -> (graphKnnEdges _),
    "graph_link_prediction" -> (graphLinkPrediction _),
    "graph_bfs" -> (graphBfs _),
    "graph_pagerank"  -> (graphPagerank _),
    "graph_triangles" -> (graphTriangles _),
    "graph_label_propagation" -> (graphLabelPropagation _),
    "graph_modularity" -> (graphModularity _),
    "graph_kcore" -> (graphKcore _),
    "graph_link_prediction_indexed" -> (graphLinkPredictionIndexed _),
    "graph_bfs_indexed" -> (graphBfsIndexed _),
    "graph_pagerank_indexed" -> (graphPagerankIndexed _),
    "graph_triangles_indexed" -> (graphTrianglesIndexed _),
    "graph_label_propagation_indexed" -> (graphLabelPropagationIndexed _),
    "graph_modularity_indexed" -> (graphModularityIndexed _),
    "graph_kcore_indexed" -> (graphKcoreIndexed _))

  private def lpIter(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT node, label FROM (
       |    SELECT dst AS node, label,
       |      row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, label) AS rn
       |    FROM (SELECT e.dst, l.label, count(*) AS cnt
       |          FROM dedges e JOIN $prev l ON l.node = e.src
       |          GROUP BY 1, 2))
       |  WHERE rn = 1)""".stripMargin

  private def bfsRound(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT node, min(dist) AS dist FROM (
       |    SELECT node, dist FROM $prev
       |    UNION ALL
       |    SELECT e.dst AS node, b.dist + 1 AS dist
       |    FROM dedges e JOIN $prev b ON b.node = e.src)
       |  GROUP BY node)""".stripMargin

  private def kcoreRound(prev: String, i: String): String =
    s"""keep$i AS (
       |  SELECT src AS node FROM (
       |    SELECT src, count(*) AS d FROM $prev GROUP BY src)
       |  WHERE d >= $KcoreK),
       |k$i AS (
       |  SELECT e.src, e.dst FROM $prev e
       |  JOIN keep$i a ON a.node = e.src
       |  JOIN keep$i b ON b.node = e.dst)""".stripMargin

  private def prIter(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT we.dst AS doc_id,
       |    round((SELECT $Teleport / n_nodes FROM n) + $Damping * sum(r.r / we.d), 6) AS r
       |  FROM we JOIN $prev r ON r.doc_id = we.src GROUP BY we.dst)""".stripMargin

  /** Shared by each operator and its `_indexed` twin: the artifact IS
    * the same relation, so one SQL string hash-checks both.
    */
  private val oraclesBase: Map[String, String] = Map(
    "graph_pagerank" ->
      s"""WITH $knnEdgesCte,
         |dedges AS (SELECT a AS src, b AS dst FROM edges
         |           UNION ALL SELECT b, a FROM edges),
         |deg AS (SELECT src, count(*) AS d FROM dedges GROUP BY src),
         |we AS (SELECT e.src, e.dst, d.d FROM dedges e JOIN deg d USING (src)),
         |n AS (SELECT count(*) AS n_nodes FROM deg),
         |r0 AS (SELECT src AS doc_id, 1.0 / n_nodes AS r FROM deg, n),
         |${(1 to Iters).map(i => prIter(s"r${i - 1}", s"r$i")).mkString(",\n")}
         |SELECT doc_id, r AS pagerank FROM r$Iters
         |ORDER BY doc_id""".stripMargin,
    "graph_label_propagation" ->
      s"""WITH $knnEdgesCte,
         |dedges AS (SELECT a AS src, b AS dst FROM edges
         |           UNION ALL SELECT b, a FROM edges),
         |lp0 AS (SELECT DISTINCT src AS node, src AS label FROM dedges),
         |${(1 to Iters).map(i => lpIter(s"lp${i - 1}", s"lp$i")).mkString(",\n")}
         |SELECT node, label AS community,
         |  count(*) OVER (PARTITION BY label) AS community_size
         |FROM lp$Iters ORDER BY node""".stripMargin,
    "graph_modularity" ->
      s"""WITH $knnEdgesCte,
         |dedges AS (SELECT a AS src, b AS dst FROM edges
         |           UNION ALL SELECT b, a FROM edges),
         |lp0 AS (SELECT DISTINCT src AS node, src AS label FROM dedges),
         |${(1 to Iters).map(i => lpIter(s"lp${i - 1}", s"lp$i")).mkString(",\n")},
         |labels AS (SELECT node, label AS community FROM lp$Iters),
         |m AS (SELECT count(*) AS m FROM edges),
         |intra AS (
         |  SELECT la.community AS community, count(*) AS intra_edges
         |  FROM edges e
         |  JOIN labels la ON la.node = e.a
         |  JOIN labels lb ON lb.node = e.b
         |  WHERE la.community = lb.community GROUP BY 1),
         |degsum AS (
         |  SELECT community, count(*) AS degree_sum FROM (
         |    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges) n
         |  JOIN labels USING (node) GROUP BY 1)
         |SELECT community, intra_edges, degree_sum, q_ppm,
         |  CAST(q_ppm AS DOUBLE) / 1000000.0 AS q_contrib
         |FROM (
         |  SELECT d.community, coalesce(i.intra_edges, 0) AS intra_edges,
         |    d.degree_sum,
         |    (4 * (SELECT m FROM m) * coalesce(i.intra_edges, 0) * 1000000
         |      - d.degree_sum * d.degree_sum * 1000000)
         |      // (4 * (SELECT m FROM m) * (SELECT m FROM m)) AS q_ppm
         |  FROM degsum d LEFT JOIN intra i USING (community))
         |ORDER BY community""".stripMargin,
    "graph_link_prediction" ->
      s"""WITH $knnEdgesCte,
         |dedges AS (SELECT a AS src, b AS dst FROM edges
         |           UNION ALL SELECT b, a FROM edges),
         |deg AS (SELECT src, count(*) AS d FROM dedges GROUP BY src),
         |wedges AS (
         |  SELECT l.dst AS u, r.dst AS w, dv.d AS deg_v
         |  FROM dedges l
         |  JOIN dedges r ON r.src = l.src AND l.dst < r.dst
         |  JOIN deg dv ON dv.src = l.src),
         |lpcand AS (
         |  SELECT u, w, deg_v FROM wedges
         |  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.a = u AND e.b = w)),
         |scored AS (
         |  SELECT u, w, count(*) AS common_neighbors,
         |    sum(CAST(round(1000000.0 / ln(deg_v), 0) AS BIGINT)) AS aa6
         |  FROM lpcand GROUP BY u, w)
         |SELECT s.u, s.w, s.common_neighbors,
         |  round(s.common_neighbors / (du.d + dw.d - s.common_neighbors), 6) AS jaccard,
         |  round(s.aa6 / 1000000.0, 6) AS adamic_adar
         |FROM scored s
         |JOIN deg du ON du.src = s.u
         |JOIN deg dw ON dw.src = s.w
         |ORDER BY s.u, s.w""".stripMargin,
    "graph_bfs" ->
      s"""WITH $knnEdgesCte,
         |dedges AS (SELECT a AS src, b AS dst FROM edges
         |           UNION ALL SELECT b, a FROM edges),
         |bfs0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
         |         FROM dedges WHERE src % 50 = 0),
         |${(1 to BfsRounds).map(i => bfsRound(s"bfs${i - 1}", s"bfs$i")).mkString(",\n")}
         |SELECT node, dist FROM bfs$BfsRounds ORDER BY node""".stripMargin,
    "graph_kcore" ->
      s"""WITH $knnEdgesCte,
         |k0 AS (SELECT a AS src, b AS dst FROM edges
         |       UNION ALL SELECT b, a FROM edges),
         |${(1 to KcoreRounds).map(i => kcoreRound(s"k${i - 1}", s"$i")).mkString(",\n")}
         |SELECT src AS node, count(*) AS core_degree
         |FROM k$KcoreRounds GROUP BY src
         |HAVING count(*) >= $KcoreK ORDER BY node""".stripMargin,
    "graph_triangles" ->
      s"""WITH $knnEdgesCte,
         |tris AS (
         |  SELECT e1.a, e1.b, e2.b AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.a = e1.b
         |  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tpn AS (
         |  SELECT node, count(*) AS n_triangles
         |  FROM (SELECT unnest([a, b, c]) AS node FROM tris) GROUP BY node),
         |deg AS (
         |  SELECT node, count(*) AS degree FROM (
         |    SELECT a AS node FROM edges UNION ALL SELECT b FROM edges)
         |  GROUP BY node)
         |SELECT d.node, d.degree,
         |  coalesce(t.n_triangles, 0) AS n_triangles,
         |  CASE WHEN d.degree >= 2 THEN round(
         |    coalesce(t.n_triangles, 0) * 2.0 / (d.degree * (d.degree - 1)), 6)
         |  ELSE 0.0 END AS clustering
         |FROM deg d LEFT JOIN tpn t USING (node)
         |ORDER BY d.node""".stripMargin)

  val oracles: Map[String, String] =
    oraclesBase ++ oraclesBase.map { case (k, v) => s"${k}_indexed" -> v } ++ Map(
      "graph_knn_edges" ->
        s"""WITH $knnEdgesCte
           |SELECT a, b FROM edges ORDER BY a, b""".stripMargin)
}
