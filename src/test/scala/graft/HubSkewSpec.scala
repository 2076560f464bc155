package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Planted-hub guard for the min-label components loop (r16): the
  * dst-clustered edge checkpoint concentrates ALL of a hub's incident
  * edges in one hash(dst) partition every iteration, and AQE cannot
  * split a pre-partitioned checkpoint side — the §2.5 single-enormous-
  * key skew. Above [[Dedup.HubDegreeCap]] the loop splits hub-directed
  * edges out and re-clusters them on src (distinct neighbor ids), so
  * no partition carries more than ~|hot|/P of a hub's edge list.
  */
class HubSkewSpec extends SparkTestBase {
  import spark.implicits._

  /** Star graph: hub 0 — {1..n}: every edge is incident to the hub. */
  private def star(n: Int) =
    (1 to n).map(i => (0L, i.toLong)).toDF("doc_a", "doc_b")

  test("hubSplit bounds the per-partition edge count of a planted hub") {
    val jp = star(200)
    val doubled = jp.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(jp.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // production partitioning: hash(dst) — the hub's 200 in-edges land
    // in ONE partition (the failure mode under guard)
    val byDst = doubled.repartition(4, col("dst")).localCheckpoint()
    val dstMax = byDst.groupBy(spark_partition_id().as("p"))
      .agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
    assert(dstMax >= 200, s"planted hub did not concentrate: max=$dstMax")

    val hubs = Seq(0L).toDF("hub_id")
    val (cold, hot) = Dedup.hubSplit(byDst, hubs, 4)
    // cold carries no hub-directed edge; hot carries exactly them
    assert(cold.filter(col("dst") === 0L).count() == 0)
    assert(hot.count() == 200 && hot.filter(col("dst") =!= 0L).count() == 0)
    // the bound: the hub's edges spread over the src hash — no single
    // partition holds more than half of them (uniform would be ~50/4)
    val hotMax = hot.groupBy(spark_partition_id().as("p"))
      .agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
    assert(hotMax <= 100, s"hot split still concentrated: max=$hotMax of 200")
    // and every non-hub edge keeps the dst clustering (count preserved)
    assert(cold.count() == 200)
  }

  test("hub-regime labelling equals the default path on a planted hub") {
    val jp = star(120).union(Seq((500L, 501L), (501L, 502L)).toDF("doc_a", "doc_b"))
    val guarded = Dedup.connectedComponentsAt(jp, hubCap = 50)
      .select("doc_id", "component", "component_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val default = Dedup.connectedComponentsAt(jp, hubCap = Long.MaxValue)
      .select("doc_id", "component", "component_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(guarded == default)
    // star ∪ chain: component 0 of size 121, component 500 of size 3
    assert(guarded.count(_._2 == 0L) == 121)
    assert(guarded.filter(_._2 == 500L).map(_._1) == Set(500L, 501L, 502L))
  }

  test("the hub regime releases the seed edge checkpoint once the split holds every edge") {
    val sc = spark.sparkContext
    val jp = star(120).union(Seq((500L, 501L), (501L, 502L)).toDF("doc_a", "doc_b"))
    val floor = sc.getPersistentRDDs.keys.foldLeft(-1)(math.max)
    val guarded = Dedup.connectedComponentsAt(jp, hubCap = 50)
    // the seed is the one checkpoint holding every directed edge (2 × 122);
    // cold (124) and hot (120) split it, the labels hold 124 nodes
    val held = sc.getPersistentRDDs.collect { case (id, rdd) if id > floor => id -> rdd.count() }
    assert(!held.values.exists(_ == 2L * jp.count()),
      s"the seed edge checkpoint is still persisted: rdd id -> rows $held")
    val labels = guarded.select("doc_id", "component", "component_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(labels == (0L to 120L).map(d => (d, 0L, 121L)).toSet ++
      Seq(500L, 501L, 502L).map(d => (d, 500L, 3L)))
  }

  test("degenerate graphs keep their schema and labelling under the guard") {
    val empty = spark.emptyDataFrame
      .select(lit(0L).as("doc_a"), lit(0L).as("doc_b")).limit(0)
    val out = Dedup.connectedComponentsAt(empty, hubCap = 1)
    assert(out.columns.toSeq == Seq("doc_id", "component", "component_size"))
    assert(out.count() == 0)
    val single = Seq((7L, 9L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponentsAt(single, hubCap = 1) // both nodes "hubs"
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((7L, 7L, 2L), (9L, 7L, 2L)))
  }
}
