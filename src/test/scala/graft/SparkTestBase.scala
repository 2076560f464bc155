package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; sf0.001 for speed. */
trait SparkTestBase extends AnyFunSuite {
  val sfDir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkTestBase.session

  /** Jobs `body` launches, counted by a label only its thread carries.
    * A fence job run after it marks the point where every earlier job
    * start has reached the listener.
    */
  def jobsLaunchedBy(body: => Any): Int = {
    val sc = spark.sparkContext
    val label = s"jobs-under-test-${System.nanoTime()}"
    val fence = s"$label-fence"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty("spark.job.description")
    try {
      sc.setJobDescription(label)
      body
      sc.setJobDescription(fence)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains(fence) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(fence), "the fence job never reached the listener")
      seen.toArray.count(_ == label)
    } finally {
      sc.setJobDescription(prev)
      sc.removeSparkListener(listener)
    }
  }

  /** The kNN lists (u, v, diff) of a (key, price) node relation by brute
    * force, as the oracle defines them (`GraphOps.knnEdgesCteOver`):
    * every pair within 0.5, in both directions, each u keeping its
    * first K by (round(|Δ|, 6), v). An independent reference for the
    * production build.
    */
  def knnListsBrute(nodes: DataFrame): DataFrame = {
    val a = nodes.select(col("key").cast("long").as("u"), col("price").cast("double").as("pu"))
    val b = nodes.select(col("key").cast("long").as("v"), col("price").cast("double").as("pv"))
    val cand = a.join(b, col("u") < col("v") && abs(col("pu") - col("pv")) <= 0.5)
      .select(col("u"), col("v"), round(abs(col("pu") - col("pv")), 6).as("diff"))
    val sym = cand.unionByName(cand.select(col("v").as("u"), col("u").as("v"), col("diff")))
    sym.withColumn("rn", row_number().over(Window.partitionBy("u").orderBy("diff", "v")))
      .filter(col("rn") <= graft.operators.GraphOps.KnnK)
      .select("u", "v", "diff")
  }

  /** Each document's distinct word bigrams (doc_id, g), built without
    * the production shingles.
    */
  def bigramSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("t"))
      .select(col("doc_id"), array_distinct(expr(
        "zip_with(slice(t, 1, greatest(size(t) - 1, 0)), slice(t, 2, greatest(size(t) - 1, 0))," +
          " (x, y) -> concat(x, ' ', y))")).as("g"))

  /** The near-dup pairs (doc_a, doc_b, n_inter, jaccard) of a
    * (doc_id, text) relation from a cross join of its documents: a
    * pair is a candidate when any of its 8 minhash band keys
    * (`Dedup.bandKeysOf`) agree, and is kept when the exact Jaccard of
    * the two distinct word-bigram sets reaches 0.5 (6-dp rounded). The
    * bigram sets are built here, not by the production shingles.
    */
  def nearDupPairsBrute(docs: DataFrame): DataFrame = {
    val grams = bigramSets(docs)
    val keys = graft.operators.Dedup.bandKeysOf(docs).groupBy("doc_id")
      .agg(collect_set(struct(col("band_idx"), col("bk"))).as("k"))
    val side = grams.join(keys, "doc_id")
    side.select(col("doc_id").as("doc_a"), col("g").as("ga"), col("k").as("ka"))
      .join(side.select(col("doc_id").as("doc_b"), col("g").as("gb"), col("k").as("kb")),
        col("doc_a") < col("doc_b"))
      .filter(size(array_intersect(col("ka"), col("kb"))) > 0)
      .select(col("doc_a").cast("long").as("doc_a"), col("doc_b").cast("long").as("doc_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("n_inter"),
        round(size(array_intersect(col("ga"), col("gb"))) /
          size(array_union(col("ga"), col("gb"))), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Every same-modality pair (modality, doc_a, doc_b, hamming) of a
    * (doc_id, modality, phash64) relation within Hamming `radius`, by
    * brute force. Any lossless banding finds exactly these pairs.
    */
  def dctPairsBrute(fp: DataFrame, radius: Int = graft.operators.Multimodal.DctRadius): DataFrame =
    fp.select(col("doc_id").as("doc_a"), col("modality"), col("phash64").as("fa"))
      .join(fp.select(col("doc_id").as("doc_b"), col("modality"), col("phash64").as("fb")),
        Seq("modality"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("modality"), col("doc_a"), col("doc_b"),
        expr("bit_count(fa ^ fb)").cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
