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
