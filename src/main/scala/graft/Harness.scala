package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The measuring core the tooling mains ([[Bench]], [[Profile]],
  * [[ScalePointBench]]) share: one noop-sink action, one timed run,
  * one median, one shuffle-byte listener and one warm-up prelude.
  */
object Harness {

  def j(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** Runs `df` to the noop sink, which materializes EVERY output column
    * (count() would let Catalyst prune the projections and
    * under-measure the query). Call it inside a timed body so the plan
    * is built inside the timed span too: eager steps like
    * localCheckpoint belong to the query's cost.
    */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One timed run; `failed` when the body threw. */
  final case class Run(sec: Double, failed: Boolean) {
    /** The seconds as JSON: null for a failed run, whose time-to-crash
      * would otherwise read as a fast healthy run.
      */
    def json: String = if (failed) "null" else j(sec)
  }

  /** Several runs of one body. */
  final case class Runs(all: Seq[Run]) {
    def errors: Int = all.count(_.failed)
    /** The median seconds; None when any run threw, so no time from a
      * failed run reaches a median.
      */
    def median: Option[Double] =
      if (errors > 0) None else Some(Harness.median(all.map(_.sec)))
    def json: String = median.fold("null")(j)
  }

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Times `body`, with every Spark job it launches labelled `label`
    * (`spark.job.description`, restored afterwards). A throw is logged
    * to stderr and counted, never rethrown.
    */
  def timed(spark: SparkSession, label: String)(body: => Unit): Run = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    val t0 = System.nanoTime()
    val failed =
      try { body; false }
      catch { case e: Throwable => System.err.println(s"[graft] $label: $e"); true }
    val sec = (System.nanoTime() - t0) / 1e9
    sc.setJobDescription(prev)
    Run(sec, failed)
  }

  def repeat(spark: SparkSession, label: String, n: Int)(body: => Unit): Runs =
    Runs(Seq.fill(n)(timed(spark, label)(body)))

  /** `n` runs of `body` plus the (read, write) shuffle bytes of the LAST
    * run only, so a first run's one-time artifact build never pollutes
    * the steady-state bytes.
    */
  def measure(spark: SparkSession, label: String, n: Int, bytes: ByteListener)(
      body: => Unit): (Runs, (Long, Long)) = {
    val earlier = Seq.fill(n - 1)(timed(spark, label)(body))
    val (r0, w0) = bytes.settled()
    val last = timed(spark, label)(body)
    val (r1, w1) = bytes.settled()
    (Runs(earlier :+ last), (r1 - r0, w1 - w0))
  }

  /** The untimed prelude before any measurement: the flagship query
    * warms JIT and codegen for the shared scan/agg/join/exchange paths,
    * so the first timed query isn't charged for session spin-up. With
    * `fixpoint`, three representatives of the checkpointed-fixpoint
    * class (dedup_components/cluster_stats/incremental and kin) run too:
    * they JIT a code path nothing else exercises and historically swing
    * ±60% between a cold and a warm JVM with code unchanged (PLANS.md
    * r8/r9), so every recorded median is a warm-JVM number.
    */
  def warmUp(spark: SparkSession, dir: String, fixpoint: Boolean): Unit = {
    timed(spark, "warmup")(sink(SparkEntry.entry(spark)))
    if (fixpoint)
      Seq("dedup_components", "dedup_cluster_stats", "dedup_incremental")
        .foreach(n => timed(spark, s"warmup $n")(sink(SparkEntry.queries(n)(spark, dir))))
  }

  /** One Spark job as the listener saw it; times are epoch ms. `site`
    * is the first `graft.` frame of the call site that launched it
    * (blank when none), which names the line behind a job no label
    * covers, such as a read's schema inference.
    */
  final case class JobRow(id: Int, t0: Long, desc: String, site: String, stageIds: Seq[Int],
      var t1: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var shufRead: Long = 0L, var shufWrite: Long = 0L)

  /** Stage-level shuffle read/write bytes, in total and per job, with
    * each job's `spark.job.description` and call site. Bytes are
    * deterministic per plan where wall time is not, so a byte delta
    * names a plan change that contention can hide.
    */
  final class ByteListener extends SparkListener {
    private var read, write, events = 0L
    private val jobs = mutable.LinkedHashMap[Int, JobRow]()
    private val stageToJob = mutable.HashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      // bounded: a full bench run launches tens of thousands of jobs
      if (jobs.size >= 10000) jobs.remove(jobs.head._1)
      // the job's own (result) stage carries the job's call site
      val site = e.stageInfos.maxByOption(_.stageId).iterator
        .flatMap(_.details.linesIterator).find(_.startsWith("graft.")).getOrElse("")
      jobs(e.jobId) = JobRow(e.jobId, e.time, desc, site, e.stageIds)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      jobs.get(e.jobId).foreach { r => r.t1 = e.time; stageToJob --= r.stageIds }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      val m = e.stageInfo.taskMetrics
      val (r, w) =
        if (m == null) (0L, 0L)
        else (m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten)
      read += r
      write += w
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach { row =>
        row.stages += 1
        row.tasks += e.stageInfo.numTasks
        row.shufRead += r
        row.shufWrite += w
      }
    }

    /** Total (read, write) bytes once the async listener events have
      * been stable for a couple of polls (bounded at ~1 s): bench
      * detail, not a correctness surface.
      */
    def settled(): (Long, Long) = {
      def snap() = synchronized((read, write, events))
      var prev = snap()
      var stable = 0
      var polls = 0
      while (stable < 2 && polls < 30) {
        Thread.sleep(30)
        val cur = snap()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        polls += 1
      }
      (prev._1, prev._2)
    }

    /** The jobs recorded since the last call, oldest first. */
    def takeJobs(): Seq[JobRow] = synchronized {
      val rows = jobs.values.toSeq
      jobs.clear()
      rows
    }
  }

  def listen(spark: SparkSession): ByteListener = {
    val l = new ByteListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
