package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Local iteration aid (like [[Explain]]): run the
  * named queries once each after a warmup and print a per-JOB wall
  * breakdown (start-relative, duration, stage count, task count,
  * shuffle bytes) so the expensive step inside a multi-job operator
  * chain (checkpoint, fixpoint iteration, artifact build, commit) is
  * visible without the UI. Usage:
  * `sbt "runMain graft.Profile maint_knn_time_travel"`.
  */
object Profile {
  private case class JobRow(id: Int, t0: Long, var t1: Long = 0L,
    var stages: Int = 0, var tasks: Int = 0,
    var shufRead: Long = 0L, var shufWrite: Long = 0L,
    var desc: String = "")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = mutable.LinkedHashMap[Int, JobRow]()
    val stageToJob = mutable.HashMap[Int, Int]()
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        val r = JobRow(e.jobId, e.time)
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs.synchronized { jobs(e.jobId) = r }
        e.stageIds.foreach(s => stageToJob.synchronized { stageToJob(s) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.synchronized { stageToJob.get(e.stageInfo.stageId) }
        jid.foreach { j => jobs.synchronized { jobs.get(j).foreach { r =>
          r.stages += 1
          r.tasks += e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            r.shufRead += m.shuffleReadMetrics.totalBytesRead
            r.shufWrite += m.shuffleWriteMetrics.bytesWritten
          }
        } } }
      }
    })
    // warmup: shared scan/agg/join/exchange paths
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one untimed run so JIT/codegen cost doesn't pollute the profile
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] warm $name: $e") }
      jobs.synchronized { jobs.clear() }
      stageToJob.synchronized { stageToJob.clear() }
      collecting = true
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] $name: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      collecting = false
      val rows = jobs.synchronized { jobs.values.toSeq }
      val base = rows.headOption.map(_.t0).getOrElse(0L)
      println(f"\nPROFILE $name wall=$wall%.2fs jobs=${rows.size}")
      println("  job   rel_s   dur_s  stages  tasks  shufR(MB) shufW(MB)  desc")
      var accounted = 0.0
      rows.foreach { r =>
        val dur = (r.t1 - r.t0) / 1e3
        accounted += dur
        println(f"  ${r.id}%4d ${(r.t0 - base) / 1e3}%7.2f ${dur}%7.2f  ${r.stages}%5d ${r.tasks}%6d ${r.shufRead / 1e6}%9.2f ${r.shufWrite / 1e6}%9.2f  ${r.desc.take(60)}")
      }
      println(f"  sum(job dur)=$accounted%.2fs  gap(driver/planning)=${wall - accounted}%.2fs")
    }
    spark.stop()
  }
}
