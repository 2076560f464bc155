package graft

/** Local iteration aid (like [[Explain]]): run the
  * named queries once each after a warmup and print a per-JOB wall
  * breakdown (start-relative, duration, stage count, task count,
  * shuffle bytes) so the expensive step inside a multi-job operator
  * chain (checkpoint, fixpoint iteration, artifact build, commit) is
  * visible without the UI. Usage:
  * `sbt "runMain graft.Profile maint_knn_time_travel"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.fromEnv(8)
    val bytes = Harness.listen(spark)
    Harness.warmUp(spark, sfDir, fixpoint = false)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // one untimed run so JIT/codegen cost doesn't pollute the profile
      Harness.timed(spark, s"warm $name")(Harness.sink(fn(spark, sfDir)))
      bytes.settled()
      bytes.takeJobs()
      val wall = Harness.timed(spark, name)(Harness.sink(fn(spark, sfDir))).sec
      bytes.settled()
      val rows = bytes.takeJobs()
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
