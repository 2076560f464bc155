package graft
/** Plan-audit helper: print `.explain("formatted")` for the named
  * queries (all of them with no args). Usage:
  * `sbt "runMain graft.Explain q5_region_revenue corpus_decontaminate"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.fromEnv(8)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
