package graft
/** Plan-audit helper: print `.explain("formatted")` for the named
  * queries (all of them with no args). Usage:
  * `sbt "runMain graft.Explain q5_region_revenue corpus_decontaminate"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
