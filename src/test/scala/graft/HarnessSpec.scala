package graft

import org.apache.spark.sql.functions._

class HarnessSpec extends SparkTestBase {

  test("a shared timed run labels the jobs it launches with its name, then restores the previous one") {
    val label = "harness_label_probe"
    val bytes = Harness.listen(spark)
    val before = spark.sparkContext.getLocalProperty("spark.job.description")
    try {
      bytes.settled()
      bytes.takeJobs()
      val run = Harness.timed(spark, label)(Harness.sink(
        spark.range(0, 1000, 1, 4).groupBy((col("id") % 7).as("k")).count()))
      assert(!run.failed)
      bytes.settled()
      val during = bytes.takeJobs().filter(_.desc == label)
      assert(during.nonEmpty, "no job carried the run's name")
      // the grouped run shuffles, and the listener charges it to the job
      assert(during.map(_.shufWrite).sum > 0)
      assert(spark.sparkContext.getLocalProperty("spark.job.description") == before)
      spark.range(10).count()
      bytes.settled()
      val after = bytes.takeJobs()
      assert(after.nonEmpty && after.forall(_.desc != label), after)
    } finally spark.sparkContext.removeSparkListener(bytes)
  }
}
