package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

class PartitionPruningSpec extends SparkTestBase {

  test("partitioned layout prunes non-matching partitions at the scan") {
    val out = Files.createTempDirectory("graft-part").toString + "/events_by_type"
    Tables.events(spark, sfDir).select("event_id", "user_id", "value", "event_type")
      .write.mode("overwrite").partitionBy("event_type").parquet(out)

    // one directory per event type on disk
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 5 && dirs.forall(_.startsWith("event_type=")))

    val q = spark.read.parquet(out)
      .filter(col("event_type") === "purchase")
    // the filter must land in PartitionFilters (pruned before I/O),
    // not as a post-scan data filter
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("isnotnull(event_type"), s"no partition filter in:\n$scan")
    // and only the one partition is read
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(q.count() == expected)
    val files = q.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("event_type=purchase")))
  }
}
