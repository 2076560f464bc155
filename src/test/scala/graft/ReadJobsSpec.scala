package graft

import java.io.File
import java.nio.file.Files

import graft.sinks.IdempotentMergeSink

/** No graft read launches a Spark job: a schema-less parquet read
  * would run a one-task job just to read a footer, and the sink's
  * state reads would pay it once per base and delta directory.
  */
class ReadJobsSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("no read launches a Spark job before its action") {
    val keyed = tmp("parquet-jobs-keyed-")
    Seq((1L, "a"), (2L, "b"), (1L, "c")).zipWithIndex.foreach { case ((k, p), i) =>
      IdempotentMergeSink.merge(spark, keyed,
        Seq((k, "I", p)).toDF("key", "op", "payload"), "key", s"k$i")
    }
    Seq(2, 3).foreach(v => assert(new File(s"$keyed/v=$v/upserts").isDirectory))
    val additive = tmp("parquet-jobs-additive-")
    Seq(("t1", 2L), ("t2", 3L), ("t1", 5L)).zipWithIndex.foreach { case ((k, n), i) =>
      IdempotentMergeSink.mergeAdditive(spark, additive,
        Seq((k, n)).toDF("key", "n"), "key", s"a$i")
    }
    Seq(2, 3).foreach(v => assert(new File(s"$additive/v=$v/increments").isDirectory))

    val jobs = Map(
      "Tables.load lineitem" -> jobsLaunchedBy(Tables.load(spark, sfDir, "lineitem")),
      "read: base + 2 upsert deltas" -> jobsLaunchedBy(IdempotentMergeSink.read(spark, keyed)),
      "readAt: base + 2 additive deltas" ->
        jobsLaunchedBy(IdempotentMergeSink.readAt(spark, additive, 3)))
    assert(jobs.values.forall(_ == 0), s"jobs launched before any action: $jobs")
    // and the job-free reads still reconstruct the right state
    assert(IdempotentMergeSink.read(spark, keyed).get
      .select("key", "payload").as[(Long, String)].collect().toSet == Set((1L, "c"), (2L, "b")))
    assert(IdempotentMergeSink.readAt(spark, additive, 3)
      .select("key", "n").as[(String, Long)].collect().toSet == Set(("t1", 7L), ("t2", 3L)))
  }
}
