package graft

import java.io.File
import java.nio.file.Files

import graft.sinks.IdempotentMergeSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** `Tables.parquet` resolves a read's schema from one footer on the
  * driver. It must give exactly the schema Spark's own inference job
  * gives, and fall back to Spark (and Spark's error) when there is no
  * data file. [[ReadJobsSpec]] pins that it launches no job.
  */
class TablesParquetSpec extends SparkTestBase {
  import spark.implicits._

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** The footer path is taken, and its schema is Spark's inferred one. */
  private def assertSameSchema(path: String): Unit = {
    assert(Tables.footerSchema(spark, path).isDefined, s"$path fell back to inference")
    assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, path)
  }

  private def withNanosAsLong(on: Boolean)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, on.toString)
    try body
    finally prev.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("every source table resolves to Spark's inferred schema, nanosAsLong on and off") {
    for (on <- Seq(true, false)) withNanosAsLong(on) {
      Tables.names.foreach(t => assertSameSchema(s"$sfDir/$t.parquet"))
    }
  }

  test("each events ts vintage resolves to Spark's inferred schema") {
    val micros = Seq(1614834367123456L, 1614834368000000L)
    val raw = micros.zipWithIndex
      .map { case (us, i) => (i.toLong, us, s"u$i", "click", 1.0) }
      .toDF("event_id", "ts", "user_id", "kind", "amount")
    val vintages = Seq(
      raw.withColumn("ts", col("ts") * 1000L),
      raw.withColumn("ts", timestamp_micros(col("ts")).cast(TimestampNTZType)),
      raw.withColumn("ts", timestamp_micros(col("ts"))))
    for (df <- vintages) {
      val path = s"${tmp("events-vintage-")}/events.parquet"
      df.write.parquet(path)
      for (on <- Seq(true, false)) withNanosAsLong(on)(assertSameSchema(path))
    }
  }

  test("sink bases and every delta directory resolve to Spark's inferred schema") {
    val keyed = tmp("parquet-sink-keyed-")
    Seq((1L, "a"), (2L, "b")).zipWithIndex.foreach { case ((k, p), i) =>
      IdempotentMergeSink.merge(spark, keyed,
        Seq((k, "I", p)).toDF("key", "op", "payload"), "key", s"k$i")
    }
    val additive = tmp("parquet-sink-additive-")
    Seq(("t1", 2L), ("t2", 3L)).zipWithIndex.foreach { case ((k, n), i) =>
      IdempotentMergeSink.mergeAdditive(spark, additive,
        Seq((k, n)).toDF("key", "n"), "key", s"a$i")
    }
    for (p <- Seq(s"$keyed/v=1", s"$keyed/v=2/removes", s"$keyed/v=2/upserts",
        s"$additive/v=1", s"$additive/v=2/increments")) {
      assert(new File(p).isDirectory, s"$p missing from the sink layout")
      assertSameSchema(p)
    }
  }

  test("a partitioned directory is left to Spark, so its partition column survives") {
    val dir = s"${tmp("parquet-partitioned-")}/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "part").write.partitionBy("part").parquet(dir)
    assert(Tables.footerSchema(spark, dir).isEmpty)
    assert(Tables.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
    assert(Tables.parquet(spark, dir).columns.toSeq == Seq("id", "part"))
  }

  test("markers and checksums are skipped; a directory with no data file fails as Spark does") {
    val dir = s"${tmp("parquet-markers-")}/t"
    Seq((1L, "x")).toDF("id", "s").write.parquet(dir)
    Files.write(new File(dir, "_GRAFT_COMMIT").toPath, "b0\n".getBytes)
    val names = new File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      s"expected a marker and a checksum beside the data: $names")
    assertSameSchema(dir)

    val empty = tmp("parquet-empty-")
    Files.write(new File(empty, "_SUCCESS").toPath, Array.emptyByteArray)
    assert(Tables.footerSchema(spark, empty).isEmpty)
    val spark0 = intercept[Exception](spark.read.parquet(empty))
    val ours = intercept[Exception](Tables.parquet(spark, empty))
    assert(ours.getClass == spark0.getClass, s"$ours vs $spark0")
  }
}
