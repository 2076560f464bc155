package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Storage hygiene for long-lived datasets.
  *
  * Small-file compaction: streaming sinks and fine-grained batch
  * appends leave thousands of tiny files per partition; at 100 TB the
  * NameNode/listing cost and per-file scan overhead dominate. Compact
  * rewrites a dataset into ~`targetBytes`-sized files computed from the
  * ACTUAL on-disk size (no guessing), preserving content exactly.
  *
  * Schema evolution: parquet datasets written over months gain columns.
  * `readEvolved` turns on `mergeSchema` so old files surface the new
  * columns as nulls — an explicit choice at the read site, because
  * schema merging costs a footer read per file and must never be a
  * silent default.
  */
object Compactor {

  /** Rewrite `inPath` to `outPath` in files of roughly `targetBytes`. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val size = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1, math.ceil(size.toDouble / targetBytes).toInt)
    Tables.parquet(spark, inPath)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)
}
