package graft

import java.io.FileNotFoundException

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables.
  *
  * All operators read through here so the scan layer stays in one place
  * (schema expectations, future bucketing / sorting hints, etc.).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** Every graft parquet read. A schema-less `spark.read.parquet`
    * launches a one-task Spark job that only reads one footer; this
    * reads that same footer on the driver and hands Spark the schema,
    * so no read launches a job and the plan is unchanged. The file is
    * the one Spark's inference picks: the path itself, or the first
    * visible file of a directory (names starting with `_` or `.` are
    * markers and checksums). The footer converts with the two calls
    * Spark's inference runs, under the session's SQL conf as it is NOW
    * (so a flag such as `nanosAsLong` set just before still applies).
    * Whenever Spark would read more than one footer (schema merging, a
    * summary file, partition subdirectories) or the footer cannot be
    * resolved (no data file, a corrupt file, an unreadable type), this
    * is the plain read, so the result and any error stay Spark's own.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  private[graft] def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoop = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val listed: Seq[FileStatus] =
      try p.getFileSystem(hadoop).listStatus(p).toSeq
      catch { case _: FileNotFoundException => Nil }
    val (hidden, data) = listed.partition { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    val oneFooter = !conf.isParquetSchemaMergingEnabled && !data.exists(_.isDirectory) &&
      !hidden.exists(s => Set("_metadata", "_common_metadata")(s.getPath.getName))
    data.sortBy(_.getPath.toString).headOption.filter(_ => oneFooter).flatMap { f =>
      Try(ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoop), ParquetMetadataConverter.SKIP_ROW_GROUPS)),
        new ParquetToSparkSchemaConverter(conf))).toOption
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** The physical type of events.parquet's `ts` column has varied across
    * driver testdata generations: TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects — read nanos as long via the legacy flag
    * and truncate to micros, matching DuckDB) vs plain timestamp[us]
    * (TIMESTAMP_NTZ). Dispatch on the schema actually present so both
    * vintages yield the identical session-zone TimestampType `ts`.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already session-zone TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Scale-adaptive parallelism floor for the heavy derivation chains
    * (minhash/verify, PQ/k-means training, fingerprinting): when the
    * input relation carries FEWER partitions than the session's
    * default parallelism — a small corpus read as one single-row-group
    * parquet split — every fused per-row stage downstream (shingle
    * explode, codebook scoring, DCT) and every consumer of a
    * subsequent `localCheckpoint` runs on ONE core while the rest
    * idle. Repartition to the default parallelism, HASHED ON THE CHAIN
    * KEY (never round-robin): a downstream groupBy/window/join keyed
    * on the same column then reuses the partitioning instead of adding
    * its own exchange, so the plan's exchange count does not grow.
    * At production scale the input already carries ≥ cores splits and
    * this is a structural no-op — no plan gains a shuffle at 100 TB.
    */
  def widened(df: DataFrame, key: String): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores, col(key)) else df
  }
}
