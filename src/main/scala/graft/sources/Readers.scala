package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-format readers mirroring the reference's ingest surface
  * (`repository/ops/extraction.py`: CSV via pandas.read_csv, JSON-blob
  * via json.loads, MDB via mdb-export → CSV). All readers take explicit
  * schemas — at 100 TB, schema inference is a full extra pass over the
  * data, so it is never used here. Parquet follows the same rule:
  * [[graft.Tables.parquet]] hands Spark the schema it reads from one
  * footer on the driver, so no parquet read runs an inference job.
  * Malformed rows are captured in a `_corrupt` column instead of
  * failing the job (PERMISSIVE), matching the reference's row-level
  * error tolerance.
  */
object Readers {

  /** The reference's menu-item row shape (extraction.py:41-66):
    * price stays a raw string at ingest — cleaning owns the parse.
    */
  val menuItemSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("category", StringType),
    StructField("subcategory", StringType),
    StructField("description", StringType),
    StructField("price", StringType),
    StructField("_corrupt", StringType)))

  /** Grocery-article shape (extraction.py CSV path / data2batches
    * column mapping input).
    */
  val articleSchema: StructType = StructType(Seq(
    StructField("article_id", StringType),
    StructField("name", StringType),
    StructField("brand", StringType),
    StructField("upc", StringType),
    StructField("price", StringType),
    StructField("qte_main", DoubleType),
    StructField("_corrupt", StringType)))

  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)

  /** NDJSON (one object per line) — the splittable layout; a single
    * giant JSON array cannot be read in parallel.
    */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  def menuCsv(spark: SparkSession, path: String): DataFrame =
    csv(spark, path, menuItemSchema)

  def articlesJson(spark: SparkSession, path: String): DataFrame =
    jsonLines(spark, path, articleSchema)

  /** mdb-export Articles contract (extraction.py:108-157,
    * `extract_mdb_from_blob`: blob → `mdb-export db.mdb Articles` →
    * CSV). The mdb-export shell-out is an external tool; the part a
    * Spark engine owns is the POST-export CSV contract: the Access
    * table's French column names, RFC-4180 quoting (descriptions carry
    * embedded commas), every field a string at ingest (typing belongs
    * to the cleaning stage), empty field = null.
    */
  val mdbArticlesSchema: StructType = StructType(Seq(
    StructField("Article", StringType),
    StructField("Description", StringType),
    StructField("PrixVente", StringType),
    StructField("QteMain", StringType),
    StructField("Taxe2", StringType)))

  /** Read an mdb-export Articles CSV file (header + quoted fields),
    * malformed rows captured in `_corrupt`.
    */
  def mdbArticlesCsv(spark: SparkSession, path: String): DataFrame =
    csv(spark, path, mdbArticlesSchema.add(StructField("_corrupt", StringType)))

  /** Parse a column holding mdb-export Articles CSV lines into the
    * typed article columns the grocery flow consumes. Pure per-row
    * `from_csv` expression work — no shuffle, stays inside whole-stage
    * codegen, so ingest parsing scales as a map-only stage.
    */
  def parseMdbArticleLines(lines: DataFrame, lineCol: String): DataFrame =
    lines
      .withColumn("rec",
        from_csv(col(lineCol), mdbArticlesSchema, Map("mode" -> "PERMISSIVE")))
      .withColumn("article_id", col("rec.Article"))
      .withColumn("product_name", col("rec.Description"))
      .withColumn("price", col("rec.PrixVente").cast("double"))
      .withColumn("quantity", col("rec.QteMain").cast("double"))
      .withColumn("is_tax", col("rec.Taxe2") === "1")
      .drop("rec", lineCol)

  // --- ORC interchange -------------------------------------------------
  // The second columnar format an engine at this scale must speak:
  // warehouses that standardized on Hive/ORC hand over data without a
  // parquet rewrite pass. Same explicit-schema discipline as every
  // other reader (no inference pass), and the ORC scan supports the
  // same predicate pushdown + column pruning as parquet — asserted on
  // the executed plan in SourcesSinksSpec.

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)
}
