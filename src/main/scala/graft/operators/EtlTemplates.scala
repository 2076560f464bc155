package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** WhatsApp-template construction from the reference's standalone
  * template job: group active products by category, chunk into ≤30,
  * name templates `cat` / `cat N`, generate header/body text from a
  * lookup with fallback.
  *
  * Reference: templatecreation/templatecreation.py:77-285.
  */
object EtlTemplates {

  private val MaxProducts = 30

  /** Active products numbered within their category (`rn`, by name
    * then key), with the category size (`total`) and the ≤30-product
    * chunk each falls in (`chunk`) — the rows both template operators
    * group. Inactive products are skipped.
    */
  private def chunkedActive(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.part(spark, dir)
      .filter(col("p_size") % 13 =!= 0)
      .select(col("p_partkey"), col("p_name"), col("p_type").as("category"))
    val w = Window.partitionBy(col("category")).orderBy(col("p_name"), col("p_partkey"))
    active
      .withColumn("rn", row_number().over(w))
      .withColumn("total", count(lit(1)).over(Window.partitionBy(col("category"))))
      .withColumn("chunk", floor((col("rn") - 1) / lit(MaxProducts.toDouble)).cast("long"))
  }

  /** `cat` when the category fits one template, else `cat N`. */
  private val templateName: Column =
    when(ceil(col("total") / lit(MaxProducts.toDouble)) === 1, col("category"))
      .otherwise(concat(col("category"), lit(" "), (col("chunk") + 1).cast("string")))
      .as("template_name")

  /** Category grouping + ≤30-product chunking + template naming
    * (templatecreation.py:157-207). One shuffle on the category key;
    * per-category windows (bounded group sizes by construction).
    */
  def templateGroups(spark: SparkSession, dir: String): DataFrame =
    chunkedActive(spark, dir)
      .groupBy(col("category"), col("chunk"), col("total"))
      .agg(count(lit(1)).as("product_count"))
      .select(col("category"), templateName, col("product_count"))
      .orderBy(col("category"), col("template_name"))

  /** Header/body text generation (templatecreation.py:263-285):
    * dictionary lookup with `Explore Our {cat}!` fallback. The literal
    * category set is unioned in so both branches are live.
    */
  def headerText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val extra = Seq("Desserts", "Beverages", "Main Course").toDF("category")
    val cats = Tables.part(spark, dir)
      .select(col("p_type").as("category")).distinct()
      .union(extra)
    val header = when(col("category") === "Main Course", lit("Delicious Main Courses Await!"))
      .when(col("category") === "Starters", lit("Start Your Meal Right!"))
      .when(col("category") === "Appetizers", lit("Tempting Appetizers!"))
      .when(col("category") === "Desserts", lit("Sweet Treats to End Your Day!"))
      .when(col("category") === "Beverages", lit("Refresh Yourself!"))
      .when(col("category") === "Drinks", lit("Quench Your Thirst!"))
      .when(col("category") === "Sides", lit("Perfect Sides for Your Meal!"))
      .when(col("category") === "Salads", lit("Fresh & Healthy Salads!"))
      .when(col("category") === "Soups", lit("Warm & Comforting Soups!"))
      .when(col("category") === "Breakfast", lit("Start Your Day Right!"))
      .when(col("category") === "Lunch", lit("Delicious Lunch Options!"))
      .when(col("category") === "Dinner", lit("Evening Delights!"))
      .when(col("category") === "Specials", lit("Chef's Special Selection!"))
      .otherwise(concat(lit("Explore Our "), col("category"), lit("!")))
    cats.select(
        col("category"),
        header.as("header_text"),
        concat(lit("Check out our amazing selection of "), lower(col("category")),
          lit(". Order now for the best dining experience!")).as("body_text"))
      .orderBy(col("category"))
  }

  /** The template payload's `sections[].items` list
    * (templatecreation.py:196-207): per (category, chunk) the ordered
    * productRetailerId roster, comma-joined (a join-key-ordered
    * `collect_list` — string-joined so the oracle compare is
    * representation-stable). Same chunking/naming as `templateGroups`.
    */
  def templateSections(spark: SparkSession, dir: String): DataFrame =
    chunkedActive(spark, dir)
      .withColumn("retailer_id", concat(lit("r-"), col("p_partkey")))
      .groupBy(col("category"), col("chunk"), col("total"))
      .agg(
        concat_ws(",", array_sort(collect_list(struct(col("rn"), col("retailer_id")))
          .cast("array<struct<rn:long,retailer_id:string>>")
        ).getField("retailer_id")).as("product_retailer_ids"),
        count(lit(1)).as("product_count"))
      .select(col("category"), templateName, col("product_retailer_ids"),
        col("product_count"))
      .orderBy(col("category"), col("template_name"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_template_groups"   -> (templateGroups _),
    "etl_header_text"       -> (headerText _),
    "etl_template_sections" -> (templateSections _))

  val oracles: Map[String, String] = Map(
    "etl_template_groups" -> templatesOracle("", ""),
    "etl_header_text" ->
      """WITH cats AS (
        |  SELECT DISTINCT p_type AS category FROM part
        |  UNION ALL
        |  SELECT * FROM (VALUES ('Desserts'), ('Beverages'), ('Main Course')) v(category)
        |)
        |SELECT category,
        |  CASE category
        |    WHEN 'Main Course' THEN 'Delicious Main Courses Await!'
        |    WHEN 'Starters' THEN 'Start Your Meal Right!'
        |    WHEN 'Appetizers' THEN 'Tempting Appetizers!'
        |    WHEN 'Desserts' THEN 'Sweet Treats to End Your Day!'
        |    WHEN 'Beverages' THEN 'Refresh Yourself!'
        |    WHEN 'Drinks' THEN 'Quench Your Thirst!'
        |    WHEN 'Sides' THEN 'Perfect Sides for Your Meal!'
        |    WHEN 'Salads' THEN 'Fresh & Healthy Salads!'
        |    WHEN 'Soups' THEN 'Warm & Comforting Soups!'
        |    WHEN 'Breakfast' THEN 'Start Your Day Right!'
        |    WHEN 'Lunch' THEN 'Delicious Lunch Options!'
        |    WHEN 'Dinner' THEN 'Evening Delights!'
        |    WHEN 'Specials' THEN 'Chef''s Special Selection!'
        |    ELSE 'Explore Our ' || category || '!' END AS header_text,
        |  'Check out our amazing selection of ' || lower(category) ||
        |    '. Order now for the best dining experience!' AS body_text
        |FROM cats ORDER BY category""".stripMargin,
    "etl_template_sections" -> templatesOracle(" 'r-' || p_partkey AS retailer_id,",
      "  string_agg(retailer_id, ',' ORDER BY rn) AS product_retailer_ids,\n"))

  /** The oracle of both template operators: `chunkCols` joins the
    * chunked rows' select list, `aggCols` precedes the product count.
    */
  private def templatesOracle(chunkCols: String, aggCols: String): String =
    s"""WITH active AS (
       |  SELECT p_partkey, p_name, p_type AS category FROM part
       |  WHERE p_size % 13 <> 0
       |), chunked AS (
       |  SELECT category,$chunkCols
       |    row_number() OVER (PARTITION BY category ORDER BY p_name, p_partkey) AS rn,
       |    count(*) OVER (PARTITION BY category) AS total
       |  FROM active)
       |SELECT category,
       |  CASE WHEN ceil(total / $MaxProducts.0) = 1 THEN category
       |       ELSE category || ' ' || CAST(CAST(floor((rn - 1) / $MaxProducts.0) AS BIGINT) + 1 AS VARCHAR) END AS template_name,
       |${aggCols}  count(*) AS product_count
       |FROM chunked
       |GROUP BY category, CAST(floor((rn - 1) / $MaxProducts.0) AS BIGINT), total
       |ORDER BY category, template_name""".stripMargin
}
