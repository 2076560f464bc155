package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import scala.collection.concurrent.TrieMap

/** Write-once/serve-many index artifacts — the storage tier behind the
  * `*_indexed` / `*_served` operators. Production ANN and graph
  * serving never rebuilds its index inside the query: the mutual-kNN
  * edge relation, the IVF coarse quantizer and the PQ codebooks are
  * TRAINED once (the expensive corpus passes), persisted as bucketed
  * tables, and every subsequent query only pays the probe-side work —
  * the train-once/serve-many shape the reference itself runs (its
  * embedding build is one batch pass reused by every later lookup,
  * batch_processor.py:728-754). At 100 TB this is the difference
  * between "each graph query re-shuffles the corpus to rebuild edges"
  * and "seven queries read one bucketed edge table with zero
  * exchanges on the bucket key".
  *
  * Semantics: `ensure` builds AT MOST ONCE per (dataset, name) per
  * JVM — the first caller pays the build and the write, everyone else
  * (including re-runs of the same query in a bench loop) reads the
  * table. Tables are keyed by the dataset directory, so two scale
  * factors never share artifacts. Each JVM rebuilds from its own
  * session's plan (deterministic, so served ≡ self-contained —
  * ArtifactStoreSpec pins it), which also makes staleness impossible:
  * an artifact never outlives the process that derived it from the
  * source parquet.
  */
object ArtifactStore {

  /** (dataset dir, artifact name) → managed table name, per JVM. */
  private val built = TrieMap.empty[(String, String), String]

  /** Per-artifact(-group) build locks: unrelated artifact builds run
    * concurrently; only callers racing for the SAME artifact serialize
    * (one global monitor would make the first bench query of each
    * served family wait on every other family's training).
    */
  private val locks = TrieMap.empty[String, Object]

  private def lockFor(key: String): Object =
    locks.getOrElseUpdate(key, new Object)

  /** An artifact counts as built only when THIS session can resolve
    * its table: `built` is JVM-global while catalogs are per-session,
    * so a second SparkSession in the same JVM must rebuild into its
    * own catalog rather than fail on `spark.table`.
    */
  private def visible(spark: SparkSession, dir: String, name: String): Boolean =
    built.get((dir, name)).exists(spark.catalog.tableExists)

  /** Dataset path → a stable token safe in a table identifier: the
    * path folded to `[a-z0-9_]` for readability, plus a hash of the
    * EXACT path, since folding alone maps `/x/sf0.1`, `/x/sf0_1` and
    * `/x/SF0.1` to one table.
    */
  private def dirKey(dir: String): String = {
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    dir.toLowerCase.replaceAll("[^a-z0-9]+", "_").replaceAll("^_+|_+$", "") + "_" + hash
  }

  private[sources] def tableName(dir: String, name: String): String =
    s"graft_art_${dirKey(dir)}_$name"

  private def save(spark: SparkSession, dir: String, name: String,
      key: String, buckets: Int, df: DataFrame): Unit = {
    val tbl = tableName(dir, name)
    dropOrphan(spark, tbl)
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tbl)
    built((dir, name)) = tbl
  }

  /** The build-once gate. `build` runs only for the first caller per
    * (dir, name) per session; the result is written as a bucketed
    * in-bucket-sorted managed table (the [[Bucketing]] discipline —
    * joins on `key` against an equally-bucketed side are exchange-free)
    * and every caller gets the table scan back.
    */
  def ensure(spark: SparkSession, dir: String, name: String, key: String,
      buckets: Int)(build: => DataFrame): DataFrame = {
    lockFor(s"$dir#$name").synchronized {
      if (!visible(spark, dir, name)) save(spark, dir, name, key, buckets, build)
    }
    spark.table(built((dir, name)))
  }

  /** The build-once gate for a trainer that produces SEVERAL artifacts
    * in one pass (the PQ model emits codes AND codebook; one Lloyd run
    * emits IVF lists AND centroids). `build` runs AT MOST ONCE, inside
    * the group lock, and only when some output is missing — concurrent
    * first callers cannot each pay the training pass, and the outputs
    * can never drift out of step because they come from one evaluation.
    * `outs` lists (name, bucket key, bucket count) per artifact; the
    * same names must key the map `build` returns.
    *
    * A group's artifacts must be managed ONLY through this group (a
    * separate single-`ensure` of one member would race the group lock)
    * — each artifact family has exactly one owning call site.
    */
  def ensureMany(spark: SparkSession, dir: String,
      outs: Seq[(String, String, Int)])(
      build: => Map[String, DataFrame]): Map[String, DataFrame] = {
    lockFor(s"$dir#${outs.map(_._1).mkString("+")}").synchronized {
      if (outs.exists { case (n, _, _) => !visible(spark, dir, n) }) {
        // rewrite the WHOLE group, including members a crashed earlier
        // attempt already saved: a partial group's survivors came from
        // a different build evaluation, and patching in only the
        // missing member would let group artifacts drift out of step
        // the moment training gains any nondeterminism (today's
        // kmeans/PQ init is deterministic, but that invariant must not
        // be load-bearing here)
        val made = build
        outs.foreach { case (n, key, buckets) =>
          save(spark, dir, n, key, buckets, made(n))
        }
      }
    }
    outs.map { case (n, _, _) => n -> spark.table(built((dir, n))) }.toMap
  }

  /** True when the artifact is built AND resolvable by this session. */
  def has(spark: SparkSession, dir: String, name: String): Boolean =
    visible(spark, dir, name)

  /** A previous JVM's warehouse dir for this table blocks `saveAsTable`
    * (the fresh in-memory metastore doesn't own it) — clear both the
    * catalog entry and the directory, the BucketingSpec discipline.
    */
  private def dropOrphan(spark: SparkSession, tbl: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = new java.io.File(wh, tbl)
    if (dir.exists()) {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }
}
