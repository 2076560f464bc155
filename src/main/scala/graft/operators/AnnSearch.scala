package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-d float vectors), the similarity-search capability behind the
  * reference's stage-2 name matching and stage-3 embedding generation
  * (batch_processor.py:477-556, 728-754) re-expressed at corpus scale.
  *
  * Two paths:
  *  - `ann_topk`: brute-force cosine top-k — the correctness baseline.
  *    The query side is a small fixed subset, broadcast against the
  *    corpus, so the join is a map-side nested loop with no shuffle of
  *    the big side; per-partition candidates then one shuffle for the
  *    per-query top-k window.
  *  - `ann_lsh_topk`: sign-random-projection LSH — the 100 TB path.
  *    Every vector gets an 8-bit bucket key (sign of 8 deterministic
  *    md5-derived hyperplane projections); candidates are generated
  *    ONLY within matching buckets, so cost scales with bucket
  *    occupancy, not corpus².
  *
  * All arithmetic is double-precision with results rounded to 6
  * decimals and ranked on the rounded value (ties broken by id), so
  * Spark and the DuckDB oracle agree exactly.
  */
object AnnSearch {

  private val TopK = 5
  private val NumPlanes = 8
  private val Dims = 64
  /** Multi-table LSH for the ANN path: `NumTables` independent hash
    * tables of `PlanesPerTable` sign bits each. One sharp 8-bit table
    * recalls almost nothing of the true top-k (measured 4% at sf0.01);
    * candidates drawn from ANY of 4 coarser 4-bit tables trade a
    * bounded candidate-set growth for the recall an index must deliver
    * — the standard LSH recall knob (L tables OR-ed, k bits AND-ed
    * within a table).
    */
  private val NumTables = 4
  private val PlanesPerTable = 4
  /** IVF probes the `NProbe` nearest centroids, not just the first —
    * the other standard recall knob (measured: nprobe=1 recalls 26%
    * of brute-force top-k at sf0.01; nprobe=3 touches 3/#lists of the
    * corpus instead of 1/#lists and recovers most of the gap).
    */
  private val NProbe = 3
  /** Every 50th vector is a query point. */
  private val QueryFilter = "vec_id % 50 = 0"

  /** Dot product via the native codegen'd [[graft.functions.DotProduct]]
    * expression (session-registered as `vec_dot`). The higher-order
    * `aggregate(zip_with(...))` formulation computes the same value in
    * the same summation order but interprets its lambdas per element —
    * 64 boxed closure calls per candidate pair, and pair count is the
    * thing that scales. The native loop stays inside whole-stage
    * codegen.
    */
  private[operators] def dot(x: Column, y: Column): Column =
    call_function("vec_dot", x, y)

  /** Squared L2 distance expanded to dot products (a·a − 2 a·b + b·b,
    * evaluated left to right by the native `vec_dot`) and rounded to 6
    * decimals, so every argmin and rank on it agrees with the oracle.
    */
  private def sqDist6(a: Column, b: Column): Column =
    round(dot(a, a) - lit(2) * dot(a, b) + dot(b, b), 6)

  /** Cosine similarity of two array<double> columns — native codegen'd
    * expression work, no UDF.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Pair cosine from precomputed norms: at pair-generation time each
    * side's norm is computed ONCE per vector (O(n)), not once per
    * candidate pair (O(n²)) — same floating result as `cosine`
    * (`sqrt(dot(a,a)) * sqrt(dot(b,b))` either way), a third of the
    * per-pair flops.
    */
  def cosinePre(va: Column, vb: Column, na: Column, nb: Column): Column =
    dot(va, vb) / (na * nb)

  /** Embedding vectors with their norm precomputed once per vector. */
  private[operators] def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Brute-force cosine top-k: broadcast query subset × corpus. */
  def annTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = all.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Brute-force MAXIMUM-INNER-PRODUCT top-k — the retrieval objective
    * recommender / reward-model scoring actually optimizes (un-normalized
    * dot product, where cosine's normalization would erase magnitude).
    * MIPS is not a metric search (no triangle inequality), but it
    * REDUCES to cosine NNS by augmentation (Bachrach et al. RecSys'14 /
    * Neyshabur & Srebro '15): append sqrt(M² − ‖x‖²) to each corpus
    * vector and 0 to each query, and cosine rank on the augmented
    * space equals dot rank on the original — so every cosine tier in
    * this file (LSH, IVF, PQ, the full ADC ladder) becomes a MIPS
    * index for free. AnnSearchSpec pins that equivalence; this
    * operator is the exact baseline those tiers approximate, same
    * broadcast-query × corpus shape as [[annTopk]].
    */
  def annMipsTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val q = all.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val scored = all.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("ip", round(dot(col("qv"), col("v")), 6))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("ip").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("ip"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Test hook: the MIPS→cosine augmentation — corpus rows carry the
    * sqrt(M²−‖x‖²) pad, queries a zero pad.
    */
  private[graft] def mipsAugmented(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val all = vecs(spark, dir)
    val m = all.agg(max(col("nrm")).as("m"))
    val corpus = all.crossJoin(broadcast(m))
      .withColumn("va", concat(col("v"),
        array(sqrt(col("m") * col("m") - col("nrm") * col("nrm")))))
      .select(col("vec_id"), col("va"))
    val queries = all.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), concat(col("v"), array(lit(0.0))).as("qa"))
    (corpus, queries)
  }

  /** Hyperplane coefficients derived from md5("p:d") — reproducible in
    * any engine: first 8 hex chars as int, mapped to [-1, 1].
    */
  private def coef(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % 2001 - 1000) / 1000.0
  }

  private lazy val planes: IndexedSeq[IndexedSeq[Double]] =
    (0 until math.max(NumPlanes, NumTables * PlanesPerTable))
      .map(p => (1 to Dims).map(d => coef(p, d)))

  /** Single-table bucket key: concatenated sign bits of the first 8
    * plane projections (used by the embedding-dedup blocking, where one
    * sharp table is the point — high precision blocks).
    */
  private def bucket(v: Column): Column = {
    val bits = planes.take(NumPlanes).map { pl =>
      when(dot(v, typedLit(pl)) > 0, "1").otherwise("0")
    }
    concat(bits: _*)
  }

  /** Table `t`'s 4-bit bucket (planes [4t, 4t+4)). */
  private def tableBucket(v: Column, t: Int): Column =
    concat((t * PlanesPerTable until (t + 1) * PlanesPerTable).map { p =>
      when(dot(v, typedLit(planes(p))) > 0, "1").otherwise("0")
    }: _*)

  /** The multi-table LSH key relation (vec_id, t, b): all `NumTables`
    * (table, bucket) keys of every vector of a (vec_id, v) relation —
    * one body for the in-query keys and the `lsh_keys` artifact build.
    */
  private def lshKeys(vs: DataFrame): DataFrame =
    vs.select(col("vec_id"), explode(array((0 until NumTables).map(t =>
        struct(lit(t).as("t"), tableBucket(col("v"), t).as("b"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))

  /** Vectors with norm + sign-LSH bucket — shared by `annLshTopk` and
    * `Dedup.dedupEmbeddingLsh`.
    */
  private[operators] def bucketedVecs(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).withColumn("bucket", bucket(col("v")))

  /** The (tables × planes-per-table) configurations the angular
    * sensitivity audit scores — every factorization of the 16
    * table-planes.
    */
  private val AngularConfigs = Seq(16 -> 1, 8 -> 2, 4 -> 4, 2 -> 8)

  /** All 16 table-plane sign bits of a vector as one string — the
    * concatenation of the four 4-bit table buckets.
    */
  private def tableBits(v: Column): Column =
    concat((0 until NumTables * PlanesPerTable).map { p =>
      when(dot(v, typedLit(planes(p))) > 0, "1").otherwise("0")
    }: _*)

  /** Calibration-sample size target for [[annLshSensitivity]]'s
    * observed side. A 4-bit bucket holds n/16 of the corpus per table,
    * so the observed (t,b) self-join's candidates grow ∝ n² — fine for
    * a tuning audit on ~10³ vectors, quadratic death on the full
    * corpus. The audit therefore samples the corpus IN-QUERY down to
    * ~this many vectors (deterministic md5-hash-mod, so both engines
    * pick the same rows) and scales the observed pair mass back up by
    * mod² — the unbiased pair-count estimator under uniform vertex
    * sampling. The analytic S-curve columns never depended on the
    * corpus at all; only the observed mass is estimated.
    */
  private val CalibTarget = 1000

  /** Deterministic uniform hash of an id for sampling: first 8 hex
    * chars of md5(decimal string), parsed as a non-negative long —
    * replayable bit-for-bit in DuckDB as
    * `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT`.
    * Shared by every sensitivity audit's calibration sample.
    */
  private[operators] def sampleHash(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** ANGULAR LSH SENSITIVITY — the hyperplane twin of
    * [[Dedup.dedupLshSensitivity]], tuning the multi-table scheme: one
    * row per sign-bit agreement count m ∈ [0, 16] over the 16
    * table-planes, carrying the observed candidate mass (pairs sharing
    * ≥1 table bucket) at that agreement level and the ANALYTIC
    * detection probability 1 − (1 − pᵏ)ᵀ for every (T tables ×
    * k planes) factorization, where p = m/16 is the per-plane
    * collision frequency (for random hyperplanes E[p] = 1 − θ/π, so
    * the row also reports the implied angle). Mass at low agreement is
    * bucket-join work the cosine filter discards; the config columns
    * say what sharper or blunter tables would catch.
    *
    * Scale note: the observed side joins on table buckets, so its cost
    * is bucket occupancy — the audit runs on an in-query CALIBRATION
    * SAMPLE of ~[[CalibTarget]] vectors (`sample_mod` = ⌈n/target⌉
    * from a one-row broadcast count; membership by deterministic
    * hash-mod so the DuckDB oracle samples identically) with observed
    * mass scaled by mod², so the self-join is bounded by the target
    * regardless of corpus size — exactly how banding parameters are
    * chosen before a 100 TB run. Below the target (sf ≤ 0.01) mod = 1
    * and the audit degenerates to the exact full-corpus count.
    * `n_pairs` is the scaled estimate; `n_pairs_obs` the raw sampled
    * count; `sample_mod` the modulus used.
    */
  def annLshSensitivity(spark: SparkSession, dir: String): DataFrame =
    annLshSensitivityAt(spark, dir, CalibTarget)

  /** [[annLshSensitivity]] with an explicit sample-size target —
    * exposed so specs can force mod > 1 on the small test corpora and
    * pin sampled ≡ full grid shape.
    */
  private[graft] def annLshSensitivityAt(
      spark: SparkSession, dir: String, target: Int): DataFrame = {
    val P = NumTables * PlanesPerTable
    // one-row broadcast modulus: ⌈corpus / target⌉ (count-only scan)
    val modRow = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n_corpus"))
      .select(greatest(lit(1L),
        ceil(col("n_corpus") / lit(target.toDouble)).cast("long")).as("smod"))
    val all = vecs(spark, dir)
      .crossJoin(broadcast(modRow))
      .filter(sampleHash(col("vec_id")) % col("smod") === 0)
      .select(col("vec_id"), tableBits(col("v")).as("bits"))
      .localCheckpoint() // key explode + both agreement sides read it
    val keyed = all.select(col("vec_id"), posexplode(array(
      (0 until NumTables).map(t =>
        substring(col("bits"), t * PlanesPerTable + 1, PlanesPerTable)): _*))
      .as(Seq("t", "b")))
    val cand = keyed.select(col("vec_id").as("id_a"), col("t"), col("b"))
      .join(keyed.select(col("vec_id").as("id_b"), col("t"), col("b")),
        Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val agree = (0 until P)
      .map(j => when(substring(col("ba"), j + 1, 1) ===
        substring(col("bb"), j + 1, 1), 1).otherwise(0))
      .reduce(_ + _)
    val observed = cand
      .join(all.select(col("vec_id").as("id_a"), col("bits").as("ba")), "id_a")
      .join(all.select(col("vec_id").as("id_b"), col("bits").as("bb")), "id_b")
      .withColumn("n_agree", agree.cast("long"))
      .groupBy(col("n_agree")).agg(count(lit(1)).as("n_pairs"))
    val p = col("n_agree") / lit(P.toDouble)
    val base = spark.range(0, P + 1L).select(col("id").as("n_agree"))
      .join(observed, Seq("n_agree"), "left")
      .crossJoin(broadcast(modRow))
      .withColumn("n_pairs_obs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("n_pairs",
        col("n_pairs_obs") * col("smod") * col("smod"))
      .withColumn("sample_mod", col("smod"))
      .withColumn("est_plane_agree", round(p, 6))
      .withColumn("est_angle_deg", round(lit(180.0) * (lit(1.0) - p), 6))
    AngularConfigs.foldLeft(base) { case (df, (t, k)) =>
      df.withColumn(s"p_t${t}k$k",
        round(lit(1.0) - pow(lit(1.0) - pow(p, lit(k.toDouble)),
          lit(t.toDouble)), 6))
    }
      .select(col("n_agree") +: col("est_plane_agree") +:
        col("est_angle_deg") +: col("n_pairs") +: col("n_pairs_obs") +:
        col("sample_mod") +:
        AngularConfigs.map { case (t, k) => col(s"p_t${t}k$k") }: _*)
      .orderBy("n_agree")
  }

  /** Multi-table LSH ANN: candidates are vectors sharing a bucket with
    * the query in ANY of the 4 hash tables (equi-join on the exploded
    * (table, bucket) key, broadcast query side), deduplicated to one
    * (query, candidate) pair BEFORE scoring — each survivor is scored
    * once however many tables it matched in; `n_shared` keeps the
    * table-agreement count as a confidence signal. Still never an
    * all-pairs join: cost scales with bucket occupancy × NumTables,
    * and the candidate dedup is map-side-combinable on (q_id, vec_id).
    */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val keyed = lshKeys(all)
    val qKeys = keyed.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("t"), col("b"))
    val pairs = keyed.join(broadcast(qKeys), Seq("t", "b"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(count(lit(1)).as("n_shared"))
    val q = all.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    pairs
      .join(all, "vec_id")
      .join(broadcast(q), "q_id")
      .withColumn("cosine",
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("n_shared"), col("cosine"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF-style ANN: the label column partitions the corpus into
    * inverted lists; list centroids are element-wise means (rounded to
    * 6 decimals so both engines agree bit-for-bit); each query probes
    * its `NProbe` nearest centroids and searches ONLY those lists.
    * Centroid table is tiny (#labels rows) → broadcast; the corpus-side
    * work is one equi-join on the probed labels. At 100 TB the inverted
    * lists are the partitioning scheme: a query touches NProbe/#lists
    * of the data — the recall/cost dial every IVF deployment tunes.
    */
  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    // element-wise mean per label: posexplode → avg per (label, dim) →
    // reassemble ordered — two small shuffles over #labels × 64 rows
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d")).agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))
      .select(col("label").as("c_label"), col("cv"))
    val q = queryVecs(e).withColumn("qnrm", sqrt(dot(col("qv"), col("qv"))))
    // probe: nearest centroid per query (tiny cross join: |q| × #labels)
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("c_cos").desc, col("c_label"))
    val probed = q.crossJoin(broadcast(cent))
      .withColumn("c_cos", cosine(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= NProbe)
      .select(col("q_id"), col("qv"), col("qnrm"), col("c_label").as("probe_label"))
    // search only the probed inverted list
    val corpus = e.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    corpus.join(broadcast(probed), col("label") === col("probe_label"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine",
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("probe_label"), col("cosine"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** k-means lists for the trained-IVF path. */
  private val KmeansK = 8
  private val KmeansIters = 2

  /** One Lloyd assignment step: every vector to its nearest centroid by
    * squared L2 distance. The centroid table is K rows → broadcast, so
    * the step is map-side over the corpus plus one shuffle for the
    * per-vector argmin window on `vec_id` (bounded: K candidates per
    * vector). dist² is expanded to dot products (v·v − 2 v·c + c·c,
    * evaluated left-to-right by the native `vec_dot`) and rounded to 6
    * decimals BEFORE the argmin so both engines pick the same cluster;
    * ties break on the lower cluster id.
    */
  private def kmAssign(e: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("cl"))
    e.crossJoin(broadcast(cent))
      .withColumn("dist2", sqDist6(col("v"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cl"), col("dist2"), col("v"))
  }

  /** One Lloyd update step: element-wise mean of each cluster's members
    * (posexplode → avg per (cluster, dim) → reassemble ordered), rounded
    * to 6 decimals so the next assignment sees identical centroids in
    * both engines. Two shuffles over K × 64 rows — independent of corpus
    * size after the (map-side combined) partial aggregation.
    */
  private def kmCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("cl"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("cl"), col("d")).agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("cl"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))

  /** IVF index TRAINING: `KmeansIters` unrolled Lloyd iterations of
    * k-means (K = 8) over the embedding corpus — the step every IVF
    * deployment runs before `ann_ivf_topk`-style probing, here without
    * leaning on the synthetic `label` column. Init is deterministic
    * (centroid j = the vector with vec_id = j); each iteration is
    * broadcast-assign + tiny mean-update, so per-iteration cost is one
    * corpus scan regardless of K. Centroids are `localCheckpoint()`ed
    * between iterations: the relation is K rows, and truncating there
    * keeps the per-iteration lineage flat instead of stacking one
    * assign+update layer per round (the `dedup_components` lesson).
    * Output is the final assignment (vector → list) with its distance.
    */
  def annKmeansTrain(spark: SparkSession, dir: String): DataFrame =
    kmeansAssignments(spark, dir)
      .select(col("vec_id"), col("cl").as("cluster"), col("dist2"))
      .orderBy(col("vec_id"))

  /** The trained assignment relation (vec_id, cl, dist2, v) — shared
    * with `Dedup.dedupSemantic`, which blocks its pair search on the
    * learned clusters.
    */
  private[operators] def kmeansAssignments(spark: SparkSession, dir: String): DataFrame =
    kmeansAssignmentsOver(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")))

  /** The Lloyd loop over any (vec_id, v) relation — raw vectors for
    * `ann_kmeans_train`/`dedup_semantic`, L2-NORMALIZED ones for the
    * IVFADC coarse quantizer (which must live in the same metric space
    * as the PQ codes it prunes for).
    */
  private def kmeansAssignmentsOver(e0: DataFrame): DataFrame = {
    // widened: each Lloyd pass fans e out ×K and argmins through a
    // vec_id window — vec_id-hashed so the window reuses the
    // partitioning (one exchange, shared by both passes via
    // ReuseExchange, instead of one per assignment)
    val e = Tables.widened(e0, "vec_id")
    var cent = e.filter(col("vec_id") < KmeansK)
      .select(col("vec_id").as("cl"), col("v").as("cv"))
    var assigned = kmAssign(e, cent)
    for (_ <- 1 until KmeansIters) {
      cent = kmCentroids(assigned).localCheckpoint()
      assigned = kmAssign(e, cent)
    }
    assigned
  }

  /** Embeddings L2-normalized onto the unit sphere — the space PQ
    * encodes in ([[pqSubvectors]] divides by the same norm).
    */
  private def normVecs(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .select(col("vec_id"), expr("transform(v, x -> x / nrm)").as("v"))

  /** Product-quantization parameters: M subspaces of Sub dims, Ks
    * codewords per subspace, trained with `PqIters` Lloyd rounds.
    * 64-d doubles (512 B) compress to M = 16 single-byte codes (32×).
    * Calibrated on the synthetic corpus: coarser codebooks (M=4/Ks=4 …
    * M=8/Ks=16) measured 4-24% recall vs brute force; 16×32 measures
    * 42% — level with the LSH/IVF paths on these structure-poor random
    * vectors.
    */
  private val PqM = 16
  private val PqSub = Dims / PqM
  private val PqKs = 32
  private val PqIters = 2

  /** Product-quantization ANN (the Jégou/Douze/Schmid PQ recipe):
    * L2-NORMALIZE each vector (on the unit sphere ‖a−b‖² = 2−2·cosθ,
    * so L2 ranking equals the brute-force cosine ranking and PQ error
    * is pure quantization), split into M=16 subvectors, k-means each
    * subspace to Ks=32 codewords (same unrolled deterministic Lloyd as
    * `ann_kmeans_train`, all subspaces trained in ONE relation keyed
    * by m), encode the corpus as 16 small codes, and answer queries by
    * ASYMMETRIC DISTANCE COMPUTATION: the query precomputes its
    * distance to every codeword (M×Ks = 512 numbers, broadcast), and
    * each corpus vector's approximate distance is a sum of 16 table
    * lookups — no per-pair float vector math at all. This is the
    * memory-side scale story the other ANN paths don't cover: at
    * 100 TB the codes relation is ~32× smaller than the vectors, the
    * ADC scan reads ONLY codes, and the same codes serve every query.
    * ADC alone is still a linear scan (that is PQ's published
    * contract); compose with the IVF list pruning of `ann_ivf_topk`
    * (IVFADC) for sublinear. Distances are rounded to 6 decimals
    * before every argmin/rank so both engines pick identical codes and
    * neighbors; ties break on code/vector id.
    */
  def annPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val (codes, cb) = pqModel(spark, dir)
    val dt = pqDistanceTable(spark, dir, cb)
    // array-at-a-time ADC: each candidate row scores via ONE codegen'd
    // adc_dist6 call against the query's broadcast flattened table —
    // a pure map (the FAISS scan shape), replacing the M×-per-vector
    // exploded (m, code) join + (q, vec) re-aggregation
    adistTopk(foldedCodes(codes).join(broadcast(foldedTables(dt, Seq("q_id"))),
        col("vec_id") =!= col("q_id"))
      .withColumn("adist2", round(
        call_function("adc_dist6", col("codes"), col("dtab")) / 1000000.0, 6)))
  }

  /** Corpus codes folded to one m-ordered array<int> per vector — the
    * stored PQ index shape (M bytes/vector), and the left side of every
    * ADC scan.
    */
  private def foldedCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        s => s.getField("code")).as("codes"))

  /** A query's ADC table folded to ONE flattened array<double> per key
    * ((m, code)-ordered, entry m·Ks+code) — broadcast to the scan.
    */
  private def foldedTables(dt: DataFrame, keys: Seq[String]): DataFrame =
    dt.groupBy(keys.map(col): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("m"), col("code"), col("dsub")))),
        s => s.getField("dsub")).as("dtab"))

  /** Normalized per-(vector, subspace) subvector relation. */
  private def pqSubvectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("raw"))
      .withColumn("nrm", sqrt(dot(col("raw"), col("raw"))))
      .select(col("vec_id"), expr("transform(raw, x -> x / nrm)").as("v"))
      .select(col("vec_id"), subvectors("v").as(Seq("m", "sv")))

  /** The (m, subvector) explode of a 64-d array column into its `PqM`
    * slices of `PqSub` dims.
    */
  private def subvectors(arr: String): Column =
    posexplode(expr(
      s"transform(sequence(0, ${PqM - 1}), m -> slice($arr, m * $PqSub + 1, $PqSub))"))

  /** The trained PQ model: corpus codes (vec_id, m, code) and the final
    * codebook (m, code, cv) — shared by `ann_pq_topk` (full ADC scan)
    * and `ann_ivfadc_topk` (ADC within probed IVF lists).
    */
  private def pqModel(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    pqModelOverSub(pqSubvectors(spark, dir))

  /** The PQ training loop over ANY (vec_id, m, sv) subvector relation —
    * normalized subvectors for the plain PQ/IVFADC paths, RESIDUAL
    * subvectors for `ann_ivfpq_residual`.
    */
  private def pqModelOverSub(sub: DataFrame): (DataFrame, DataFrame) = {
    // one Lloyd assignment over ALL subspaces at once: the codebook is
    // M×Ks rows → broadcast; argmin per (vector, subspace).
    // The subvector relation is materialized ONCE (the seed codebook
    // and every assignment pass read it) with its self-dot
    // precomputed: of the three dots in ‖sv − cv‖² = sv·sv − 2 sv·cv
    // + cv·cv, only the cross term depends on the (subvector,
    // codeword) PAIR — the two self-dots don't belong under the ×Ks
    // candidate fan-out (2/3 of the scoring flops there). Same
    // association and rounding, so the trained model is bit-identical.
    // widened: every assignment pass scores |sub| × Ks candidate rows
    // through this checkpoint — vec_id-hashed so the rank-1 argmin
    // window (clustered on (vec_id, m)) reuses the partitioning
    val subN = Tables.widened(sub, "vec_id")
      .withColumn("svn", dot(col("sv"), col("sv"))).localCheckpoint()
    // argmin stays a rank-1 window on purpose: WindowGroupLimit's
    // PARTIAL mode already truncates to one row per (vector, subspace)
    // per task BEFORE the exchange, so the ×Ks scored fan-out never
    // shuffles. A min_by aggregation was tried here (r13) and
    // discarded: identical row counts, but its (value, ordering)
    // struct-in-struct buffers serialized ~1.5-1.7× the bytes of the
    // window's flat rows — the byte gate flagged both PQ queries.
    def assign(cb: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vec_id"), col("m"))
        .orderBy(col("dsub"), col("code"))
      subN.join(broadcast(cb.withColumn("cvn", dot(col("cv"), col("cv")))), "m")
        .withColumn("dsub", round(
          col("svn") - lit(2) * dot(col("sv"), col("cv")) + col("cvn"), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("code"), col("sv"))
    }
    var cb = subN.filter(col("vec_id") < PqKs)
      .select(col("m"), col("vec_id").cast("int").as("code"), col("sv").as("cv"))
    var assigned = assign(cb)
    for (_ <- 1 until PqIters) {
      cb = assigned
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("d", "x")))
        .groupBy(col("m"), col("code"), col("d"))
        .agg(round(avg(col("x")), 6).as("c"))
        .groupBy(col("m"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
          s => s.getField("c")).as("cv"))
        .localCheckpoint() // M×Ks rows; truncate the per-round lineage
      assigned = assign(cb)
    }
    (assigned.select("vec_id", "m", "code"), cb)
  }

  /** ADC lookup table: each query's distance to every codeword
    * (M×Ks rows per query — broadcast).
    */
  private def pqDistanceTable(spark: SparkSession, dir: String, cb: DataFrame): DataFrame =
    pqSubvectors(spark, dir).filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qs"))
      .join(broadcast(cb), "m")
      .withColumn("dsub", sqDist6(col("qs"), col("cv")))
      .select(col("q_id"), col("m"), col("code"), col("dsub"))

  /** The query side of every probe: the `QueryFilter` vectors of a
    * (vec_id, v) relation as (q_id, qv).
    */
  private def queryVecs(nv: DataFrame): DataFrame =
    nv.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** The IVF probe relation (q_id, cl, qv): each query's `NProbe`
    * nearest list centroids by the same rounded-L2 argmin as list
    * assignment. One body for every IVF-pruned scan, built or served.
    */
  private def ivfProbes(q: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cdist2"), col("cl"))
    q.crossJoin(broadcast(cent))
      .withColumn("cdist2", sqDist6(col("qv"), col("cv")))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= NProbe)
      .select(col("q_id"), col("cl"), col("qv"))
  }

  /** The pruned ADC scan (q_id, vec_id, adist2): probed lists pick the
    * candidates, the folded code array rides the vec_id join, the
    * folded query table rides the `keys` join — scoring is one
    * map-side adc_dist6 per candidate. Equi-joins only.
    */
  private def adcScan(lists: DataFrame, probes: DataFrame, codes: DataFrame,
      tables: DataFrame, keys: Seq[String]): DataFrame =
    lists
      .join(broadcast(probes), "cl")
      .filter(col("vec_id") =!= col("q_id"))
      .join(codes, "vec_id")
      .join(broadcast(tables), keys)
      .withColumn("adist2", round(
        call_function("adc_dist6", col("codes"), col("dtab")) / 1000000.0, 6))
      .select(col("q_id"), col("vec_id"), col("adist2"))

  /** The top-`TopK` cut of any (q_id, vec_id, adist2) scored relation —
    * shared by every quantized ANN form, so rank tie-breaks and output
    * columns cannot drift between them.
    */
  private def adistTopk(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist2"), col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("adist2"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVFADC — the composed production ANN shape (the second half of
    * the Jégou et al. paper): the IVF coarse quantizer
    * (`kmeansAssignments`, K=8 lists) prunes WHICH vectors are scored,
    * and the PQ codes decide HOW each survivor is scored (ADC table
    * lookups, no vector math). A query probes its `NProbe` nearest
    * list centroids, then runs ADC only over codes in those lists:
    * cost = nprobe/K of the code relation per query, and the code
    * relation is already 32× smaller than the vectors — the two
    * multiplicative reductions every billion-scale deployment stacks.
    * The coarse quantizer trains on the SAME L2-normalized vectors the
    * PQ codes encode (the published IVFADC setup): lists, probes and
    * ADC ranking then share one metric space, so list pruning keeps
    * the neighbors ADC would rank highest — training it on raw vectors
    * measured ~2× worse recall (ADVICE r4). Probing uses the same
    * rounded-L2 argmin as list assignment, on centroids recomputed
    * from the final assignment (a valid quantizer on both sides — the
    * oracle recomputes identically). One corpus shuffle joins codes to
    * list ids on vec_id; probes and the ADC table are broadcast.
    */
  def annIvfadcTopk(spark: SparkSession, dir: String): DataFrame =
    adistTopk(ivfadcAdcScores(spark, dir))

  /** The ADC-scored candidate relation (q_id, vec_id, adist2) within
    * probed IVF lists, index built in the query — shared by the plain
    * top-k cut and the exact-re-ranked variant.
    */
  private def ivfadcAdcScores(spark: SparkSession, dir: String): DataFrame = {
    val (codes, cb) = pqModel(spark, dir)
    val lists = kmeansAssignmentsOver(normVecs(spark, dir))
    val cent = kmCentroids(lists.select(col("cl"), col("v")))
    ivfadcScoresOver(spark, dir, lists.select(col("vec_id"), col("cl")), cent,
      foldedCodes(codes), cb)
  }

  /** The IVFADC probe over (lists, centroids, folded codes, codebook) —
    * one body for the built and the served index.
    */
  private def ivfadcScoresOver(spark: SparkSession, dir: String, lists: DataFrame,
      cent: DataFrame, codes: DataFrame, cb: DataFrame): DataFrame = {
    val probes = ivfProbes(queryVecs(normVecs(spark, dir)), cent).select("q_id", "cl")
    val dt = pqDistanceTable(spark, dir, cb)
    adcScan(lists, probes, codes, foldedTables(dt, Seq("q_id")), Seq("q_id"))
  }

  /** ADC shortlist depth for the exact re-ranking stage. */
  private val RerankR = 20

  /** IVFADC + EXACT RE-RANKING — the two-stage retrieval every
    * production PQ deployment runs (FAISS's `IndexRefine`): ADC ranks a
    * shortlist of `RerankR` candidates per query from the compressed
    * codes, then ONLY those ≤ R rows fetch their full vectors and are
    * re-scored with exact L2 in the normalized space. Quantization
    * error then affects which candidates make the shortlist, never the
    * final order — recall(k) can only improve over raw ADC at the cost
    * of R exact distance evaluations per query (R · #queries vector
    * fetches — independent of corpus size, the property that makes
    * refinement affordable at 100 TB where the full vectors live on
    * cold storage and only the codes stay hot).
    */
  def annIvfadcRerank(spark: SparkSession, dir: String): DataFrame =
    adcRerank(ivfadcAdcScores(spark, dir), normVecs(spark, dir))

  /** The ADC shortlist (`RerankR` per query) of a scored relation,
    * exactly re-ranked.
    */
  private def adcRerank(scores: DataFrame, nv: DataFrame): DataFrame = {
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adist2"), col("vec_id"))
    exactRerank(scores
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= RerankR), nv, "adist2")
  }

  /** The exact stage of every two-stage form: the shortlist's rows
    * fetch their full vectors from `nv`, re-score with exact L2, and
    * keep the top `TopK`; `score` names the first-stage column carried
    * into the output.
    */
  private def exactRerank(shortlist: DataFrame, nv: DataFrame, score: String): DataFrame = {
    val wExact = Window.partitionBy(col("q_id")).orderBy(col("dist2"), col("vec_id"))
    shortlist
      .join(nv, "vec_id")
      .join(broadcast(queryVecs(nv)), "q_id")
      .withColumn("dist2", round(
        dot(col("v"), col("v")) - lit(2) * dot(col("qv"), col("v"))
          + dot(col("qv"), col("qv")), 6))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col(score), col("dist2"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The IVF coarse-quantizer artifacts SERVED from their write-once
    * bucketed tables ([[graft.sources.ArtifactStore]]): list
    * assignments (vec_id → cl, bucketed on vec_id — the key the ADC
    * scan joins on) and the K centroids. Trained in ONE Lloyd pass on
    * first touch per JVM (the `localCheckpoint` makes both artifacts
    * derive from the same materialized assignment, not two trainings);
    * every later query reads tables — the FAISS split between
    * `index.train()` (offline, once) and `index.search()` (per query).
    */
  private def servedIvfArtifacts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val arts = ArtifactStore.ensureMany(spark, dir,
      Seq(("ivf_lists", "vec_id", 8), ("ivf_centroids", "cl", 1))) {
      // the training pass runs lazily INSIDE the group lock, at most
      // once across concurrent first callers; the localCheckpoint makes
      // both artifacts derive from one materialized assignment
      val trained = kmeansAssignmentsOver(normVecs(spark, dir)).localCheckpoint()
      Map(
        "ivf_lists" -> trained.select(col("vec_id"), col("cl")),
        "ivf_centroids" -> kmCentroids(trained.select(col("cl"), col("v"))))
    }
    (arts("ivf_lists"), arts("ivf_centroids"))
  }

  /** The PQ model artifacts SERVED: folded corpus codes (vec_id →
    * array<int>, the M-bytes-per-vector stored index shape, bucketed
    * on vec_id) and the M×Ks codebook. One `pqModel` training pass on
    * first touch; codes and codebook persist together so they can
    * never drift out of step.
    */
  private def servedPqArtifacts(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val arts = ArtifactStore.ensureMany(spark, dir,
      Seq(("pq_codes", "vec_id", 8), ("pq_codebook", "m", 1))) {
      val model = pqModel(spark, dir)
      Map("pq_codes" -> foldedCodes(model._1), "pq_codebook" -> model._2)
    }
    (arts("pq_codes"), arts("pq_codebook"))
  }

  /** [[ivfadcAdcScores]] over the persisted artifacts: identical math,
    * but k-means/PQ training is REPLACED by four table scans — the
    * query pays only its own probe work (query ADC table + pruned ADC
    * scan + rank), which is the per-query cost profile a 100 TB
    * deployment actually has. ArtifactStoreSpec pins served ≡
    * self-contained row-for-row.
    */
  private def ivfadcAdcScoresServed(spark: SparkSession, dir: String): DataFrame = {
    val (codes, cb) = servedPqArtifacts(spark, dir)
    val (lists, cent) = servedIvfArtifacts(spark, dir)
    ivfadcScoresOver(spark, dir, lists, cent, codes, cb)
  }

  /** [[annIvfadcTopk]] served from the artifact tier — same output,
    * probe-side cost only.
    */
  def annIvfadcServed(spark: SparkSession, dir: String): DataFrame =
    adistTopk(ivfadcAdcScoresServed(spark, dir))

  /** [[annIvfadcRerank]] served from the artifact tier: ADC shortlist
    * from the stored codes, exact re-score fetching only the ≤ R
    * shortlisted vectors — the full two-stage FAISS serving path with
    * zero training in the query.
    */
  def annIvfadcRerankServed(spark: SparkSession, dir: String): DataFrame =
    adcRerank(ivfadcAdcScoresServed(spark, dir), normVecs(spark, dir))

  /** Corpus residuals r(x) = x − q1(x) of an assignment (vec_id, cl, v)
    * against its centroids, split into PQ training subvectors
    * (vec_id, m, sv) — one broadcast-join subtraction, map-side.
    */
  private def residualSubvectors(assigned: DataFrame, cent: DataFrame): DataFrame =
    assigned.select(col("vec_id"), col("cl"), col("v"))
      .join(broadcast(cent.select(col("cl"), col("cv"))), "cl")
      .select(col("vec_id"), expr("zip_with(v, cv, (a, b) -> a - b)").as("rv"))
      .select(col("vec_id"), subvectors("rv").as(Seq("m", "sv")))

  /** The residual-PQ probe over (lists, centroids, folded residual
    * codes, residual codebook): the per-(query, probed list) residual
    * ADC tables — the query residual differs per list, so the table is
    * #queries × nprobe × M × Ks rows, still broadcast — folded to one
    * flattened array each, then the pruned ADC scan and top-k.
    */
  private def residualTopkOver(q: DataFrame, lists: DataFrame, cent: DataFrame,
      codes: DataFrame, cb: DataFrame): DataFrame = {
    val probes = ivfProbes(q, cent)
    val qrsub = probes
      .join(broadcast(cent.select(col("cl"), col("cv"))), "cl")
      .select(col("q_id"), col("cl"),
        expr("zip_with(qv, cv, (a, b) -> a - b)").as("rq"))
      .select(col("q_id"), col("cl"), subvectors("rq").as(Seq("m", "qs")))
    val dt = qrsub.join(broadcast(cb), "m")
      .withColumn("dsub", sqDist6(col("qs"), col("cv")))
      .select(col("q_id"), col("cl"), col("m"), col("code"), col("dsub"))
    val keys = Seq("q_id", "cl")
    adistTopk(adcScan(lists, probes.select("q_id", "cl"), codes,
      foldedTables(dt, keys), keys))
  }

  /** The RESIDUAL-PQ serving group — all FOUR relations the serving
    * query reads (coarse lists, centroids, folded residual codes,
    * residual codebook), persisted together from ONE training pass.
    * The lists/centroids are intentionally duplicated from the ivf
    * group (n + K tiny rows): the scan joins codes AGAINST lists and
    * probes AGAINST centroids, so all four must come from the same
    * training run — making that a single `ensureMany` group makes the
    * coherence STRUCTURAL (the group commits or rebuilds as a unit)
    * instead of resting on k-means determinism across independently
    * rebuilt groups. Determinism still holds (the oracle depends on
    * it), but it is no longer load-bearing for cross-table coherence.
    */
  private def servedResidualPqArtifacts(
      spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val arts = ArtifactStore.ensureMany(spark, dir,
      Seq(("pq_res_lists", "vec_id", 8), ("pq_res_centroids", "cl", 1),
        ("pq_res_codes", "vec_id", 8), ("pq_res_codebook", "m", 1))) {
      val trained = kmeansAssignmentsOver(normVecs(spark, dir)).localCheckpoint()
      val lists = trained.select(col("vec_id"), col("cl"))
      val cent = kmCentroids(trained.select(col("cl"), col("v")))
        .localCheckpoint() // read by the residual subtraction AND persisted
      val (codes, cb) = pqModelOverSub(residualSubvectors(trained, cent))
      Map("pq_res_lists" -> lists, "pq_res_centroids" -> cent,
        "pq_res_codes" -> foldedCodes(codes), "pq_res_codebook" -> cb)
    }
    (arts("pq_res_lists"), arts("pq_res_centroids"),
      arts("pq_res_codes"), arts("pq_res_codebook"))
  }

  /** [[annIvfpqResidual]] served from the artifact tier: coarse lists,
    * centroids, residual codes and residual codebook are all table
    * scans (one coherent group — see [[servedResidualPqArtifacts]]),
    * so the query pays only its probe work — the per-(query,
    * probed list) residual ADC tables (still broadcast: #queries ×
    * nprobe × M × Ks rows) and the pruned ADC scan. Identical math and
    * rounding to the self-contained form; shares its oracle.
    */
  def annIvfpqResidualServed(spark: SparkSession, dir: String): DataFrame = {
    val (lists, cent, codes, cb) = servedResidualPqArtifacts(spark, dir)
    residualTopkOver(queryVecs(normVecs(spark, dir)), lists, cent, codes, cb)
  }

  /** IVFPQ with RESIDUAL encoding — the EXACT published IVFADC recipe
    * (Jégou et al. §III: "the residual vector r(x) = x − q1(x) is
    * quantized by the product quantizer"): PQ codebooks train on the
    * residuals LEFT OVER after the coarse quantizer, not on the raw
    * vectors, so the 8-bit-per-subspace budget models the within-list
    * displacement instead of re-spending it on the list position the
    * coarse quantizer already encodes — the reason every production
    * IVFPQ index encodes residuals. Consequences in the plan:
    *  - the corpus residual relation is one broadcast-join subtraction
    *    (zip_with) over the assignment — map-side;
    *  - the query ADC table becomes per-(query, PROBED LIST): the query
    *    residual differs per list, so the table is #queries × nprobe ×
    *    M × Ks rows — still broadcast (nprobe and M·Ks are constants);
    *  - scoring is unchanged: table lookups summed per candidate, one
    *    (q, vec) aggregation, rank window.
    */
  def annIvfpqResidual(spark: SparkSession, dir: String): DataFrame = {
    val nv = normVecs(spark, dir)
    val lists = kmeansAssignmentsOver(nv)
    // centroids read by the corpus residuals, the probes AND the query
    // residuals: one materialization (K rows)
    val cent = kmCentroids(lists.select(col("cl"), col("v"))).localCheckpoint()
    val (codes, cb) = pqModelOverSub(residualSubvectors(lists, cent))
    residualTopkOver(queryVecs(nv), lists.select(col("vec_id"), col("cl")), cent,
      foldedCodes(codes), cb)
  }

  /** The SQ8 index over a (vec_id, v) relation: the 64-row range model
    * (the "training" of a scalar quantizer), folded to ONE row of
    * d-ordered (lo, hi) arrays so it broadcasts to every scan task as a
    * single row — array_sort on the (d, …) structs is the deterministic
    * ordering, collect_list order is not — and the corpus encoded ONCE,
    * array-at-a-time: 64 doubles → array<int> per vector through the
    * native codegen'd sq8_enc (constant dims → 0). The codes are the
    * stored index; the exploded form would be 64 rows/vector.
    */
  private def sq8Index(nv: DataFrame): (DataFrame, DataFrame) = {
    val mm = nv.select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(round(min(col("x")), 6).as("lo"), round(max(col("x")), 6).as("hi"))
    val model = mm.agg(
      expr("transform(array_sort(collect_list(struct(d, lo))), s -> s.lo)").as("lo_arr"),
      expr("transform(array_sort(collect_list(struct(d, hi))), s -> s.hi)").as("hi_arr"))
      .localCheckpoint() // read by encode AND scan; 1 row, one subtree
    val codes = nv.crossJoin(broadcast(model))
      .select(col("vec_id"),
        call_function("sq8_enc", col("v"), col("lo_arr"), col("hi_arr")).as("codes"))
    (model, codes)
  }

  /** SQ8 — SCALAR quantization ANN (FAISS `IndexScalarQuantizer`, the
    * other standard compression next to PQ): each DIMENSION compresses
    * independently to 8 bits against the corpus per-dim [min, max]
    * range — 64 doubles (512 B) → 64 bytes, no codebook training, and
    * unlike PQ the decode is a multiply-add, so the scan stays fully
    * codegen-friendly. Distances are computed query-exact vs
    * dequantized corpus codes (the asymmetric setup, like ADC). The
    * train relation is ONE 64-row (dim, lo, hi) aggregate — broadcast;
    * encode is map-side; the scan is a (query × code) equi-join on dim
    * with integer-scaled order-free term sums (the BM25 discipline).
    * Constant dims (hi = lo) encode to 0 and dequantize to lo exactly.
    * At 100 TB: SQ8 is the "cheap 8× compression, near-exact recall"
    * tier deployments try BEFORE PQ's 32×; same scan shape, no
    * training step to keep fresh.
    */
  def annSq8Topk(spark: SparkSession, dir: String): DataFrame = {
    val nv = normVecs(spark, dir)
    val (model, codes) = sq8Index(nv)
    // the scan: pure map over (corpus × queries) — query-exact vs
    // dequantized codes, the whole 64-term integer-scaled sum inside
    // one codegen'd expression; NO explode, NO re-aggregation
    adistTopk(codes.crossJoin(broadcast(model))
      .join(broadcast(queryVecs(nv)), col("vec_id") =!= col("q_id"))
      .withColumn("t6",
        call_function("sq8_dist", col("qv"), col("codes"),
          col("lo_arr"), col("hi_arr")))
      .withColumn("adist2", round(col("t6") / 1000000.0, 6)))
  }

  /** IVF + SQ8 — the list-pruned scalar-quantized tier (FAISS
    * `IndexIVFScalarQuantizer`): the coarse quantizer of
    * [[annIvfadcTopk]] decides WHICH vectors are scored (nprobe/K of
    * the corpus per query) and SQ8 codes decide HOW (the codegen'd
    * asymmetric `sq8_dist` scan of [[annSq8Topk]]) — composing the two
    * standard reductions at a higher fidelity point than IVFADC: 8×
    * compression with near-exact per-candidate distances instead of
    * PQ's 32×-with-codebook-error. This is the configuration vector
    * stores deploy when memory affords a byte per dimension — same
    * sublinear probe cost, no PQ training to keep fresh, recall
    * limited only by list pruning. Plan shape: the range model and
    * probe relation broadcast; one corpus shuffle joins codes to list
    * ids on vec_id; scoring is map-side.
    */
  def annIvfSq8Topk(spark: SparkSession, dir: String): DataFrame = {
    val nv = normVecs(spark, dir)
    val lists = kmeansAssignmentsOver(nv)
    val cent = kmCentroids(lists.select(col("cl"), col("v")))
    // SQ8 range model + codes over the SAME normalized space the
    // coarse quantizer partitions (one metric space end to end, the
    // IVFADC discipline)
    val (model, codes) = sq8Index(nv)
    val q = queryVecs(nv)
    adistTopk(lists.select(col("vec_id"), col("cl"))
      .join(broadcast(ivfProbes(q, cent).select("q_id", "cl")), "cl")
      .filter(col("vec_id") =!= col("q_id"))
      .join(codes, "vec_id")
      .join(broadcast(q), "q_id")
      .crossJoin(broadcast(model))
      .withColumn("adist2", round(
        call_function("sq8_dist", col("qv"), col("codes"),
          col("lo_arr"), col("hi_arr")) / 1000000.0, 6)))
  }

  /** The BQ sign-code scan: each normalized vector's 64 sign bits
    * packed into two 32-bit halves (lo, hi), every query code
    * broadcast against the corpus codes and scored by
    * `bit_count(xor)` per half → (q_id, vec_id, hamming, …).
    */
  private def bqScan(spark: SparkSession, dir: String): DataFrame = {
    val bits = normVecs(spark, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      .withColumn("b", col("x") > 0)
    val codes = bits.groupBy(col("vec_id")).agg(
      sum(when(col("d") < 32 && col("b"), expr("shiftleft(CAST(1 AS BIGINT), d)"))
        .otherwise(0L)).as("lo"),
      sum(when(col("d") >= 32 && col("b"), expr("shiftleft(CAST(1 AS BIGINT), d - 32)"))
        .otherwise(0L)).as("hi"))
    val q = codes.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))
    codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .withColumn("hamming",
        (expr("bit_count(lo ^ qlo)") + expr("bit_count(hi ^ qhi)")).cast("long"))
  }

  /** BINARY quantization ANN — the 1-bit tier that completes the
    * compression ladder (BQ 256× / SQ8 8× / PQ 32× / IVFADC): each
    * dimension keeps only its SIGN, the 64-bit pattern packs into two
    * 32-bit halves (sign-safe in BIGINT on both engines), and distance
    * is pure bit arithmetic — `bit_count(xor)` per half, summed. The
    * sign estimator ranks by the hyperplane-crossing count (E[hamming]
    * = 64·θ/π), reported alongside the implied cosine cos(π·h/64).
    * This is the scan modern vector stores run FIRST (16 B/vector,
    * SIMD-popcount speed) before refining survivors with a
    * higher-fidelity tier — compose with `ann_ivfadc_rerank`'s exact
    * stage for that shape. The scan is a broadcast of the (tiny) query
    * code relation against the corpus codes — deliberately a full
    * compressed linear scan, like ADC.
    */
  def annBqTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("hamming"), col("vec_id"))
    bqScan(spark, dir)
      .withColumn("est_cosine",
        round(cos(col("hamming") * math.Pi / Dims), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("hamming"), col("est_cosine"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** BQ + EXACT RE-RANKING — the two-stage retrieval the BQ scan
    * exists to head ([[annBqTopk]]'s 16 B/vector popcount pass feeds
    * [[annIvfadcRerank]]'s refine shape): hamming ranks a `RerankR`
    * shortlist per query, ONLY those rows fetch full vectors for exact
    * L2 in the normalized space. This is the memory floor of the
    * ladder — the hot set is 2 longs/vector, the full vectors stay
    * cold, and the exact stage costs R·#queries fetches regardless of
    * corpus size. Sign bits carry no magnitude, so raw BQ ranking is
    * the ladder's coarsest; refinement recovers exact order within the
    * shortlist, recall then limited only by what 64 sign bits let into
    * the top R.
    */
  def annBqRerank(spark: SparkSession, dir: String): DataFrame = {
    val wBq = Window.partitionBy(col("q_id")).orderBy(col("hamming"), col("vec_id"))
    val shortlist = bqScan(spark, dir)
      .withColumn("bq_rank", row_number().over(wBq))
      .filter(col("bq_rank") <= RerankR)
      .select(col("q_id"), col("vec_id"), col("hamming"))
    exactRerank(shortlist, normVecs(spark, dir), "hamming")
  }

  /** RRF constant (the published default) and per-leg candidate depth. */
  private[operators] val RrfK = 60
  private[operators] val RrfCand = 10
  private[graft] val RrfTopK = 5

  /** Hybrid retrieval: multi-table-LSH vector ranking fused with an
    * Okapi-BM25 lexical ranking by reciprocal rank fusion —
    * `rrf = Σ_legs 1/(k + rank_leg)`, k = 60 — the standard
    * hybrid-search shape (every production vector store pairs its ANN
    * index with a lexical index exactly this way). Queries are the
    * `vec_id % 50 = 0` vectors; the corpus text rides the 1:1
    * doc_id = vec_id correspondence of the `documents`/`embeddings`
    * tables.
    *
    * Each leg is independently the scale path of its family:
    *  - vector: LSH-bucket candidates only (cost = bucket occupancy ×
    *    tables, never corpus²), cosine from per-vector precomputed
    *    norms, per-query top-10 via a q_id-partitioned window
    *    (WindowGroupLimit forwards ≤ 10 rows per task);
    *  - lexical: the query docs' term postings pruned map-side by a
    *    broadcast (q, term) relation (an inverted-index probe — the
    *    corpus tf relation shuffles once on doc_id and is shared), the
    *    same order-independent integer-scaled BM25 sum as
    *    `text_bm25_topk`.
    * Fusion itself joins two ≤ 10-row-per-query rank relations — at
    * any corpus size the fused relation is O(#queries · depth), so the
    * expensive side of hybrid retrieval stays inside the blocked legs.
    * A candidate found by only one leg keeps its one reciprocal term
    * (rank columns stay null for the missing leg — exactly how RRF
    * handles disjoint result lists).
    */
  def annRrfFusion(spark: SparkSession, dir: String): DataFrame = {
    // vector leg: LSH candidates → cosine rank ≤ RrfCand per query
    val vecRanked = rrfVecRanked(spark, dir)

    // lexical leg: BM25 of each candidate doc against the query doc's
    // distinct terms (same arithmetic + integer-scaled order-free sum
    // as TextAnalysis.textBm25Topk)
    // the tf posting relation feeds FOUR derived relations (df, dl,
    // stats, the query-term probe) plus the scoring join — checkpoint
    // it so the corpus explode+aggregate runs once, not five times
    // (same shared-relation discipline as the Dedup shingle relation)
    val tf = bm25Tf(Tables.documents(spark, dir)).localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val lexRanked = bm25LexRanked(tf, df, dl)

    // fusion: two ≤ RrfCand-per-query rank lists, full outer on (q, id)
    rrfFuse(vecRanked, lexRanked)
  }

  /** The fusion tail shared by all three forms (self-contained,
    * served, capped) — one body, so the reciprocal-rank arithmetic,
    * rounding, and tie-breaks cannot drift between them.
    */
  private def rrfFuse(vecRanked: DataFrame, lexRanked: DataFrame): DataFrame = {
    val wFuse = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("id"))
    vecRanked.join(lexRanked, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("vec_rank") + RrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("lex_rank") + RrfK), lit(0.0)), 6))
      .withColumn("rank", row_number().over(wFuse))
      .filter(col("rank") <= RrfTopK)
      .select(col("q_id"), col("id").as("neighbor_id"),
        col("vec_rank"), col("lex_rank"), col("rrf"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** The hybrid-retrieval index artifacts SERVED from their bucketed
    * tables: the multi-table LSH keys (16 hyperplane projections per
    * vector) and the BM25 inverted-index relations (term postings +
    * document frequencies + document lengths). Real hybrid search
    * keeps exactly these hot — the posting lists and the hash tables —
    * while raw text/vectors stay cold; per query only the probe joins
    * and the fusion run.
    */
  private[operators] def servedLshKeys(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "lsh_keys", "vec_id", 8)(
      lshKeys(vecs(spark, dir)))

  /** The vector leg of the RRF fusion, self-contained: multi-table LSH
    * bucket candidates (the bucket keys checkpointed so the 16
    * hyperplane projections per vector run once across the corpus and
    * query sides), cosine from precomputed norms, rank ≤ [[RrfCand]]
    * per query via a q_id-partitioned window.
    */
  private[graft] def rrfVecRanked(spark: SparkSession, dir: String): DataFrame = {
    val all = vecs(spark, dir)
    val keyed = lshKeys(all).localCheckpoint()
    rrfVecRankedOver(all, keyed)
  }

  /** The leg body over ANY (vec_id, t, b) key relation — in-query keys
    * for the self-contained form, the `lsh_keys` artifact for the
    * served one: one body, so the forms sharing an oracle cannot drift
    * in candidate generation, cosine rounding, or the rank tie-break.
    */
  private def rrfVecRankedOver(all: DataFrame, keyed: DataFrame): DataFrame =
    rrfVecRankedSplit(all, keyed, keyed)

  /** The leg body with SEPARATE corpus-side and probe-side key
    * relations — the capped form reads candidates from the
    * scan-depth-capped bucket table while queries keep probing with
    * their own (uncapped) keys: a query past the cap depth must still
    * search, it just can't be FOUND deeper than the cap.
    */
  private def rrfVecRankedSplit(all: DataFrame, corpusKeys: DataFrame,
      probeKeys: DataFrame): DataFrame = {
    val qKeys = probeKeys.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("t"), col("b"))
    val vecCand = corpusKeys.join(broadcast(qKeys), Seq("t", "b"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val q = all.filter(expr(QueryFilter))
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val wVec = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    vecCand
      .join(all, "vec_id")
      .join(broadcast(q), "q_id")
      .withColumn("cosine",
        round(cosinePre(col("qv"), col("v"), col("qnrm"), col("nrm")), 6))
      .withColumn("vec_rank", row_number().over(wVec))
      .filter(col("vec_rank") <= RrfCand)
      .select(col("q_id"), col("vec_id").as("id"), col("vec_rank"))
  }

  /** The BM25 tf posting relation (doc_id, term, tf) for any documents
    * relation — lowercased whitespace tokenization, one explode + one
    * keyed aggregation. Shared by the self-contained fusion query, the
    * artifact build, and [[IndexMaintenance]]'s incremental postings
    * refresh, so the three can never tokenize differently.
    */
  private[graft] def bm25Tf(docs: DataFrame): DataFrame =
    // widened: the tokenize+explode is the corpus-scan-fused work; the
    // doc_id hash ALSO satisfies the (doc_id, term) aggregation's
    // clustering (subset rule), so the agg needs no exchange of the
    // exploded tokens — strictly fewer shuffled bytes when it fires
    Tables.widened(docs, "doc_id")
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Per-(term, doc) BM25 IMPACT WEIGHTS from any (tf, df, dl) posting
    * relations: Robertson/Spärck-Jones idf × the k1/b-saturated tf
    * term, integer-scaled to a bigint. The weight is a property of the
    * INDEX, not of any query — computing it here, once per (term, doc)
    * posting (3.7M rows at 5×), instead of once per (query, term, doc)
    * candidate (43.5M rows — the r13 profile's dominant cost) is the
    * impact-ordered-postings idea from the IR literature (Anh &
    * Moffat): the per-candidate work degrades to an integer sum.
    */
  private[graft] def bm25Weights(tf: DataFrame, df: DataFrame,
      dl: DataFrame): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    tf
      .join(df, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))))
      .select(col("term"), col("doc_id"),
        round(col("c") * 1000000, 0).cast("bigint").as("w6"))
  }

  /** The BM25 leg of the RRF fusion over a per-(term, doc) weight
    * relation: broadcast the query terms into the postings fan-out,
    * integer-sum per (query, doc), top-`RrfCand` per query. The
    * candidate relation carries only (term, doc_id, w6) — no float
    * math after the fan-out — and when `w` is the doc_id-bucketed
    * artifact the aggregation rides the bucketing; the only exchange
    * left is the per-query rank window.
    */
  private def bm25LexRankedFromW(w: DataFrame, qTerms: DataFrame): DataFrame =
    lexRankTail(w
      .join(broadcast(qTerms), "term")
      .filter(col("doc_id") =!= col("q_id")))

  /** The lexical rank tail over any (q_id, doc_id, w6) per-term score
    * relation: integer sum per (query, doc), top-`RrfCand` per query —
    * one body for the full and the capped leg.
    */
  private def lexRankTail(termScores: DataFrame): DataFrame = {
    val wLex = Window.partitionBy(col("q_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    termScores
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("w6")).as("s6"))
      .withColumn("bm25", round(col("s6") / 1000000.0, 6))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= RrfCand)
      .select(col("q_id"), col("doc_id").as("id"), col("lex_rank"))
  }

  /** The query-term relation of the fixed fusion query model (every
    * 50th document probes with all its terms).
    */
  private def bm25QTerms(tf: DataFrame): DataFrame =
    tf.filter(expr("doc_id % 50 = 0"))
      .select(col("doc_id").as("q_id"), col("term"))

  /** The BM25 leg over raw (tf, df, dl) postings — weights computed
    * in-query. One scoring body for the self-contained build, the
    * artifact-served twin, and the maintained-postings path — the
    * relations differ, the arithmetic never does (a per-(term, doc)
    * weight rounds identically whether computed per posting here or
    * persisted by the `bm25_w` artifact build).
    */
  private[graft] def bm25LexRanked(tf: DataFrame, df: DataFrame,
      dl: DataFrame): DataFrame =
    // materialize the weights before the query-term fan-out: inlined,
    // the weight expression (log + saturation arithmetic and the
    // df/dl broadcast probes) re-evaluates once per FAN-OUT row —
    // |postings| × |matching queries| times — instead of once per
    // posting (measured 4.9 s vs 1.8 s at sf0.1's 8.7 M-row fan-out).
    // The served twin gets the same barrier for free from its
    // persisted `bm25_w` artifact.
    bm25LexRankedFromW(bm25Weights(tf, df, dl).localCheckpoint(),
      bm25QTerms(tf))

  private[operators] def servedBm25(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.sources.ArtifactStore
    val tf = ArtifactStore.ensure(spark, dir, "bm25_tf", "doc_id", 8)(
      bm25Tf(Tables.documents(spark, dir)))
    // df/dl derive from the tf ARTIFACT — the corpus text is never
    // re-tokenized once the postings exist
    val df = ArtifactStore.ensure(spark, dir, "bm25_df", "term", 8)(
      tf.groupBy(col("term")).agg(count(lit(1)).as("df")))
    val dl = ArtifactStore.ensure(spark, dir, "bm25_dl", "doc_id", 8)(
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
    (tf, df, dl)
  }

  /** The per-(term, doc) BM25 impact weights SERVED from their
    * doc_id-bucketed artifact — the impact-ordered posting list a
    * lexical engine actually stores hot. Built once from the posting
    * artifacts ([[bm25Weights]] — the same expression the
    * self-contained form evaluates in-query, so served and
    * self-contained can never round differently); per query the leg
    * is fan-out + integer sum + rank.
    */
  private[operators] def servedBm25W(spark: SparkSession, dir: String): DataFrame = {
    val (tf, df, dl) = servedBm25(spark, dir)
    graft.sources.ArtifactStore.ensure(spark, dir, "bm25_w", "doc_id", 8)(
      bm25Weights(tf, df, dl))
  }

  /** The (vec_id, v, nrm) corpus relation SERVED from its bucketed
    * artifact table: the decoded double vectors WITH their norms
    * precomputed at build time — what a vector store's sealed segment
    * holds. A reader pays one table scan instead of the per-query
    * binary→double cast plus a `vec_dot(v, v)` per row per reference
    * (SQL `WITH` CTEs inline, so the text form was paying that twice).
    */
  private[operators] def servedVecNorms(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "vec_norms", "vec_id", 8)(
      vecs(spark, dir))

  /** [[annRrfFusion]] served from the artifact tier: identical legs
    * and fusion, zero index construction in the query — the most
    * expensive fleet query (7.1 s quiet r8) reduced to its probe work.
    */
  def annRrfFusionServed(spark: SparkSession, dir: String): DataFrame = {
    val vecRanked = rrfVecRankedOver(vecs(spark, dir), servedLshKeys(spark, dir))
    val (tf, _, _) = servedBm25(spark, dir)
    val lexRanked = bm25LexRankedFromW(servedBm25W(spark, dir), bm25QTerms(tf))
    rrfFuse(vecRanked, lexRanked)
  }

  /** Scan-depth cap per LSH bucket and impact-ordered posting
    * truncation depth — the two index-side levers the organic ×10
    * scale point demanded (PLANS.md r14): on a duplicate-heavy corpus
    * BOTH fusion legs' per-query candidate sets grow ∝ corpus (bucket
    * occupancy and posting length both ∝ n), so the uncapped fusion's
    * shuffle bytes measured exp 2.68. The caps bound per-query work by
    * a CONSTANT: ≤ `RrfBucketCap` candidates per probed bucket (the
    * max-partition-scan-depth rule every production ANN service runs)
    * and ≤ `RrfPostCap` postings per term, kept in IMPACT order
    * (Anh & Moffat: highest-w6 postings first — the docs a truncated
    * scan keeps are exactly the docs the full scan would rank
    * highest for that term).
    */
  private[graft] val RrfBucketCap = 128
  private[graft] val RrfPostCap = 128

  /** Size of the document-centric CHAMPION list (Carmel et al.,
    * static index pruning; also the "champion lists" of standard IR
    * texts): the global top-`RrfChampCap` documents by TOTAL impact
    * mass Σ w6, kept as a fixed-size artifact and rescored for every
    * query. Why the lexical leg needs it HERE: term-at-a-time
    * truncation (wpost) assumes Zipfian idf spread — a few rare terms
    * carry each doc's score. This corpus's vocabulary is ~31 types
    * with median df ≈ 0.8·n (measured, templated text), so per-term
    * impact order barely discriminates and a doc that is moderately
    * good on EVERY term (the actual BM25 winners) appears in no
    * per-term top list: truncation-only recall@5 measured 0.20-0.30
    * at sf0.1 at ANY feasible depth. The champion list is the
    * document-centric complement — on a flat-idf corpus total impact
    * mass ≈ the query-independent part of every score — and restores
    * recall@5 to 0.92 (DedupCappedSpec states the numbers). Both caps
    * are corpus-independent constants, so per-query cost stays
    * bounded.
    *
    * The flat-idf sensitivity is MEASURED, not just asserted (r15
    * `SPARK_GRAFT_SCALE_ONLY=zipf`, the `zipf/vocab_stats` and
    * `recall/zipf` rows, PLANS.md): with the same corpus
    * regenerated over a 20,000-type Zipfian vocabulary (12,765
    * realized types at ×10, median df/n < 0.001 — real idf spread;
    * same crossover duplicates, same embeddings), capped-vs-uncapped
    * recall@5 is 0.984 at 1× and 0.816 at the ×10 point where the
    * flat corpus collapsed to 0.130 — rare query terms keep their
    * postings whole under the cap and propose the true winners. The
    * residual ×10 loss is fixed-budget arithmetic (this champion list
    * is 2% of that corpus); a deployment scales the two constants
    * with its corpus segment.
    */
  private[graft] val RrfChampCap = 1024

  /** The scan-depth-capped LSH bucket table: within each (t, b)
    * bucket only the first [[RrfBucketCap]] vectors by vec_id remain
    * — deterministic, and replayable by the oracle. Derived from the
    * full `lsh_keys` artifact at build time; the cap is a property of
    * the SERVED index, not of any query.
    */
  private def servedLshKeysCapped(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "lsh_keys_capped", "vec_id", 8) {
      val w = Window.partitionBy(col("t"), col("b")).orderBy(col("vec_id"))
      servedLshKeys(spark, dir)
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <= RrfBucketCap).drop("pos")
    }

  /** The impact-truncated posting table: per term only the top
    * [[RrfPostCap]] (w6 DESC, doc_id) postings survive — the static
    * index-pruning shape of impact-ordered lists.
    */
  private def servedBm25WCapped(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "bm25_w_capped", "doc_id", 8) {
      val w = Window.partitionBy(col("term"))
        .orderBy(col("w6").desc, col("doc_id"))
      servedBm25W(spark, dir)
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <= RrfPostCap).drop("pos")
    }

  /** The champion-list artifact (see [[RrfChampCap]]): a fixed-size
    * doc-id list, derived from the weight artifact via a distributed
    * top-K (TakeOrderedAndProject — never a global window over the
    * per-doc totals).
    */
  private def servedBm25Champions(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ArtifactStore.ensure(spark, dir, "bm25_champ", "doc_id", 1)(
      servedBm25W(spark, dir)
        .groupBy(col("doc_id")).agg(sum(col("w6")).as("tw6"))
        .orderBy(col("tw6").desc, col("doc_id"))
        .limit(RrfChampCap)
        .select("doc_id"))

  /** The CAPPED lexical leg: candidate GENERATION from the
    * impact-truncated postings plus the champion list, then EXACT
    * BM25 rescoring of every proposed (query, doc) pair against the
    * full weight artifact — the `ann_ivfadc_rerank` two-phase pattern
    * applied to text. Truncation-only scoring sums PARTIAL weights
    * (only the terms where a doc survived its top list), which
    * reorders the dense low-idf rankings this corpus produces; the
    * rescore keeps the cost bound (work ∝ candidates × query terms,
    * corpus-independent) while every surviving candidate carries its
    * EXACT score — the answer differs from uncapped only where the
    * true winner was proposed by neither the truncated lists nor the
    * champions, and DedupCappedSpec states that measured rate.
    */
  private def bm25LexRankedCapped(wFull: DataFrame, wCapped: DataFrame,
      champions: DataFrame, qTerms: DataFrame): DataFrame = {
    val proposedPost = wCapped.join(broadcast(qTerms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .select("q_id", "doc_id")
    // champions propose through the terms they share with each query
    // (two broadcast hash joins — never a cross join): a champion
    // sharing NO term with a query scores zero and could not enter
    // the positive-score top-10 anyway, so this is output-identical
    // to crossing the full list per query
    val proposedChamp = wFull.join(broadcast(champions), "doc_id")
      .join(broadcast(qTerms), "term")
      .filter(col("doc_id") =!= col("q_id"))
      .select("q_id", "doc_id")
    val proposed = proposedPost.union(proposedChamp).distinct()
    lexRankTail(proposed
      .join(wFull, "doc_id")
      .join(broadcast(qTerms), Seq("q_id", "term")))
  }

  /** [[annRrfFusionServed]] with BOUNDED per-query cost — the form a
    * 100 TB deployment actually serves: vector candidates come from
    * the scan-depth-capped bucket table (queries still PROBE with
    * their uncapped keys — a vector past the cap depth can search, it
    * just can't be found deeper than the cap); lexical candidates
    * come from the impact-truncated postings PLUS the champion list,
    * exact-rescored ([[bm25LexRankedCapped]]). Per query the work is
    * ≤ #tables × RrfBucketCap cosine evaluations + an exact rescore
    * of ≤ (#query-terms × RrfPostCap + RrfChampCap) candidates,
    * INDEPENDENT of corpus size — the organic ×10 point measures the
    * exponent drop, DedupCappedSpec the answer drift (PLANS.md holds
    * both). Own oracle: DuckDB replays all three levers (same bucket
    * order, same impact order, same champion choice, same rescore).
    */
  def annRrfFusionCapped(spark: SparkSession, dir: String): DataFrame = {
    val vecRanked = rrfVecRankedSplit(vecs(spark, dir),
      servedLshKeysCapped(spark, dir), servedLshKeys(spark, dir))
    val (tf, _, _) = servedBm25(spark, dir)
    val lexRanked = bm25LexRankedCapped(servedBm25W(spark, dir),
      servedBm25WCapped(spark, dir), servedBm25Champions(spark, dir),
      bm25QTerms(tf))
    rrfFuse(vecRanked, lexRanked)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk"     -> (annTopk _),
    "ann_mips_topk" -> (annMipsTopk _),
    "ann_lsh_topk" -> (annLshTopk _),
    "ann_lsh_sensitivity" -> (annLshSensitivity _),
    "ann_ivf_topk" -> (annIvfTopk _),
    "ann_pq_topk"  -> (annPqTopk _),
    "ann_ivfadc_topk" -> (annIvfadcTopk _),
    "ann_ivfadc_rerank" -> (annIvfadcRerank _),
    "ann_ivfpq_residual" -> (annIvfpqResidual _),
    "ann_sq8_topk" -> (annSq8Topk _),
    "ann_ivfsq8_topk" -> (annIvfSq8Topk _),
    "ann_bq_topk" -> (annBqTopk _),
    "ann_bq_rerank" -> (annBqRerank _),
    "ann_kmeans_train" -> (annKmeansTrain _),
    "ann_rrf_fusion" -> (annRrfFusion _),
    "ann_ivfadc_served" -> (annIvfadcServed _),
    "ann_ivfadc_rerank_served" -> (annIvfadcRerankServed _),
    "ann_ivfpq_residual_served" -> (annIvfpqResidualServed _),
    "ann_rrf_fusion_served" -> (annRrfFusionServed _),
    "ann_rrf_fusion_capped" -> (annRrfFusionCapped _))

  /** Shared oracle CTE: per-vector LSH bucket via the same md5-derived
    * hyperplanes (DuckDB lists are 1-based like the d index).
    */
  private[operators] val bucketCte =
    s"""planes AS (
       |  SELECT p.p, d.d,
       |    (CAST(('0x' || substr(md5(p.p || ':' || d.d), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS c
       |  FROM generate_series(0, ${NumPlanes - 1}) p(p), generate_series(1, $Dims) d(d)),
       |proj AS (
       |  SELECT e.vec_id, pl.p,
       |    CASE WHEN sum(e.embedding[pl.d] * pl.c) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM embeddings e CROSS JOIN planes pl
       |  GROUP BY e.vec_id, pl.p),
       |buck AS (
       |  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bucket
       |  FROM proj GROUP BY vec_id)""".stripMargin

  /** Multi-table LSH candidate generation + cosine ranking as CTEs
    * ending in `ranked(q_id, neighbor_id, n_shared, cosine, rank)` —
    * shared by the `ann_lsh_topk` oracle and the vector leg of the
    * `ann_rrf_fusion` oracle.
    */
  private val lshTbuckCtes: String =
    s"""planes AS (
       |  SELECT p.p, d.d,
       |    (CAST(('0x' || substr(md5(p.p || ':' || d.d), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS c
       |  FROM generate_series(0, ${NumTables * PlanesPerTable - 1}) p(p),
       |       generate_series(1, $Dims) d(d)),
       |proj AS (
       |  SELECT e.vec_id, pl.p,
       |    CASE WHEN sum(e.embedding[pl.d] * pl.c) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM embeddings e CROSS JOIN planes pl
       |  GROUP BY e.vec_id, pl.p),
       |tbuck AS (
       |  SELECT vec_id, p // $PlanesPerTable AS t,
       |    string_agg(bit, '' ORDER BY p) AS b
       |  FROM proj GROUP BY vec_id, p // $PlanesPerTable)""".stripMargin

  /** Multi-table LSH candidate generation + cosine ranking as CTEs
    * ending in `ranked(q_id, neighbor_id, n_shared, cosine, rank)`,
    * over a given CORPUS-side bucket relation — `tbuck` (full), or
    * the scan-depth-capped `tcap` injected via `extraCtes`. One
    * generator, so the capped and uncapped vector legs cannot drift
    * in candidate semantics, cosine rounding, or the rank tie-break.
    * The query side (bq) always reads the full `tbuck`, mirroring
    * [[rrfVecRankedSplit]]'s corpus/probe split.
    */
  private def lshRankedCtesOver(corpusRel: String, extraCtes: String): String =
    s"""$lshTbuckCtes,
       |${extraCtes}cand AS (
       |  SELECT bq.vec_id AS q_id, be.vec_id AS neighbor_id,
       |    count(*) AS n_shared
       |  FROM tbuck bq
       |  JOIN $corpusRel be ON be.t = bq.t AND be.b = bq.b AND be.vec_id <> bq.vec_id
       |  WHERE bq.vec_id % 50 = 0
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT c.q_id, c.neighbor_id, c.n_shared,
       |    round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
       |  FROM cand c
       |  JOIN embeddings q ON q.vec_id = c.q_id
       |  JOIN embeddings e ON e.vec_id = c.neighbor_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored)""".stripMargin

  private val lshRankedCtes: String = lshRankedCtesOver("tbuck", "")

  private val lshRankedCappedCtes: String = lshRankedCtesOver("tcap",
    s"""tcap AS (
       |  SELECT vec_id, t, b FROM (
       |    SELECT *, row_number() OVER (PARTITION BY t, b ORDER BY vec_id) AS pos
       |    FROM tbuck) c
       |  WHERE pos <= $RrfBucketCap),
       |""".stripMargin)

  /** The full RRF-fusion oracle over a given vector-leg CTE chain
    * (ending in `ranked`) and a given lexical-scoring CTE chain
    * (ending in `lexscored(q_id, id, s6)`) — the tokenization,
    * posting-stats, rank-cut and fusion-tail SQL exists ONCE, so the
    * capped and uncapped oracles can only differ where their Spark
    * twins differ: the candidate source and the posting source.
    */
  private def rrfFusionOracleOver(vecCtes: String, lexScoredCtes: String): String =
    s"""WITH $vecCtes,
       |vecr AS (
       |  SELECT q_id, neighbor_id AS id, rank AS vec_rank
       |  FROM ranked WHERE rank <= $RrfCand),
       |terms AS (
       |  SELECT * FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
       |    FROM documents)
       |  WHERE term <> ''),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stats AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |qt AS (SELECT doc_id AS q_id, term FROM tf WHERE doc_id % 50 = 0),
       |$lexScoredCtes,
       |lexr AS (
       |  SELECT q_id, id, lex_rank FROM (
       |    SELECT q_id, id, row_number() OVER (
       |      PARTITION BY q_id
       |      ORDER BY round(s6 / 1000000.0, 6) DESC, id) AS lex_rank
       |    FROM lexscored) r
       |  WHERE lex_rank <= $RrfCand),
       |fused AS (
       |  SELECT coalesce(v.q_id, l.q_id) AS q_id, coalesce(v.id, l.id) AS id,
       |    v.vec_rank, l.lex_rank,
       |    round(coalesce(1.0 / (v.vec_rank + $RrfK), 0.0)
       |      + coalesce(1.0 / (l.lex_rank + $RrfK), 0.0), 6) AS rrf
       |  FROM vecr v FULL OUTER JOIN lexr l
       |    ON l.q_id = v.q_id AND l.id = v.id),
       |final AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY q_id ORDER BY rrf DESC, id) AS rank
       |  FROM fused)
       |SELECT q_id, id AS neighbor_id, vec_rank, lex_rank, rrf, rank
       |FROM final WHERE rank <= $RrfTopK ORDER BY q_id, rank""".stripMargin

  /** Unrolled Lloyd iterations as CTEs — the oracle mirrors the exact
    * arithmetic (same dist² expansion, same left-to-right inner product,
    * same 6-decimal rounding of distances and centroid means).
    */
  private[operators] def kmeansFinalCte: String = s"a${KmeansIters - 1}"

  private def kmeansCtesOver(eDef: String): String = {
    def assign(cent: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, cl, dist2, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cl) AS rn
         |    FROM (SELECT e.vec_id, e.v, c.cl,
         |            round(list_inner_product(e.v, e.v) - 2 * list_inner_product(e.v, c.cv)
         |              + list_inner_product(c.cv, c.cv), 6) AS dist2
         |          FROM e CROSS JOIN $cent c) s) r
         |  WHERE rn = 1)""".stripMargin
    def update(prev: String, out: String) =
      s"""$out AS (
         |  SELECT cl, list(c ORDER BY d) AS cv FROM (
         |    SELECT a.cl, d.d, round(avg(a.v[d.d]), 6) AS c
         |    FROM $prev a, generate_series(1, $Dims) d(d)
         |    GROUP BY a.cl, d.d) m
         |  GROUP BY cl)""".stripMargin
    val iters = (1 until KmeansIters).flatMap { i =>
      Seq(update(s"a${i - 1}", s"c$i"), assign(s"c$i", s"a$i"))
    }
    val ctes = Seq(
      s"e AS ($eDef)",
      s"c0 AS (SELECT vec_id AS cl, v AS cv FROM e WHERE vec_id < $KmeansK)",
      assign("c0", "a0")) ++ iters
    ctes.mkString(",\n")
  }

  /** Raw-vector chain (ann_kmeans_train, dedup_semantic). */
  private[operators] val kmeansCtes: String =
    kmeansCtesOver("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")

  /** Normalized-vector chain — the IVFADC coarse quantizer's space. */
  private val kmeansCtesNorm: String = kmeansCtesOver(
    "SELECT vec_id, list_transform(embedding::DOUBLE[], " +
      "x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v " +
      "FROM embeddings")

  private val kmeansSql: String =
    s"""WITH $kmeansCtes
       |SELECT vec_id, cl AS cluster, dist2 FROM $kmeansFinalCte
       |ORDER BY vec_id""".stripMargin

  /** PQ oracle CTEs (prefixed `p…` so they compose with `kmeansCtes`
    * in the IVFADC oracle without name collisions), ending in the
    * final assignment `pa1` and the query ADC table `pdt`. Identical
    * rounding points as the Spark side (round before every
    * argmin/rank).
    */
  /** The 2-round PQ training chain over ANY (vec_id, m, sv) relation,
    * emitting `{pfx}cb0 → {pfx}a0 → {pfx}cb1 → {pfx}a1` — normalized
    * subvectors for the plain PQ path, residual subvectors for
    * `ann_ivfpq_residual`. Mirrors [[pqModelOverSub]] term for term.
    */
  private def pqTrainCtes(subRel: String, pfx: String): String = {
    def assign(cb: String, out: String) =
      s"""$out AS (
         |  SELECT vec_id, m, code, sv FROM (
         |    SELECT s.vec_id, s.m, c.code, s.sv,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        round(list_inner_product(s.sv, s.sv) - 2 * list_inner_product(s.sv, c.cv)
         |          + list_inner_product(c.cv, c.cv), 6), c.code) AS rn
         |    FROM $subRel s JOIN $cb c ON c.m = s.m) r
         |  WHERE rn = 1)""".stripMargin
    s"""${pfx}cb0 AS (SELECT m, CAST(vec_id AS INT) AS code, sv AS cv FROM $subRel WHERE vec_id < $PqKs),
       |${assign(s"${pfx}cb0", s"${pfx}a0")},
       |${pfx}cb1 AS (
       |  SELECT m, code, list(c ORDER BY d) AS cv FROM (
       |    SELECT a.m, a.code, d.d, round(avg(a.sv[d.d]), 6) AS c
       |    FROM ${pfx}a0 a, generate_series(1, $PqSub) d(d)
       |    GROUP BY a.m, a.code, d.d) x
       |  GROUP BY m, code),
       |${assign(s"${pfx}cb1", s"${pfx}a1")}""".stripMargin
  }

  private val pqCtes: String = {
    s"""pe AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
       |  FROM embeddings),
       |psub AS (SELECT vec_id, mm.m, v[mm.m*$PqSub+1 : mm.m*$PqSub+$PqSub] AS sv
       |        FROM pe, generate_series(0, ${PqM - 1}) mm(m)),
       |${pqTrainCtes("psub", "p")},
       |pqsub AS (SELECT vec_id AS q_id, m, sv AS qs FROM psub WHERE vec_id % 50 = 0),
       |pdt AS (
       |  SELECT q.q_id, c.m, c.code,
       |    round(list_inner_product(q.qs, q.qs) - 2 * list_inner_product(q.qs, c.cv)
       |      + list_inner_product(c.cv, c.cv), 6) AS dsub
       |  FROM pqsub q JOIN pcb1 c ON c.m = q.m)""".stripMargin
  }

  /** Filtering self-matches before vs after the ADC aggregation
    * commutes (the filter is on group keys).
    */
  private val pqSql: String =
    s"""WITH $pqCtes,
       |adc AS (
       |  SELECT t.q_id, a.vec_id,
       |    round(sum(CAST(round(t.dsub * 1000000, 0) AS BIGINT)) / 1000000.0, 6) AS adist2
       |  FROM pa1 a JOIN pdt t ON t.m = a.m AND t.code = a.code
       |  WHERE a.vec_id <> t.q_id
       |  GROUP BY t.q_id, a.vec_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist2, vec_id) AS rank
       |  FROM adc)
       |SELECT q_id, vec_id AS neighbor_id, adist2, rank FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** IVFADC oracle: the NORMALIZED-vector k-means chain
    * (`kmeansCtesNorm`, lists in `a1`) composed with the PQ chain
    * (`pqCtes`): centroids recomputed from the final assignment exactly
    * as the Spark side, probes by rounded-L2 argmin in the same metric
    * space PQ encodes, ADC restricted to probed lists.
    */
  /** Coarse-quantizer query side (centroids from the final assignment,
    * query subset, nprobe probes) — shared by the IVFADC chain and the
    * residual-PQ oracle. Depends on `e` / `$kmeansFinalCte` from
    * [[kmeansCtesNorm]].
    */
  private val ivfCoarseCtes: String =
    s"""cent AS (
       |  SELECT cl, list(c ORDER BY d) AS cv FROM (
       |    SELECT a.cl, d.d, round(avg(a.v[d.d]), 6) AS c
       |    FROM $kmeansFinalCte a, generate_series(1, $Dims) d(d)
       |    GROUP BY a.cl, d.d) mm
       |  GROUP BY cl),
       |qf AS (SELECT vec_id AS q_id, v FROM e WHERE vec_id % 50 = 0),
       |probes AS (
       |  SELECT q_id, cl FROM (
       |    SELECT q.q_id, c.cl, row_number() OVER (PARTITION BY q.q_id ORDER BY
       |      round(list_inner_product(q.v, q.v) - 2 * list_inner_product(q.v, c.cv)
       |        + list_inner_product(c.cv, c.cv), 6), c.cl) AS pr
       |    FROM qf q CROSS JOIN cent c) z
       |  WHERE pr <= $NProbe)""".stripMargin

  private val ivfadcChainCtes: String =
    s"""$kmeansCtesNorm,
       |$pqCtes,
       |$ivfCoarseCtes,
       |cand AS (
       |  SELECT p.q_id, a.vec_id FROM probes p JOIN $kmeansFinalCte a ON a.cl = p.cl
       |  WHERE a.vec_id <> p.q_id),
       |adc AS (
       |  SELECT cd.q_id, cd.vec_id,
       |    round(sum(CAST(round(t.dsub * 1000000, 0) AS BIGINT)) / 1000000.0, 6) AS adist2
       |  FROM cand cd
       |  JOIN pa1 c ON c.vec_id = cd.vec_id
       |  JOIN pdt t ON t.q_id = cd.q_id AND t.m = c.m AND t.code = c.code
       |  GROUP BY cd.q_id, cd.vec_id)""".stripMargin

  /** Residual-PQ oracle: the same coarse chain, PQ trained on the
    * residual subvectors, per-(query, probed list) residual ADC tables.
    */
  private val ivfpqResidualSql: String =
    s"""WITH $kmeansCtesNorm,
       |$ivfCoarseCtes,
       |rres AS (
       |  SELECT a.vec_id, a.cl,
       |    list_transform(generate_series(1, $Dims), i -> a.v[i] - c.cv[i]) AS rv
       |  FROM $kmeansFinalCte a JOIN cent c USING (cl)),
       |rsub AS (
       |  SELECT vec_id, cl, mm.m, rv[mm.m*$PqSub+1 : mm.m*$PqSub+$PqSub] AS sv
       |  FROM rres, generate_series(0, ${PqM - 1}) mm(m)),
       |${pqTrainCtes("rsub", "r")},
       |qres AS (
       |  SELECT p.q_id, p.cl,
       |    list_transform(generate_series(1, $Dims), i -> q.v[i] - c.cv[i]) AS rq
       |  FROM probes p JOIN qf q ON q.q_id = p.q_id JOIN cent c ON c.cl = p.cl),
       |qrsub AS (
       |  SELECT q_id, cl, mm.m, rq[mm.m*$PqSub+1 : mm.m*$PqSub+$PqSub] AS qs
       |  FROM qres, generate_series(0, ${PqM - 1}) mm(m)),
       |rdt AS (
       |  SELECT s.q_id, s.cl, c.m, c.code,
       |    round(list_inner_product(s.qs, s.qs) - 2 * list_inner_product(s.qs, c.cv)
       |      + list_inner_product(c.cv, c.cv), 6) AS dsub
       |  FROM qrsub s JOIN rcb1 c ON c.m = s.m),
       |rcand AS (
       |  SELECT p.q_id, p.cl, a.vec_id FROM probes p JOIN $kmeansFinalCte a ON a.cl = p.cl
       |  WHERE a.vec_id <> p.q_id),
       |radc AS (
       |  SELECT cd.q_id, cd.vec_id,
       |    round(sum(CAST(round(t.dsub * 1000000, 0) AS BIGINT)) / 1000000.0, 6) AS adist2
       |  FROM rcand cd
       |  JOIN ra1 c ON c.vec_id = cd.vec_id
       |  JOIN rdt t ON t.q_id = cd.q_id AND t.cl = cd.cl AND t.m = c.m AND t.code = c.code
       |  GROUP BY cd.q_id, cd.vec_id),
       |rranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist2, vec_id) AS rank
       |  FROM radc)
       |SELECT q_id, vec_id AS neighbor_id, adist2, rank FROM rranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  private val ivfadcSql: String =
    s"""WITH $ivfadcChainCtes,
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist2, vec_id) AS rank
       |  FROM adc)
       |SELECT q_id, vec_id AS neighbor_id, adist2, rank FROM ranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin

  /** Rerank oracle: the same chain, shortlist at `RerankR` by ADC, then
    * exact L2 in the normalized space (`e` is the normalized relation)
    * with the identical term order and rounding as the Spark side.
    */
  private val ivfadcRerankSql: String =
    s"""WITH $ivfadcChainCtes,
       |shortlist AS (
       |  SELECT q_id, vec_id, adist2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist2, vec_id) AS adc_rank
       |    FROM adc) s
       |  WHERE adc_rank <= $RerankR),
       |exact AS (
       |  SELECT s.q_id, s.vec_id, s.adist2,
       |    round(list_inner_product(n.v, n.v) - 2 * list_inner_product(q.v, n.v)
       |      + list_inner_product(q.v, q.v), 6) AS dist2
       |  FROM shortlist s
       |  JOIN e n ON n.vec_id = s.vec_id
       |  JOIN qf q ON q.q_id = s.q_id),
       |reranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, vec_id) AS rank
       |  FROM exact)
       |SELECT q_id, vec_id AS neighbor_id, adist2, dist2, rank FROM reranked
       |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin


  private val oraclesBase: Map[String, String] = Map(
    "ann_kmeans_train" -> kmeansSql,
    "ann_rrf_fusion" -> rrfFusionOracleOver(lshRankedCtes,
      s"""lexscored AS (
         |  SELECT qt.q_id, tf.doc_id AS id,
         |    CAST(sum(CAST(round(
         |      ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
         |        * (tf.tf * ${1.2 + 1}) /
         |          (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
         |      * 1000000, 0) AS BIGINT)) AS BIGINT) AS s6
         |  FROM tf
         |  JOIN qt USING (term)
         |  JOIN df USING (term)
         |  JOIN dl ON dl.doc_id = tf.doc_id, stats s
         |  WHERE tf.doc_id <> qt.q_id
         |  GROUP BY 1, 2)""".stripMargin),
    // the capped form's own oracle: DuckDB replays ALL the levers —
    // the per-(t, b) scan-depth cut (tcap, inside lshRankedCappedCtes),
    // the impact-ordered posting truncation (wpost), the champion
    // list (champ — same Σw6 total, same tiebreak), and the exact
    // rescore of the proposed candidates — with the same
    // deterministic orders; everything else comes from the SAME
    // generators as the uncapped oracle
    "ann_rrf_fusion_capped" -> rrfFusionOracleOver(lshRankedCappedCtes,
      s"""wraw AS (
         |  SELECT tf.term, tf.doc_id,
         |    CAST(round(
         |      ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
         |        * (tf.tf * ${1.2 + 1}) /
         |          (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
         |      * 1000000, 0) AS BIGINT) AS w6
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN dl ON dl.doc_id = tf.doc_id, stats s),
         |wpost AS (
         |  SELECT term, doc_id, w6 FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY term ORDER BY w6 DESC, doc_id) AS pos
         |    FROM wraw) w
         |  WHERE pos <= $RrfPostCap),
         |champ AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (
         |      ORDER BY sum(w6) DESC, doc_id) AS pos
         |    FROM wraw GROUP BY doc_id) c
         |  WHERE pos <= $RrfChampCap),
         |lexcand AS (
         |  SELECT DISTINCT q_id, doc_id FROM (
         |    SELECT qt.q_id, w.doc_id FROM wpost w JOIN qt USING (term)
         |    UNION ALL
         |    SELECT qt.q_id, w.doc_id
         |    FROM wraw w JOIN champ USING (doc_id) JOIN qt USING (term)) u
         |  WHERE doc_id <> q_id),
         |lexscored AS (
         |  SELECT c.q_id, c.doc_id AS id, CAST(sum(w.w6) AS BIGINT) AS s6
         |  FROM lexcand c
         |  JOIN qt ON qt.q_id = c.q_id
         |  JOIN wraw w ON w.doc_id = c.doc_id AND w.term = qt.term
         |  GROUP BY 1, 2)""".stripMargin),
    "ann_pq_topk" -> pqSql,
    "ann_ivfadc_topk" -> ivfadcSql,
    "ann_ivfadc_rerank" -> ivfadcRerankSql,
    // the served twins answer from artifacts equal to the inline-trained
    // model, so the same SQL hash-checks both forms
    "ann_ivfadc_served" -> ivfadcSql,
    "ann_ivfadc_rerank_served" -> ivfadcRerankSql,
    "ann_ivfpq_residual" -> ivfpqResidualSql,
    "ann_ivfpq_residual_served" -> ivfpqResidualSql,
    "ann_bq_topk" ->
      s"""WITH nv AS (
         |  SELECT vec_id, list_transform(embedding::DOUBLE[],
         |    x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
         |  FROM embeddings),
         |bits AS (SELECT vec_id, d.d - 1 AS d, v[d.d] > 0 AS b
         |         FROM nv, generate_series(1, $Dims) d(d)),
         |codes AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN d < 32 AND b THEN (CAST(1 AS BIGINT) << d) ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN d >= 32 AND b THEN (CAST(1 AS BIGINT) << (d - 32)) ELSE 0 END) AS BIGINT) AS hi
         |  FROM bits GROUP BY vec_id),
         |q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM codes WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT q.q_id, c.vec_id,
         |    CAST(bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)) AS BIGINT) AS hamming
         |  FROM codes c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT *, round(cos(hamming * pi() / $Dims), 6) AS est_cosine,
         |    row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS rank
         |  FROM scored)
         |SELECT q_id, vec_id AS neighbor_id, hamming, est_cosine, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ann_bq_rerank" ->
      s"""WITH nv AS (
         |  SELECT vec_id, list_transform(embedding::DOUBLE[],
         |    x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
         |  FROM embeddings),
         |bits AS (SELECT vec_id, d.d - 1 AS d, v[d.d] > 0 AS b
         |         FROM nv, generate_series(1, $Dims) d(d)),
         |codes AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN d < 32 AND b THEN (CAST(1 AS BIGINT) << d) ELSE 0 END) AS BIGINT) AS lo,
         |    CAST(sum(CASE WHEN d >= 32 AND b THEN (CAST(1 AS BIGINT) << (d - 32)) ELSE 0 END) AS BIGINT) AS hi
         |  FROM bits GROUP BY vec_id),
         |q AS (SELECT vec_id AS q_id, lo AS qlo, hi AS qhi FROM codes WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT q.q_id, c.vec_id,
         |    CAST(bit_count(xor(c.lo, q.qlo)) + bit_count(xor(c.hi, q.qhi)) AS BIGINT) AS hamming
         |  FROM codes c CROSS JOIN q WHERE c.vec_id <> q.q_id),
         |shortlist AS (
         |  SELECT q_id, vec_id, hamming FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY hamming, vec_id) AS bq_rank
         |    FROM scored) s
         |  WHERE bq_rank <= $RerankR),
         |qv AS (SELECT vec_id AS q_id, v FROM nv WHERE vec_id % 50 = 0),
         |exact AS (
         |  SELECT s.q_id, s.vec_id, s.hamming,
         |    round(list_inner_product(n.v, n.v) - 2 * list_inner_product(qv.v, n.v)
         |      + list_inner_product(qv.v, qv.v), 6) AS dist2
         |  FROM shortlist s
         |  JOIN nv n ON n.vec_id = s.vec_id
         |  JOIN qv ON qv.q_id = s.q_id),
         |reranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY dist2, vec_id) AS rank
         |  FROM exact)
         |SELECT q_id, vec_id AS neighbor_id, hamming, dist2, rank FROM reranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ann_sq8_topk" ->
      s"""WITH nv AS (
         |  SELECT vec_id, list_transform(embedding::DOUBLE[],
         |    x -> x / sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS v
         |  FROM embeddings),
         |ex AS (SELECT vec_id, d.d - 1 AS d, v[d.d] AS x
         |       FROM nv, generate_series(1, $Dims) d(d)),
         |mm AS (SELECT d, round(min(x), 6) AS lo, round(max(x), 6) AS hi
         |       FROM ex GROUP BY d),
         |codes AS (
         |  SELECT vec_id, e.d,
         |    CASE WHEN hi = lo THEN 0
         |         ELSE CAST(round((x - lo) / (hi - lo) * 255, 0) AS INT) END AS code
         |  FROM ex e JOIN mm USING (d)),
         |qx AS (SELECT vec_id AS q_id, d, x AS qx FROM ex WHERE vec_id % 50 = 0),
         |terms AS (
         |  SELECT q.q_id, c.vec_id,
         |    CAST(round((q.qx - (m.lo + c.code / 255.0 * (m.hi - m.lo)))
         |      * (q.qx - (m.lo + c.code / 255.0 * (m.hi - m.lo))) * 1000000, 0) AS BIGINT) AS t6
         |  FROM codes c JOIN mm m USING (d) JOIN qx q USING (d)
         |  WHERE c.vec_id <> q.q_id),
         |sq AS (SELECT q_id, vec_id, round(sum(t6) / 1000000.0, 6) AS adist2
         |       FROM terms GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist2, vec_id) AS rank
         |  FROM sq)
         |SELECT q_id, vec_id AS neighbor_id, adist2, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ann_ivfsq8_topk" ->
      s"""WITH $kmeansCtesNorm,
         |$ivfCoarseCtes,
         |ex AS (SELECT vec_id, d.d - 1 AS d, v[d.d] AS x
         |       FROM e, generate_series(1, $Dims) d(d)),
         |mm AS (SELECT d, round(min(x), 6) AS lo, round(max(x), 6) AS hi
         |       FROM ex GROUP BY d),
         |codes AS (
         |  SELECT vec_id, x.d,
         |    CASE WHEN hi = lo THEN 0
         |         ELSE CAST(round((x - lo) / (hi - lo) * 255, 0) AS INT) END AS code
         |  FROM ex x JOIN mm USING (d)),
         |qx AS (SELECT vec_id AS q_id, d, x AS qx FROM ex WHERE vec_id % 50 = 0),
         |cand AS (
         |  SELECT p.q_id, a.vec_id FROM probes p JOIN $kmeansFinalCte a ON a.cl = p.cl
         |  WHERE a.vec_id <> p.q_id),
         |terms AS (
         |  SELECT cd.q_id, cd.vec_id,
         |    CAST(round((q.qx - (m.lo + c.code / 255.0 * (m.hi - m.lo)))
         |      * (q.qx - (m.lo + c.code / 255.0 * (m.hi - m.lo))) * 1000000, 0) AS BIGINT) AS t6
         |  FROM cand cd
         |  JOIN codes c ON c.vec_id = cd.vec_id
         |  JOIN mm m ON m.d = c.d
         |  JOIN qx q ON q.q_id = cd.q_id AND q.d = c.d),
         |sq AS (SELECT q_id, vec_id, round(sum(t6) / 1000000.0, 6) AS adist2
         |       FROM terms GROUP BY 1, 2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist2, vec_id) AS rank
         |  FROM sq)
         |SELECT q_id, vec_id AS neighbor_id, adist2, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ann_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
         |    round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT q_id, neighbor_id, cosine, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ann_mips_topk" ->
      s"""WITH scored AS (
         |  SELECT q.vec_id AS q_id, e.vec_id AS neighbor_id,
         |    round(list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS ip
         |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
         |  WHERE q.vec_id % 50 = 0),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ip DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT q_id, neighbor_id, ip, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ann_lsh_topk" ->
      s"""WITH $lshRankedCtes
         |SELECT q_id, neighbor_id, n_shared, cosine, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin,
    "ann_lsh_sensitivity" -> {
      val np = NumTables * PlanesPerTable
      val agree = (1 to np)
        .map(j => s"CASE WHEN substr(ba.bits, $j, 1) = substr(bb.bits, $j, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      val pCols = AngularConfigs.map { case (t, k) =>
        s"round(1.0 - pow(1.0 - pow(g.i / $np.0, $k), $t), 6) AS p_t${t}k$k"
      }.mkString(",\n  ")
      s"""WITH smod AS (
         |  SELECT greatest(1, CAST(ceil(count(*) / $CalibTarget.0) AS BIGINT)) AS m
         |  FROM embeddings),
         |samp AS (
         |  SELECT e.* FROM embeddings e, smod
         |  WHERE CAST(('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % smod.m = 0),
         |planes AS (
         |  SELECT p.p, d.d,
         |    (CAST(('0x' || substr(md5(p.p || ':' || d.d), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS c
         |  FROM generate_series(0, ${np - 1}) p(p),
         |       generate_series(1, $Dims) d(d)),
         |proj AS (
         |  SELECT e.vec_id, pl.p,
         |    CASE WHEN sum(e.embedding[pl.d] * pl.c) > 0 THEN '1' ELSE '0' END AS bit
         |  FROM samp e CROSS JOIN planes pl
         |  GROUP BY e.vec_id, pl.p),
         |bits AS (
         |  SELECT vec_id, string_agg(bit, '' ORDER BY p) AS bits
         |  FROM proj GROUP BY vec_id),
         |tbuck AS (
         |  SELECT vec_id, p // $PlanesPerTable AS t,
         |    string_agg(bit, '' ORDER BY p) AS b
         |  FROM proj GROUP BY vec_id, p // $PlanesPerTable),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM tbuck a
         |  JOIN tbuck b ON b.t = a.t AND b.b = a.b AND a.vec_id < b.vec_id),
         |mm AS (
         |  SELECT id_a, id_b, ($agree) AS n_agree
         |  FROM cand
         |  JOIN bits ba ON ba.vec_id = cand.id_a
         |  JOIN bits bb ON bb.vec_id = cand.id_b),
         |obs AS (SELECT n_agree, count(*) AS n_pairs FROM mm GROUP BY n_agree)
         |SELECT CAST(g.i AS BIGINT) AS n_agree,
         |  round(g.i / $np.0, 6) AS est_plane_agree,
         |  round(180.0 * (1.0 - g.i / $np.0), 6) AS est_angle_deg,
         |  CAST(coalesce(n_pairs, 0) * smod.m * smod.m AS BIGINT) AS n_pairs,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs_obs,
         |  CAST(smod.m AS BIGINT) AS sample_mod,
         |  $pCols
         |FROM (SELECT unnest(generate_series(0, $np)) AS i) g
         |LEFT JOIN obs ON obs.n_agree = g.i, smod
         |ORDER BY n_agree""".stripMargin
    },
    "ann_ivf_topk" ->
      s"""WITH cent AS (
         |  SELECT label, d.d, round(avg(embedding[d.d]), 6) AS c
         |  FROM embeddings, generate_series(1, $Dims) d(d)
         |  GROUP BY label, d.d),
         |centv AS (SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
         |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
         |      FROM embeddings WHERE vec_id % 50 = 0),
         |probe AS (
         |  SELECT q_id, label AS probe_label, row_number() OVER (
         |    PARTITION BY q_id
         |    ORDER BY list_cosine_similarity(qv, cv) DESC, label) AS pr
         |  FROM q CROSS JOIN centv),
         |scored AS (
         |  SELECT p.q_id, e.vec_id AS neighbor_id, p.probe_label,
         |    round(list_cosine_similarity(qe.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine
         |  FROM probe p
         |  JOIN embeddings qe ON qe.vec_id = p.q_id
         |  JOIN embeddings e ON e.label = p.probe_label AND e.vec_id <> p.q_id
         |  WHERE p.pr <= $NProbe),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored)
         |SELECT q_id, neighbor_id, probe_label, cosine, rank FROM ranked
         |WHERE rank <= $TopK ORDER BY q_id, rank""".stripMargin)

  /** The RRF served twin answers from artifacts equal to the
    * inline-built index relations — one SQL hash-checks both forms.
    */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "ann_rrf_fusion_served" -> oraclesBase("ann_rrf_fusion"))
}
