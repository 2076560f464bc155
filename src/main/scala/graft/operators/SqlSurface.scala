package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The SQL-text surface of the engine: the same tables exposed as temp
  * views and queried via `spark.sql(...)` — for users who drive the
  * library from SQL rather than the DataFrame API. The text goes
  * through the identical Catalyst pipeline (same pushdown, same AQE,
  * same injected rules), so nothing here is a second implementation;
  * `sql_upc_valid_share` additionally exercises the session-registered
  * native `upc_valid` function from SQL.
  */
object SqlSurface {

  private def withViews[A](spark: SparkSession, dir: String)(f: => A): A = {
    Tables.names.foreach { n =>
      // events needs its typed accessor (nanos→micros timestamp surface)
      val df = if (n == "events") Tables.events(spark, dir) else Tables.load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
    f
  }

  /** Revenue per nation, pure SQL text (same shape as q5 without the
    * region filter).
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        """SELECT n_name,
          |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |GROUP BY n_name
          |ORDER BY n_name""".stripMargin)
    }

  /** Share of synthesized article codes passing the NATIVE upc_valid
    * expression, called from SQL (GraftExtensions must be installed).
    */
  def upcValidShare(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        """SELECT p_brand,
          |  count(*) AS n_parts,
          |  sum(CASE WHEN upc_valid(lpad(CAST(p_partkey * 777371 % 1000000000000 AS STRING), 12, '0'))
          |           THEN 1 ELSE 0 END) AS n_valid
          |FROM part
          |GROUP BY p_brand
          |ORDER BY p_brand""".stripMargin)
    }

  /** The banded simhash near-dup pair search, pure SQL text over the
    * SERVED fingerprint artifact (registered as the `simhash_fp` view):
    * band explode via LATERAL VIEW, 16-bit band-key equi-join, native
    * `bit_count` Hamming — the exact query an analyst runs against the
    * maintained fingerprint table, same plan discipline as the Scala
    * form ([[Dedup.dedupSimhashPairs]]; shares its oracle).
    */
  def simhashPairsSql(spark: SparkSession, dir: String): DataFrame = {
    Dedup.servedSimhashFingerprints(spark, dir)
      .createOrReplaceTempView("simhash_fp")
    spark.sql(
      """WITH bands AS (
        |  SELECT doc_id, simhash, band_idx,
        |    shiftright(simhash, 16 * band_idx) & 65535 AS band_bits
        |  FROM simhash_fp
        |  LATERAL VIEW explode(array(0, 1, 2, 3)) b AS band_idx),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS fa, b.simhash AS fb
        |  FROM bands a JOIN bands b
        |    ON a.band_idx = b.band_idx AND a.band_bits = b.band_bits
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(fa ^ fb) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(fa ^ fb) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** Okapi BM25 top-10, pure SQL text over the SERVED inverted-index
    * artifacts — the `bm25_tf` / `bm25_df` / `bm25_dl` posting
    * relations registered as views (the exact tables
    * [[graft.operators.IndexMaintenance]] keeps fresh), 1-row stats →
    * rarest-term query probe → integer-scaled scoring with k1/b in the
    * text. Same arithmetic order as [[TextAnalysis.textBm25Topk]],
    * whose oracle it shares. The r12 form tokenized `documents` inside
    * a `tf` CTE referenced three times — Spark inlines `WITH` CTEs, so
    * the corpus was re-tokenized per reference; postings tables are
    * what a SQL analyst would (and here does) query instead.
    */
  def bm25TopkSql(spark: SparkSession, dir: String): DataFrame = {
    val (tf, df, dl) = AnnSearch.servedBm25(spark, dir)
    tf.createOrReplaceTempView("bm25_tf")
    df.createOrReplaceTempView("bm25_df")
    dl.createOrReplaceTempView("bm25_dl")
    spark.sql(
      """WITH stats AS (SELECT count(*) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bm25_dl),
        |qterms AS (SELECT term, df FROM bm25_df ORDER BY df ASC, term LIMIT 3),
        |contrib AS (
        |  SELECT tf.doc_id, dl.dl,
        |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS c
        |  FROM bm25_tf tf JOIN qterms USING (term)
        |  JOIN bm25_dl dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, count(*) AS n_terms_hit, dl,
        |  round(sum(CAST(round(c * 1000000, 0) AS BIGINT)) / 1000000.0D, 6) AS score
        |FROM contrib GROUP BY doc_id, dl
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)
  }

  /** The quantile-threshold quality gate, pure SQL text: the sigmoid
    * quality score (log-length, stopword, punctuation, uppercase
    * signals), the 25th-percentile cutoff as a 1-row aggregate, and
    * the map-side filter — the relative-threshold recipe in the form
    * an analyst edits. Same arithmetic order as
    * [[TextAnalysis.qualityScore]]; shares
    * [[CorpusOps.corpusQualityGate]]'s oracle.
    */
  def qualityGateSql(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        """WITH toks AS (
          |  SELECT doc_id, text, split(lower(trim(text)), '\\s+') AS tok
          |  FROM documents),
          |s AS (
          |  SELECT doc_id,
          |    round(1.0 / (1.0 + exp(-(
          |      ln(CAST(size(tok) AS DOUBLE) + 1) * 0.3
          |      + CAST(size(filter(tok,
          |          x -> array_contains(array('the','a','and','of','to','in','is','it','for','on'), x))) AS DOUBLE)
          |        / CAST(size(tok) AS DOUBLE) * 2.0
          |      - (CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[^A-Za-z0-9\\s]', '')) AS DOUBLE))
          |        / CAST(length(text) AS DOUBLE) * 3.0
          |      - (CAST(length(text) AS DOUBLE) - CAST(length(regexp_replace(text, '[A-Z]', '')) AS DOUBLE))
          |        / CAST(length(text) AS DOUBLE) * 2.0))), 6) AS quality_score
          |  FROM toks),
          |t AS (SELECT round(percentile(quality_score, 0.25D), 6) AS p25 FROM s)
          |SELECT doc_id, quality_score, p25 FROM s CROSS JOIN t
          |WHERE quality_score >= p25 ORDER BY doc_id""".stripMargin)
    }

  /** Brute-force cosine top-k from SQL text — the native codegen'd
    * `vec_dot` kernel called as a SQL function (like `upc_valid`
    * above) over the SERVED `vec_norms` artifact (decoded vectors with
    * norms precomputed at build time — the sealed-segment shape), a
    * broadcast query subset, the windowed rank in the text. The r12
    * form cast + re-normed `embeddings` inside a CTE referenced twice
    * (CTE inlining re-planned it per reference). Shares
    * [[AnnSearch.annTopk]]'s oracle.
    */
  def annTopkSql(spark: SparkSession, dir: String): DataFrame = {
    AnnSearch.servedVecNorms(spark, dir).createOrReplaceTempView("vec_norms")
    spark.sql(
      """WITH scored AS (
        |  SELECT /*+ BROADCAST(q) */ q.vec_id AS q_id, e.vec_id AS vec_id,
        |    round(vec_dot(q.v, e.v) / (q.nrm * e.nrm), 6) AS cosine
        |  FROM vec_norms e JOIN (SELECT * FROM vec_norms WHERE vec_id % 50 = 0) q
        |    ON e.vec_id <> q.vec_id)
        |SELECT q_id, vec_id AS neighbor_id, cosine, rank
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |      FROM scored)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)
  }

  /** PageRank from SQL text — the unrolled power-iteration chain an
    * analyst writes against a PREPARED adjacency table: the served
    * `knn_edges` artifact is preprocessed once into the checkpointed
    * degree-weighted adjacency + 1-row node count
    * ([[GraphOps.pagerankAdjacency]], the same relations the DataFrame
    * form iterates over), registered as the `pr_adj` / `pr_n` views;
    * each round is then one join + keyed aggregation in the text, with
    * the same per-round 6-dp re-rounding discipline. A raw-CTE version
    * (deg/weighted as `WITH` clauses) would re-plan the adjacency per
    * iteration under CTE inlining — the exact blow-up
    * [[bm25TopkSql]] shed this round. Shares
    * [[GraphOps.oracles]]("graph_pagerank")'s SQL.
    */
  def pagerankSql(spark: SparkSession, dir: String): DataFrame = {
    val (_, weighted, nRel) =
      GraphOps.pagerankAdjacency(GraphOps.knnEdgesServed(spark, dir))
    weighted.createOrReplaceTempView("pr_adj")
    nRel.createOrReplaceTempView("pr_n")
    val d = GraphOps.Damping
    val t = GraphOps.Teleport
    // CROSS JOIN the 1-row count (broadcast) instead of a scalar
    // subquery per iteration: each scalar subquery is its own tiny
    // job, and 2 × Iters of them cost ~0.5 s of pure scheduling
    // D-suffix every fractional literal: Spark SQL parses a bare
    // decimal-point literal as DECIMAL, which would run the whole
    // unrolled rank chain in decimal arithmetic while the DataFrame
    // twin (lit(1.0) = double) and the DuckDB oracle run doubles —
    // after 3+ rounds of 6-dp re-rounding the 6th decimal diverges
    val iter = (prev: String, out: String) =>
      s"""$out AS (
         |  SELECT doc_id, round(${t}D / n_nodes + ${d}D * contrib, 6) AS r FROM (
         |    SELECT a.dst AS doc_id, n_nodes, sum(r.r / a.d) AS contrib
         |    FROM pr_adj a JOIN $prev r ON r.doc_id = a.src CROSS JOIN pr_n
         |    GROUP BY a.dst, n_nodes))""".stripMargin
    spark.sql(
      s"""WITH r0 AS (
         |  SELECT DISTINCT src AS doc_id, 1.0D / n_nodes AS r
         |  FROM pr_adj CROSS JOIN pr_n),
         |${(1 to GraphOps.Iters).map(i => iter(s"r${i - 1}", s"r$i")).mkString(",\n")}
         |SELECT doc_id, r AS pagerank FROM r${GraphOps.Iters}
         |ORDER BY doc_id""".stripMargin)
  }

  /** Connected-component membership from SQL text over the SERVED
    * `dedup_labels` artifact (the min-label fixpoint's output table) —
    * the component-size policy query an analyst actually runs: one
    * window over the label table, no pair search, no fixpoint in the
    * query. Shares [[Dedup.oracles]]("dedup_components")'s SQL.
    */
  def componentsSql(spark: SparkSession, dir: String): DataFrame = {
    Dedup.servedLabels(spark, dir).createOrReplaceTempView("dedup_labels")
    spark.sql(
      """SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS component_size
        |FROM dedup_labels ORDER BY doc_id""".stripMargin)
  }

  /** The 30-min gaps-and-islands sessionizer, pure SQL text over the
    * `events` view — the lag-flag + running-sum idiom an analyst
    * writes, with the same strict-`>` gap boundary and `(ts,
    * event_id)` tie-break as [[Events.eventsSessionize]], whose oracle
    * it shares. Both windows share one (user_id, ts, event_id) sort, so
    * the text plans to a single exchange like the DataFrame form.
    */
  def sessionizeSql(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        s"""WITH flags AS (
           |  SELECT user_id, ts, event_id, value,
           |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           |           OR unix_micros(ts) - unix_micros(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           |              > ${Events.SessionGapMicros}
           |         THEN 1L ELSE 0L END AS new_session
           |  FROM events),
           |sess AS (
           |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
           |  FROM flags)
           |SELECT user_id, session_idx,
           |  min(ts) AS session_start, max(ts) AS session_end,
           |  count(*) AS n_events, round(sum(value), 6) AS sum_value
           |FROM sess GROUP BY user_id, session_idx
           |ORDER BY user_id, session_idx""".stripMargin)
    }

  /** Day-N cohort retention, pure SQL text over the `events` view —
    * first-active-day cohorts × distinct active users per day offset,
    * the two grouped passes of [[Events.eventsRetention]] (whose
    * oracle it shares) with no window over the corpus.
    */
  def retentionSql(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        """WITH days AS (
          |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
          |cohorts AS (
          |  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
          |SELECT cohort_day, datediff(day, cohort_day) AS day_offset,
          |  count(DISTINCT user_id) AS n_users
          |FROM days JOIN cohorts USING (user_id)
          |GROUP BY cohort_day, datediff(day, cohort_day)
          |ORDER BY cohort_day, day_offset""".stripMargin)
    }

  /** The three-stage ordered funnel, pure SQL text over the `events`
    * view — one conditional-min aggregate per user, stage reach as
    * ordered first-occurrence comparisons (the exact predicates of
    * [[Events.eventsFunnel]], whose oracle it shares).
    */
  def funnelSql(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        """WITH pu AS (
          |  SELECT user_id,
          |    min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
          |    min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
          |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
          |  FROM events GROUP BY user_id)
          |SELECT user_id,
          |  first_click IS NOT NULL AS reached_click,
          |  first_click IS NOT NULL AND first_view IS NOT NULL
          |    AND first_view >= first_click AS reached_view,
          |  first_click IS NOT NULL AND first_view IS NOT NULL
          |    AND first_view >= first_click AND first_purchase IS NOT NULL
          |    AND first_purchase >= first_view AS reached_purchase
          |FROM pu ORDER BY user_id""".stripMargin)
    }

  /** The as-of join as pure SQL text over the `events` view — the
    * union + carry-forward-window form an analyst writes where the
    * engine has no ASOF keyword: tag both sides, one window
    * partitioned on user_id, lexicographic struct max carries the
    * latest click at-or-before each purchase (clicks order before
    * purchases at equal timestamps via the side tag — ASOF `>=`
    * semantics). Plans to the same single exchange as
    * [[Events.eventsAsofJoin]], whose oracle (DuckDB's NATIVE ASOF
    * JOIN) it shares — three implementation tiers, one oracle.
    */
  def asofSql(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        """WITH tagged AS (
          |  SELECT user_id, ts, event_id, 0 AS side FROM events WHERE event_type = 'click'
          |  UNION ALL
          |  SELECT user_id, ts, event_id, 1 AS side FROM events WHERE event_type = 'purchase'),
          |carried AS (
          |  SELECT *,
          |    max(CASE WHEN side = 0
          |             THEN named_struct('c_ts', ts, 'c_id', event_id) END)
          |      OVER (PARTITION BY user_id ORDER BY ts, side, event_id
          |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
          |  FROM tagged)
          |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
          |  last_click.c_id AS click_id, last_click.c_ts AS click_ts,
          |  round((unix_micros(ts) - unix_micros(last_click.c_ts)) / 1e6, 6) AS gap_s
          |FROM carried WHERE side = 1 AND last_click IS NOT NULL
          |ORDER BY purchase_id""".stripMargin)
    }

  /** The point-in-time SCD2 lookup as pure SQL text — the backfill
    * correctness query every feature store runs: each lineitem row
    * joins the price version VALID AT ITS OWN SHIP DATE against the
    * maintained version history, registered as the `scd2_price` view
    * ([[EtlEnrichment.scd2History]]'s output relation — the table a
    * warehouse keeps materialized). Equi-join on partkey with the
    * interval predicate as a residual filter, same aggregation as
    * [[EtlEnrichment.temporalJoin]], whose oracle it shares.
    */
  def temporalJoinSql(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      EtlEnrichment.scd2History(spark, dir)
        .select(col("l_partkey").as("pk"), col("version"), col("price"),
          col("valid_from"), col("valid_to"))
        .createOrReplaceTempView("scd2_price")
      spark.sql(
        """SELECT l.l_partkey, v.version, v.price,
          |  count(*) AS n_lines,
          |  min(l.l_shipdate) AS first_ship,
          |  max(l.l_shipdate) AS last_ship
          |FROM lineitem l JOIN scd2_price v
          |  ON l.l_partkey = v.pk
          |  AND l.l_shipdate >= v.valid_from
          |  AND (v.valid_to IS NULL OR l.l_shipdate < v.valid_to)
          |GROUP BY l.l_partkey, v.version, v.price
          |ORDER BY l.l_partkey, v.version""".stripMargin)
    }

  /** The SCD2 version-history BUILD as pure SQL text — the other half
    * of the temporal story ([[temporalJoinSql]] consumes the history;
    * this constructs it): daily min-price observations, lag-flagged
    * version starts, validity intervals via lead over the surviving
    * rows. All three windows share one (l_partkey, obs_date) sort —
    * the named-WINDOW form makes that sharing explicit in the text —
    * so the whole history build stays a single partkey exchange like
    * [[EtlEnrichment.scd2History]], whose oracle it shares.
    */
  def scd2HistorySql(spark: SparkSession, dir: String): DataFrame =
    withViews(spark, dir) {
      spark.sql(
        """WITH obs AS (
          |  SELECT l_partkey, l_shipdate AS obs_date,
          |    min(l_extendedprice) AS price
          |  FROM lineitem GROUP BY l_partkey, l_shipdate),
          |flagged AS (
          |  SELECT *, lag(price) OVER (
          |    PARTITION BY l_partkey ORDER BY obs_date) AS prev_price
          |  FROM obs),
          |starts AS (
          |  SELECT l_partkey, obs_date, price FROM flagged
          |  WHERE prev_price IS NULL OR price <> prev_price)
          |SELECT l_partkey, version, price, valid_from, valid_to,
          |  valid_to IS NULL AS is_current
          |FROM (
          |  SELECT l_partkey, price, obs_date AS valid_from,
          |    lead(obs_date) OVER w AS valid_to,
          |    row_number() OVER w AS version
          |  FROM starts
          |  WINDOW w AS (PARTITION BY l_partkey ORDER BY obs_date))
          |ORDER BY l_partkey, version""".stripMargin)
    }

  /** Hybrid retrieval — reciprocal-rank fusion of the LSH vector leg
    * and the BM25 lexical leg — as pure SQL text over the SERVED
    * artifact tier: the `lsh_keys` bucket table, the `vec_norms`
    * sealed-segment vectors (native `vec_dot` called from SQL), the
    * `bm25_w` impact-weight postings, and `bm25_tf` for the query-term
    * probe. The capstone of the SQL surface: every relation a
    * production hybrid store keeps hot is one view away, and the full
    * two-leg fusion is a single statement. Every CTE is referenced
    * once (no inlining re-evaluation); the only relations read twice
    * are the artifact tables themselves. Same constants, rounding and
    * tie-breaks as [[AnnSearch.annRrfFusionServed]], whose oracle it
    * shares.
    */
  def rrfFusionSql(spark: SparkSession, dir: String): DataFrame = {
    AnnSearch.servedLshKeys(spark, dir).createOrReplaceTempView("lsh_keys")
    AnnSearch.servedVecNorms(spark, dir).createOrReplaceTempView("vec_norms")
    AnnSearch.servedBm25W(spark, dir).createOrReplaceTempView("bm25_w")
    val (tf, _, _) = AnnSearch.servedBm25(spark, dir)
    tf.createOrReplaceTempView("bm25_tf")
    val (rk, rcand, rtop) =
      (AnnSearch.RrfK, AnnSearch.RrfCand, AnnSearch.RrfTopK)
    spark.sql(
      s"""WITH qk AS (
         |  SELECT vec_id AS q_id, t, b FROM lsh_keys WHERE vec_id % 50 = 0),
         |cand AS (
         |  SELECT /*+ BROADCAST(qk) */ DISTINCT qk.q_id, k.vec_id
         |  FROM lsh_keys k JOIN qk ON k.t = qk.t AND k.b = qk.b
         |  WHERE k.vec_id <> qk.q_id),
         |qv AS (SELECT vec_id AS q_id, v, nrm FROM vec_norms WHERE vec_id % 50 = 0),
         |vscored AS (
         |  SELECT /*+ BROADCAST(q) */ c.q_id, c.vec_id,
         |    round(vec_dot(q.v, e.v) / (q.nrm * e.nrm), 6) AS cosine
         |  FROM cand c JOIN vec_norms e ON c.vec_id = e.vec_id
         |  JOIN qv q ON c.q_id = q.q_id),
         |vleg AS (
         |  SELECT q_id, vec_id AS id, vec_rank FROM (
         |    SELECT q_id, vec_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS vec_rank
         |    FROM vscored)
         |  WHERE vec_rank <= $rcand),
         |qt AS (SELECT doc_id AS q_id, term FROM bm25_tf WHERE doc_id % 50 = 0),
         |lscored AS (
         |  SELECT /*+ BROADCAST(qt) */ qt.q_id, w.doc_id,
         |    round(sum(w.w6) / 1000000.0D, 6) AS bm25
         |  FROM bm25_w w JOIN qt ON w.term = qt.term
         |  WHERE w.doc_id <> qt.q_id
         |  GROUP BY qt.q_id, w.doc_id),
         |lleg AS (
         |  SELECT q_id, doc_id AS id, lex_rank FROM (
         |    SELECT q_id, doc_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS lex_rank
         |    FROM lscored)
         |  WHERE lex_rank <= $rcand),
         |fused AS (
         |  SELECT coalesce(v.q_id, l.q_id) AS q_id, coalesce(v.id, l.id) AS id,
         |    v.vec_rank, l.lex_rank,
         |    round(coalesce(1.0D / (v.vec_rank + $rk), 0.0D)
         |      + coalesce(1.0D / (l.lex_rank + $rk), 0.0D), 6) AS rrf
         |  FROM vleg v FULL OUTER JOIN lleg l
         |    ON v.q_id = l.q_id AND v.id = l.id)
         |SELECT q_id, id AS neighbor_id, vec_rank, lex_rank, rrf, rank
         |FROM (SELECT *, row_number() OVER (
         |    PARTITION BY q_id ORDER BY rrf DESC, id) AS rank FROM fused)
         |WHERE rank <= $rtop ORDER BY q_id, rank""".stripMargin)
  }

  /** The verified-Jaccard near-dup pair search, pure SQL text over the
    * SERVED dedup artifacts — the analyst form of the tier the capped
    * operators bound: banded candidates from the `dedup_sigs`
    * signature index (one self-equi-join on the (band_idx, bk) bucket
    * key — never all-pairs) and exact bigram verification against the
    * `dedup_sh` shingle table (gram-bucketed, so the intersection join
    * is exchange-free on the artifact side). Same candidate semantics,
    * intersection counting, rounding, and threshold as
    * [[Dedup.dedupNgramJaccard]], whose oracle it shares.
    */
  def dedupPairsSql(spark: SparkSession, dir: String): DataFrame = {
    Dedup.servedSigs(spark, dir).createOrReplaceTempView("dedup_sigs")
    Dedup.servedShingles(spark, dir).createOrReplaceTempView("dedup_sh")
    spark.sql(
      s"""WITH cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM dedup_sigs a JOIN dedup_sigs b
         |    ON a.band_idx = b.band_idx AND a.bk = b.bk
         |    AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM dedup_sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN dedup_sh sa ON sa.doc_id = c.doc_a
         |  JOIN dedup_sh sb ON sb.doc_id = c.doc_b AND sb.gram = sa.gram
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT i.doc_a, i.doc_b, i.n_inter,
         |  round(i.n_inter / (za.n_grams + zb.n_grams - i.n_inter), 6) AS jaccard
         |FROM inter i
         |JOIN sizes za ON za.doc_id = i.doc_a
         |JOIN sizes zb ON zb.doc_id = i.doc_b
         |WHERE round(i.n_inter / (za.n_grams + zb.n_grams - i.n_inter), 6)
         |  >= ${Dedup.JaccardThreshold}D
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  /** The coarse perceptual near-dup pair search, pure SQL text over
    * the SERVED `phash_dct` fingerprint artifact — the analyst form of
    * the production `_r3` operating point: each 64-bit DCT fingerprint
    * unpivots to its 4 × 16-bit band keys (lossless to radius 3 by
    * pigeonhole), candidates come from one self-equi-join on the band
    * key — never payloads² — and every surviving pair carries its
    * exact Hamming distance. Same banding, radius, and output contract
    * as [[Multimodal.multimodalPhashDctPairsR3]], whose oracle it
    * shares.
    */
  def phashPairsSql(spark: SparkSession, dir: String): DataFrame = {
    Multimodal.servedDctFingerprints(spark, dir)
      .createOrReplaceTempView("phash_dct")
    spark.sql(
      s"""WITH bands AS (
         |  SELECT doc_id, modality, phash64, band_idx,
         |    shiftright(phash64, 16 * band_idx) & 65535 AS band_bits
         |  FROM phash_dct
         |  LATERAL VIEW explode(array(0, 1, 2, 3)) b AS band_idx),
         |cand AS (
         |  SELECT DISTINCT a.modality, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.phash64 AS fa, b.phash64 AS fb
         |  FROM bands a JOIN bands b
         |    ON a.modality = b.modality AND a.band_idx = b.band_idx
         |    AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id)
         |SELECT modality, doc_a, doc_b,
         |  CAST(bit_count(fa ^ fb) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(fa ^ fb) <= ${Multimodal.DctRadiusCoarse}
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_revenue_by_nation" -> (revenueByNation _),
    "sql_upc_valid_share"   -> (upcValidShare _),
    "sql_simhash_pairs"     -> (simhashPairsSql _),
    "sql_bm25_topk"         -> (bm25TopkSql _),
    "sql_quality_gate"      -> (qualityGateSql _),
    "sql_ann_topk"          -> (annTopkSql _),
    "sql_pagerank"          -> (pagerankSql _),
    "sql_components"        -> (componentsSql _),
    "sql_sessionize"        -> (sessionizeSql _),
    "sql_retention"         -> (retentionSql _),
    "sql_funnel"            -> (funnelSql _),
    "sql_asof"              -> (asofSql _),
    "sql_temporal_join"     -> (temporalJoinSql _),
    "sql_scd2_history"      -> (scd2HistorySql _),
    "sql_rrf_fusion"        -> (rrfFusionSql _),
    "sql_dedup_pairs"       -> (dedupPairsSql _),
    "sql_phash_pairs"       -> (phashPairsSql _))

  /** SQL twin → the DataFrame query whose oracle (and therefore exact
    * output contract) it shares. SqlSurfaceSpec asserts schema parity
    * (names AND types) across every pair, so a literal-typing drift —
    * Spark parses bare `1.0` as DECIMAL while `lit(1.0)` is DOUBLE —
    * fails at dev time instead of as a driver-gate hash mismatch
    * (`sql_pagerank`, round 13). The two twins absent here
    * (`sql_revenue_by_nation`, `sql_upc_valid_share`) have no
    * DataFrame counterpart; they carry their own oracles.
    */
  val twins: Map[String, String] = Map(
    "sql_simhash_pairs" -> "dedup_simhash_pairs",
    "sql_bm25_topk"     -> "text_bm25_topk",
    "sql_quality_gate"  -> "corpus_quality_gate",
    "sql_ann_topk"      -> "ann_topk",
    "sql_pagerank"      -> "graph_pagerank",
    "sql_components"    -> "dedup_components",
    "sql_sessionize"    -> "events_sessionize",
    "sql_retention"     -> "events_retention",
    "sql_funnel"        -> "events_funnel",
    "sql_asof"          -> "events_asof_join",
    "sql_temporal_join" -> "etl_temporal_join",
    "sql_scd2_history"  -> "etl_scd2_history",
    "sql_rrf_fusion"    -> "ann_rrf_fusion_served",
    "sql_dedup_pairs"   -> "dedup_ngram_jaccard",
    "sql_phash_pairs"   -> "multimodal_phash_dct_pairs_r3")

  val oracles: Map[String, String] = Map(
    "sql_revenue_by_nation" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "sql_upc_valid_share" -> {
      // DuckDB re-implements the check digit in plain SQL
      def d(i: Int) = s"CAST(substr(code, $i, 1) AS INT)"
      val odd  = Seq(1, 3, 5, 7, 9, 11).map(d).mkString(" + ")
      val even = Seq(2, 4, 6, 8, 10).map(d).mkString(" + ")
      s"""WITH coded AS (
         |  SELECT p_brand,
         |    lpad(CAST(p_partkey * 777371 % 1000000000000 AS VARCHAR), 12, '0') AS code
         |  FROM part)
         |SELECT p_brand, count(*) AS n_parts,
         |  CAST(sum(CASE WHEN (3 * ($odd) + ($even) + ${d(12)}) % 10 = 0
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
         |FROM coded GROUP BY p_brand ORDER BY p_brand""".stripMargin
    },
    // the SQL-text twins reproduce their operators' results exactly —
    // each reuses the base form's oracle (the served/indexed-twin
    // aliasing convention)
    "sql_simhash_pairs" -> Dedup.oracles("dedup_simhash_pairs"),
    "sql_bm25_topk"     -> TextAnalysis.oracles("text_bm25_topk"),
    "sql_quality_gate"  -> CorpusOps.oracles("corpus_quality_gate"),
    "sql_ann_topk"      -> AnnSearch.oracles("ann_topk"),
    "sql_pagerank"      -> GraphOps.oracles("graph_pagerank"),
    "sql_components"    -> Dedup.oracles("dedup_components"),
    "sql_sessionize"    -> Events.oracles("events_sessionize"),
    "sql_retention"     -> Events.oracles("events_retention"),
    "sql_funnel"        -> Events.oracles("events_funnel"),
    "sql_asof"          -> Events.oracles("events_asof_join"),
    "sql_temporal_join" -> EtlEnrichment.oracles("etl_temporal_join"),
    "sql_scd2_history"  -> EtlEnrichment.oracles("etl_scd2_history"),
    "sql_rrf_fusion"    -> AnnSearch.oracles("ann_rrf_fusion"),
    "sql_dedup_pairs"   -> Dedup.oracles("dedup_ngram_jaccard"),
    "sql_phash_pairs"   -> Multimodal.oracles("multimodal_phash_dct_pairs_r3"))
}
