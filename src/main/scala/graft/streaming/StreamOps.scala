package graft.streaming

import graft.sinks.{EsBulkSink, IdempotentMergeSink}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming forms of graft's batch operators — the
  * continuous form of the reference's Dagster sensor/trigger flow
  * (`repository/repository.py` sensors → job runs). Four kinds:
  *   - stateless and watermarked transforms (hourly counts and
  *     sketches, click attribution, exact dedup, enrichment, session
  *     windows, quality admission), which accept a streaming OR batch
  *     DataFrame, so the batch oracles double as references;
  *   - stateful `flatMapGroupsWithState` / `transformWithState`
  *     operators (sessionizers, EMA, hourly top-N, CDC apply) over
  *     typed Datasets, each pinned against its batch twin in
  *     StreamingSpec;
  *   - admission streams (near-dup, perceptual, verbatim span), which
  *     probe a static index per micro-batch and hand each batch's
  *     verdicts to a callback;
  *   - sinks and refresh streams (ES bulk, incremental aggregate, and
  *     the `IndexMaintenance` refreshes), exactly-once by batch id.
  */
object StreamOps {

  val SessionGapMicros: Long = 30L * 60 * 1000000

  /** Hourly tumbling-window counts per event type with a 2h watermark:
    * state is bounded (windows older than watermark are dropped), so
    * the query runs forever at constant memory per key.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Continuous ES bulk indexing: each micro-batch becomes one bulk
    * NDJSON payload under `path/batch=<id>` via the file-based
    * [[EsBulkSink]] — the streaming twin of the reference's per-batch
    * `bulk_index_documents` POST loop. foreachBatch gives exactly-once
    * per-batch file output (batch id in the path) and reuses the batch
    * sink unchanged.
    */
  def esBulkStream(docs: DataFrame, index: String, idCol: String,
      path: String, checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) EsBulkSink.write(batch, index, idCol, s"$path/batch=$batchId")
      }
      .start()

  /** Stream-stream click attribution: each purchase joins the clicks of
    * the same user in the preceding 30 minutes. Both sides carry
    * watermarks and the join condition bounds event time on both ends,
    * so Spark can expire join state — the query runs forever at bounded
    * memory. (The streaming twin of `Events.eventsAsofJoin`'s
    * candidate-generation step.)
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attribution(clicks, purchases, "inner")

  /** LEFT OUTER stream-stream attribution: same join window as
    * [[clickAttribution]], but purchases with NO qualifying click are
    * still emitted — with null click columns — once BOTH watermarks
    * pass the join window and Spark can prove no matching click will
    * arrive. The outer emission is literally the state-expiry event,
    * so unmatched-purchase latency equals the watermark delay and
    * state stays bounded exactly as in the inner form. (The continuous
    * twin of a left join in the batch funnel: conversion AND
    * non-conversion rows from one query.)
    */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attribution(clicks, purchases, "leftOuter")

  /** Purchases `joinType`-joined to the same user's clicks of the 30
    * minutes before, both sides watermarked at one hour.
    */
  private def attribution(clicks: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases.select(col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    p.join(c, expr(
      """p_user = c_user
        |AND click_ts <= purchase_ts
        |AND click_ts >= purchase_ts - INTERVAL 30 MINUTES""".stripMargin), joinType)
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Streaming exact dedup: keep the first arrival per content hash,
    * with state expired past the watermark (`dropDuplicatesWithinWatermark`)
    * — the continuous form of `dedup_exact`, at bounded state.
    */
  def streamingDedup(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(lower(trim(col("text")))))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming QUALITY admission — serve the batch-trained logistic
    * gate (`CorpusOps.corpusQualityLogreg`) on an arriving document
    * stream: the 1-row model (standardization + weights,
    * [[graft.operators.CorpusOps.qualityModel]]) broadcasts into a
    * stream-static join; each arriving doc computes the SAME four
    * cheap signals, z-scores against the SAME corpus mu/sd, and takes
    * the SAME rounded sigmoid — so a doc scores identically whether
    * it flows through the batch gate or this stream (the spec pins
    * that). Pure per-row map + 1-row broadcast: no state store, no
    * watermark, unbounded throughput — the model-serving shape.
    */
  def qualityAdmissionStream(docs: DataFrame, model: DataFrame): DataFrame = {
    import graft.operators.{CorpusOps, TextAnalysis}
    // the z-scored features, named x1..x4 as `CorpusOps.zLin` reads them
    val zs = (1 to 4).map(j => CorpusOps.zScoreCol(j).as(s"x$j"))
    docs
      .select((col("doc_id") +: TextAnalysis.qualityFeatures(col("text"))): _*)
      .crossJoin(broadcast(model))
      .select(col("doc_id") +: zs ++: (0 to 4).map(j => col(s"w$j")): _*)
      .select(col("doc_id"), CorpusOps.qualityP(round(CorpusOps.zLin, 6)).as("p6"))
      .select(col("doc_id"), col("p6"),
        when(col("p6") >= 0.5, "admit").otherwise("reject").as("decision"))
  }

  /** Streaming NEAR-DUP admission — the continuous twin of
    * `dedup_incremental`: each micro-batch of arriving documents
    * computes its banded MinHash signature keys (the same
    * [[graft.operators.Dedup.bandKeysOf]] banding as the batch path)
    * and probes the corpus SIGNATURE INDEX — a static relation of
    * (cand_id, band_idx, bk) — via a stream-static equi-join on the
    * band key. A doc whose bands hit nothing is admitted immediately;
    * a doc with candidate partners is routed to review (where the
    * batch-side exact-Jaccard verification of `dedup_incremental`
    * takes over). Old-vs-old pairs are structurally impossible: only
    * the batch side of the join is new data, so steady-state work per
    * interval ∝ batch size + touched buckets — the property that
    * makes continuous ingest dedup affordable at 100 TB. foreachBatch
    * keeps the signature aggregation off the streaming state store
    * (it is a per-batch batch job, checkpoint-recoverable and
    * idempotent: re-running a batch reproduces identical verdicts).
    *
    * MEASURED LIMIT (r15): "touched buckets" is the fine print — on a
    * duplicate-heavy corpus bucket occupancy grows ∝ corpus, and the
    * batch twin measured byte exp 1.57 from exactly this probe shape
    * (PLANS.md). The index is a PARAMETER: a deployment in that
    * regime passes [[graft.operators.Dedup.servedSigsCapped]] (scan
    * depth baked into the artifact — per-probe candidates ≤ bands ×
    * SigScanCap at any corpus) and keeps this operator unchanged;
    * StreamingSpec pins both the bound and that exact-dup arrivals
    * still land in review through the capped prefix.
    */
  def nearDupAdmissionStream(docs: DataFrame, index: DataFrame,
      checkpoint: String)(onBatch: DataFrame => Unit): StreamingQuery =
    admissionStream(docs, Seq("doc_id", "text"), checkpoint, onBatch) { batch =>
      candidateVerdicts(batch, graft.operators.Dedup.bandKeysOf(batch)
        .join(index, Seq("band_idx", "bk"))
        .filter(col("doc_id") =!= col("cand_id")))
    }

  /** The checkpointed foreachBatch body every admission stream shares:
    * each micro-batch, projected to `cols`, goes through `verdicts` and
    * the result to `onBatch`. A re-run batch reproduces its verdicts.
    */
  private def admissionStream(in: DataFrame, cols: Seq[String], checkpoint: String,
      onBatch: DataFrame => Unit)(verdicts: DataFrame => DataFrame): StreamingQuery =
    in.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onBatch(verdicts(batch.select(cols.map(col): _*)))
      }
      .start()

  /** Per batch doc: its distinct candidate partners in `hits`
    * (doc_id, cand_id), and `review` when it has any, else `admit`.
    */
  private def candidateVerdicts(batch: DataFrame, hits: DataFrame): DataFrame =
    batch.select(col("doc_id")).distinct()
      .join(hits.select(col("doc_id"), col("cand_id")).distinct()
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("cand_id")).as("n_candidates")),
        Seq("doc_id"), "left")
      .withColumn("n_candidates", coalesce(col("n_candidates"), lit(0L)))
      .withColumn("action",
        when(col("n_candidates") > 0, "review").otherwise("admit"))

  /** Streaming PERCEPTUAL near-dup admission — the multimodal twin of
    * [[nearDupAdmissionStream]], closing the batch/streaming symmetry
    * for the fingerprint family: each micro-batch of arriving media
    * rows (doc_id, modality, payload_hex, payload_md5) computes its
    * banded perceptual fingerprints (the same
    * [[graft.operators.Multimodal.phashBandKeysOf]] banding as the
    * batch pair search) and probes the corpus FINGERPRINT INDEX — a
    * static (cand_id, modality, band_idx, band_bits, cand_phash)
    * relation — via a stream-static equi-join on (modality, band key).
    * Band hits are then Hamming-verified against the candidate's full
    * fingerprint (`bit_count(xor) <= PhashRadius`), so a re-encoded
    * thumbnail lands in review while byte-novel AND perceptually-novel
    * payloads are admitted immediately. Only the batch side is new
    * data — old-vs-old comparisons are structurally impossible, and
    * per-interval work ∝ batch payload bytes + touched buckets.
    */
  def phashAdmissionStream(media: DataFrame, index: DataFrame,
      checkpoint: String)(onBatch: DataFrame => Unit): StreamingQuery =
    admissionStream(media, Seq("doc_id", "modality", "payload_hex", "payload_md5"),
        checkpoint, onBatch) { batch =>
      candidateVerdicts(batch, graft.operators.Multimodal.phashBandKeysOf(batch)
        .join(index, Seq("modality", "band_idx", "band_bits"))
        .filter(col("doc_id") =!= col("cand_id"))
        .withColumn("hamming", expr("bit_count(phash ^ cand_phash)").cast("long"))
        .filter(col("hamming") <= graft.operators.Multimodal.PhashRadius))
    }

  /** Streaming materialized view — the continuous twin of
    * `etl_incremental_agg`: each micro-batch is reduced to its (small)
    * mergeable aggregate and MERGED into the stored state via
    * [[graft.operators.Incremental.mergeAggState]]; history is never
    * rescanned. State versions are keyed by batchId (`v=<batchId>`)
    * and a replayed batch deterministically overwrites its own version,
    * so the sink is idempotent under checkpoint recovery — the
    * file-based form of exactly-once state maintenance.
    */
  def incrementalAggStream(lineitem: DataFrame, stateDir: String,
      checkpoint: String): StreamingQuery =
    lineitem.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        val fs = new org.apache.hadoop.fs.Path(stateDir)
          .getFileSystem(sp.sparkContext.hadoopConfiguration)
        val prev =
          if (!fs.exists(new org.apache.hadoop.fs.Path(stateDir))) None
          else fs.listStatus(new org.apache.hadoop.fs.Path(stateDir)).toSeq
            .map(_.getPath.getName).filter(_.startsWith("v="))
            .map(_.stripPrefix("v=").toLong).filter(_ < batchId)
            .sorted.lastOption
        val delta = graft.operators.Incremental.aggState(batch)
        val merged = prev match {
          case Some(v) => graft.operators.Incremental
            .mergeAggState(graft.Tables.parquet(sp, s"$stateDir/v=$v"), delta)
            .drop("had_history", "had_delta")
          case None => delta
        }
        merged.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
        // Retention: once v=batchId is durably written, every version
        // older than the predecessor it was merged from is dead weight —
        // replay of batchId re-reads only `prev`. Pruning here keeps the
        // directory at ≤2 versions, so both storage and the per-batch
        // listStatus scan stay O(1) over the stream's lifetime.
        val keep = prev.getOrElse(batchId)
        fs.listStatus(new org.apache.hadoop.fs.Path(stateDir)).toSeq
          .map(_.getPath).filter(_.getName.startsWith("v="))
          .filter(_.getName.stripPrefix("v=").toLong < keep)
          .foreach(p => fs.delete(p, true))
      }
      .start()

  /** Windowed sketch aggregation: per-hour distinct users
    * (`approx_count_distinct`) and p90 value (`approx_percentile`)
    * under a watermark — both aggregates are MERGEABLE sketches, so
    * they run as ordinary streaming state (partial per micro-batch,
    * merged in the state store, expired past the watermark). The
    * streaming twin of `sketch_distinct_users`/`events_quantiles_approx`:
    * at 100 TB-rate streams, exact distinct/percentile state is
    * unbounded per window, sketch state is constant.
    */
  def hourlySketches(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"),
        expr("approx_percentile(value, 0.9D, 1000)").as("p90_approx"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_users_approx"), col("p90_approx"))

  /** Stream-static enrichment: every streaming event picks up its
    * dimension attributes from a static catalog table — the continuous
    * form of `q_orders_enriched` and the shape of the reference's
    * per-batch catalog lookups. Stateless (no watermark, no streaming
    * state): the static side is just a batch relation the planner
    * broadcasts under every micro-batch, so the stream never shuffles;
    * left join keeps events whose key has no catalog row yet (nulls
    * surface the gap instead of dropping the event).
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    // qualified refs: an unqualified col(name) is ambiguous the moment
    // both frames carry the name (e.g. enriching on a same-named key)
    events.join(broadcast(dim), events.col(eventKey) === dim.col(dimKey), "left")

  /** Session aggregation via the BUILT-IN `session_window` (the
    * compose-existing-ops tier: state-store managed, merges overlapping
    * windows, watermark expires closed sessions — preferred over custom
    * `flatMapGroupsWithState` whenever per-session output is just
    * aggregates). The custom [[sessionize]] below remains for the
    * reference's richer semantics (explicit close events, custom state
    * shape); both use the same 30-minute gap so the spec can cross-check
    * them. Works on batch OR streaming input.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("n_events"), col("sum_value"))

  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)
  /** Open-session accumulator carried in group state (epoch micros). */
  case class SessState(startUs: Long, endUs: Long, n: Long, sum: Double)

  /** The per-user session fold shared by BOTH stateful-API sessionizers
    * ([[sessionize]] / [[sessionizeTws]]): fold this batch's events
    * (sorted by time, then id) into the open-session state, emitting
    * every session a later event closes.
    *
    * Full microsecond precision (getTime alone drops sub-ms) and
    * BigDecimal HALF_UP rounding — both must agree with the batch twin
    * (`unix_micros` + Spark `round`), or sessions can split and sums
    * can round differently at sub-ms gap boundaries.
    */
  /** Full-microsecond event time — `getTime` alone truncates to ms;
    * every stateful twin must key ordering and state on this, or
    * sub-millisecond ties order differently than the batch operators'
    * `unix_micros`.
    */
  private def evMicros(e: Ev): Long =
    e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000

  private def tsOfMicros(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000)
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000).toInt)
    t
  }

  /** Close an open session state into the emitted row — shared by the
    * arrival-driven fold and the timer-driven expiry path so both emit
    * byte-identical sessions.
    */
  private def sessionOf(userId: Long, s: SessState): Session =
    Session(userId, tsOfMicros(s.startUs), tsOfMicros(s.endUs), s.n,
      BigDecimal(s.sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)

  private def foldSessions(userId: Long, it: Iterator[Ev],
      init: Option[SessState]): (Seq[Session], Option[SessState]) = {
    def us(e: Ev): Long = evMicros(e)
    val evs = it.toSeq.sortBy(e => (us(e), e.event_id))
    var cur = init
    val closed = Seq.newBuilder[Session]
    evs.foreach { e =>
      cur match {
        case Some(s) if us(e) - s.endUs <= SessionGapMicros =>
          cur = Some(SessState(s.startUs, us(e), s.n + 1, s.sum + e.value))
        case Some(s) =>
          closed += sessionOf(userId, s)
          cur = Some(SessState(us(e), us(e), 1, e.value))
        case None =>
          cur = Some(SessState(us(e), us(e), 1, e.value))
      }
    }
    (closed.result(), cur)
  }

  /** Streaming sessionization (30-min inactivity gap) via
    * flatMapGroupsWithState: one state object per user, sessions emitted
    * when a later event closes them. The batch twin is
    * `Events.eventsSessionize` — same gap rule, same aggregates.
    */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          val (closed, cur) = foldSessions(userId, it, state.getOption)
          cur.foreach(state.update)
          closed.iterator
      }
  }

  case class EmaPoint(user_id: Long, ts: java.sql.Timestamp,
      event_id: Long, value: Double, ema: Double)
  case class RecentEv(tsUs: Long, eventId: Long, value: Double)
  case class EmaState(recent: Seq[RecentEv])

  /** Streaming trailing EMA — the `flatMapGroupsWithState` twin of
    * `Events.eventsEma`, realizing the fixed-K state contract that
    * operator's window formulation promises: per user the state is the
    * last K (ts, event_id, value) triples and nothing else, so state
    * size is K rows per key FOREVER, independent of stream length. Each
    * arrival appends, truncates to K, and evaluates THE SAME weighted
    * sum, term order and rounding included (shared
    * `Events.emaWeights`, HALF_UP at 6 dp), so batch and stream agree
    * bit-for-bit on identically-ordered data. Arrivals are sorted
    * within each micro-batch; cross-batch late data is subject to the
    * same arrival-order semantics as every mapGroupsWithState twin
    * here.
    */
  def emaStream(events: Dataset[Ev]): Dataset[EmaPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EmaState, EmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Ev], state: GroupState[EmaState]) =>
          val (out, window) =
            foldEma(userId, it, state.getOption.map(_.recent).getOrElse(Seq.empty))
          state.update(EmaState(window))
          out.iterator
      }
  }

  /** The EMA arrival fold shared by both streaming APIs: sort the
    * micro-batch on full micros (+ event_id tiebreak), slide the
    * K-bounded window, and evaluate the batch twin's weighted sum with
    * identical term order and HALF_UP 6-dp rounding.
    */
  private def foldEma(userId: Long, it: Iterator[Ev],
      init: Seq[RecentEv]): (Seq[EmaPoint], Seq[RecentEv]) = {
    val weights = graft.operators.Events.emaWeights
    val K = graft.operators.Events.EmaK
    var window = init
    val arrivals = it.toSeq.sortBy(e => (evMicros(e), e.event_id))
    val out = arrivals.map { e =>
      window = (window :+ RecentEv(evMicros(e), e.event_id, e.value))
        .takeRight(K)
      val newestFirst = window.reverse
      // identical term order to the batch lag formulation:
      // k = 0 (current) .. K-1 (oldest), left-associated sums
      var num = 0.0; var den = 0.0
      newestFirst.zipWithIndex.foreach { case (r, k) =>
        num += r.value * weights(k); den += weights(k)
      }
      val ema = BigDecimal(num / den)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      EmaPoint(userId, e.ts, e.event_id, e.value, ema)
    }
    (out, window)
  }

  /** The SAME sessionizer on the `transformWithState` API (Spark 4's
    * successor to `[flat]mapGroupsWithState`): state lives in named,
    * individually-encoded handles (`ValueState`/`ListState`/`MapState`
    * with optional TTL) on a `StatefulProcessor`, instead of one opaque
    * blob per key — the API new stateful operators should target (it
    * requires the RocksDB state store, adds timers, and composes
    * several state variables per key). Session logic is byte-identical
    * to [[sessionize]] via the shared [[foldSessions]], so StreamingSpec
    * can assert the two APIs emit identical sessions.
    */
  class SessionProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Session] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[SessState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[SessState]("open",
        org.apache.spark.sql.Encoders.product[SessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(userId: Long, it: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val init = if (open.exists()) Some(open.get()) else None
      val (closed, cur) = foldSessions(userId, it, init)
      cur.foreach(open.update)
      closed.iterator
    }
  }

  def sessionizeTws(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** TIMER-driven sessionization — the piece of session semantics no
    * arrival-driven sessionizer can express: [[sessionize]] and
    * [[sessionizeTws]] close a session only when a LATER event for the
    * same user arrives, so a user who simply leaves holds their last
    * session open forever. With `TimeMode.EventTime` timers, each
    * arrival (re-)registers a timer at session-end + gap; when the
    * WATERMARK passes it, `handleExpiredTimer` closes and emits the
    * session with no further input for that key — the idle-timeout
    * contract real analytics sessionization requires. A stale timer
    * (the session grew after registration) checks the CURRENT state's
    * deadline and is ignored; the live timer follows. Emission is the
    * shared [[sessionOf]], so timer-closed sessions are byte-identical
    * to arrival-closed ones.
    */
  class SessionTimerProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Session] {
    @transient private var open: org.apache.spark.sql.streaming.ValueState[SessState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      open = getHandle.getValueState[SessState]("open",
        org.apache.spark.sql.Encoders.product[SessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    private def deadlineMs(s: SessState): Long =
      Math.floorDiv(s.endUs, 1000L) + SessionGapMicros / 1000L
    override def handleInputRows(userId: Long, it: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val init = if (open.exists()) Some(open.get()) else None
      val (closed, cur) = foldSessions(userId, it, init)
      cur.foreach { s =>
        open.update(s)
        getHandle.registerTimer(deadlineMs(s))
      }
      closed.iterator
    }
    override def handleExpiredTimer(userId: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Session] = {
      if (open.exists()) {
        val s = open.get()
        if (deadlineMs(s) <= info.getExpiryTimeInMs) {
          open.clear()
          Iterator.single(sessionOf(userId, s))
        } else Iterator.empty // stale: the session grew past this timer
      } else Iterator.empty
    }
  }

  def sessionizeTwsTimers(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  case class HourTopk(hour: java.sql.Timestamp, user_id: Long,
      n_events: Long, rank: Int)

  /** Streaming HOURLY TOP-N — the continuous twin of
    * `events_windowed_topk`, and the third state-handle type on the
    * `transformWithState` tour (`MapState`, after the sessionizer's
    * `ValueState` and the EMA's `ListState`): keyed by event HOUR, a
    * user → count map absorbs each micro-batch's arrivals, and the
    * hour's refreshed top-3 is emitted after every batch that touched
    * it (update-stream semantics — a consumer keeps the latest emission
    * per hour). State per key is one entry per active user in that
    * hour — the same state the batch aggregation holds, now maintained
    * incrementally; ranking ties break on user_id exactly like the
    * batch operator, so the final emission after all data equals the
    * batch top-3.
    */
  class HourlyTopkProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[java.sql.Timestamp, Ev, HourTopk] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[Long, Long]("counts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(hour: java.sql.Timestamp, it: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[HourTopk] = {
      it.foreach { e =>
        val cur = if (counts.containsKey(e.user_id)) counts.getValue(e.user_id) else 0L
        counts.updateValue(e.user_id, cur + 1L)
      }
      counts.iterator().toSeq
        .sortBy { case (user, n) => (-n, user) }
        .take(3).zipWithIndex
        .map { case ((user, n), i) => HourTopk(hour, user, n, i + 1) }
        .iterator
    }
  }

  def hourlyTopkStream(events: Dataset[Ev]): Dataset[HourTopk] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => new java.sql.Timestamp(
        e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L)))
      .transformWithState(new HourlyTopkProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** The trailing-EMA stream on `transformWithState` — the second
    * stateful operator migrated to the Spark 4 API (VERDICT r7 item 8),
    * this one exercising `ListState` (the sessionizer uses
    * `ValueState`): the K-bounded recent-event window maps naturally to
    * a list handle, appended per arrival and rewritten only when
    * truncation drops the oldest entry. EMA math is byte-identical to
    * [[emaStream]] via the shared [[foldEma]], so StreamingSpec asserts
    * the two APIs emit identical points (and both match the batch
    * `Events.emaOver`).
    */
  class EmaProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, EmaPoint] {
    @transient private var recent: org.apache.spark.sql.streaming.ListState[RecentEv] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[RecentEv]("recent",
        org.apache.spark.sql.Encoders.product[RecentEv],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(userId: Long, it: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[EmaPoint] = {
      val init = if (recent.exists()) recent.get().toSeq else Seq.empty
      val (out, window) = foldEma(userId, it, init)
      if (window.startsWith(init)) // pure append: no truncation this batch
        recent.appendList(window.drop(init.length).toArray)
      else recent.put(window.toArray)
      out.iterator
    }
  }

  def emaStreamTws(events: Dataset[Ev]): Dataset[EmaPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new EmaProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** One keyed change-log record (the CDC trickle the reference's
    * update flow reads continuously, extraction.py:160-206): op ∈
    * I/U/D, `seq` totally ordered per key.
    */
  case class CdcChange(key: Long, seq: Long, op: String, value: Double)

  /** Per-key CDC fold state: the winning (highest-seq) op so far plus
    * the accumulated change count.
    */
  case class CdcSt(seq: Long, op: String, value: Double, nChanges: Long)

  /** One upsert/tombstone emission per touched key per micro-batch —
    * the MERGE feed a lakehouse sink applies. `tombstone` rows retract
    * a key whose latest op is a delete (batch `etl_cdc_apply` simply
    * drops them; a continuous consumer needs the retraction made
    * explicit).
    */
  case class CdcRow(key: Long, last_op: String, value: Double,
      n_changes: Long, tombstone: Boolean)

  /** STREAMING CDC APPLY — the continuous twin of the batch
    * `etl_cdc_apply` ([[graft.operators.EtlCleaning.cdcApply]]): the
    * reference's update flow is a TRICKLE (indexed actions read since
    * the last watermark, extraction.py:160-206), and at 100 TB nobody
    * re-materializes table state from the full log per batch — state
    * lives per key, each micro-batch folds only ITS changes in.
    * `ValueState` per key holds (winning seq, op, value, n_changes);
    * latest-op-wins by sequence exactly as the batch rank window, a
    * key whose current winner is a delete emits a TOMBSTONE row
    * (dropped in batch, an explicit retraction here). Work per batch ∝
    * batch size — the log is never rescanned, the contract
    * StreamingSpec pins by replaying the batch oracle's deterministic
    * log in micro-batches and asserting final stream state ≡ batch
    * output.
    */
  class CdcApplyProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CdcChange, CdcRow] {
    @transient private var st: org.apache.spark.sql.streaming.ValueState[CdcSt] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[CdcSt]("st",
        org.apache.spark.sql.Encoders.product[CdcSt],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, it: Iterator[CdcChange],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[CdcRow] = {
      var cur = if (st.exists()) st.get() else CdcSt(Long.MinValue, "", 0.0, 0L)
      it.foreach { c =>
        val wins = c.seq > cur.seq
        cur = CdcSt(
          if (wins) c.seq else cur.seq,
          if (wins) c.op else cur.op,
          if (wins) c.value else cur.value,
          cur.nChanges + 1)
      }
      st.update(cur)
      // HALF_UP to 2 decimals — the same rounding Spark's round(value, 2)
      // applies in the batch twin, so stream ≡ batch is value-exact
      Iterator.single(CdcRow(key, cur.op,
        BigDecimal(cur.value).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        cur.nChanges, cur.op == "D"))
    }
  }

  def cdcApplyStream(changes: Dataset[CdcChange]): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.key)
      .transformWithState(new CdcApplyProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** The foreachBatch body every refresh stream shares: project each
    * micro-batch to `cols` (checkpointed when `materialize`, so the
    * refresh's several merges read one evaluation) and hand it to
    * `step` with the micro-batch id. Spark re-runs a failed batch with
    * the SAME id, so ids derived from it make any retry a structural
    * no-op in the sink — the foreachBatch exactly-once recipe.
    */
  private def refreshStream(in: DataFrame, cols: Seq[String], materialize: Boolean = true)(
      step: (SparkSession, DataFrame, Long) => Unit): StreamingQuery =
    in.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.select(cols.map(col): _*)
        step(batch.sparkSession, if (materialize) b.localCheckpoint() else b, id)
      }
      .start()

  /** A refresh stream whose refresh probes the prior-ingested corpus:
    * `base` plus every micro-batch already merged into `ingestedRoot`.
    * That relation is read BEFORE this batch's ingested-table merge,
    * so a crash between the refresh and that merge retries
    * consistently (the refresh no-ops, the ingested merge applies).
    */
  private def priorRefreshStream(in: DataFrame, cols: Seq[String], key: String,
      ingestedRoot: String, ingestedTag: String, base: DataFrame)(
      refresh: (SparkSession, DataFrame, DataFrame, Long) => Boolean): StreamingQuery =
    refreshStream(in, cols) { (spark, b, id) =>
      val baseCols = base.select(cols.map(col): _*)
      val prior = IdempotentMergeSink.read(spark, ingestedRoot)
        .map(baseCols.unionByName(_)).getOrElse(baseCols)
      refresh(spark, prior, b, id)
      IdempotentMergeSink.merge(spark, ingestedRoot, b, key, s"$ingestedTag-$id")
    }

  /** STREAMING INDEX MAINTENANCE — the continuous form of
    * [[graft.operators.IndexMaintenance]]: each micro-batch of
    * documents (doc_id, text) merges its new near-dup pairs into the
    * maintained pair table and itself into the ingested-docs table,
    * both through the idempotent sink with the micro-batch id as the
    * idempotence key — exactly-once index maintenance end to end.
    */
  def pairRefreshStream(docs: DataFrame, pairsRoot: String,
      docsRoot: String, baseDocs: DataFrame): StreamingQuery =
    priorRefreshStream(docs, Seq("doc_id", "text"), "doc_id", docsRoot, "docs", baseDocs) {
      (spark, prior, b, id) =>
        graft.operators.IndexMaintenance.refresh(spark, pairsRoot, prior, b, s"pairs-$id")
    }

  /** Streaming BM25 postings maintenance — the continuous form of
    * [[graft.operators.IndexMaintenance.refreshBm25]]: each
    * micro-batch of NEW documents inserts its tf/dl rows and adds its
    * per-term df increments, each sub-table exactly-once under the
    * micro-batch id (a crash between the three merges resumes).
    */
  def bm25RefreshStream(docs: DataFrame, root: String): StreamingQuery =
    refreshStream(docs, Seq("doc_id", "text")) { (spark, b, id) =>
      graft.operators.IndexMaintenance.refreshBm25(spark, root, b, s"bm25-$id")
    }

  /** Streaming mutual-kNN graph maintenance — the continuous form of
    * [[graft.operators.IndexMaintenance.refreshKnn]]: each micro-batch
    * of (key, price) nodes commits its list delta against the
    * prior-ingested corpus, which is the corpus the table holds.
    */
  def knnRefreshStream(nodes: DataFrame, listsRoot: String,
      nodesRoot: String, baseNodes: DataFrame): StreamingQuery =
    priorRefreshStream(nodes, Seq("key", "price"), "key", nodesRoot, "nodes", baseNodes) {
      (spark, prior, b, id) =>
        graft.operators.IndexMaintenance.refreshKnn(spark, listsRoot, prior, b, s"knn-$id")
    }

  /** Streaming VERBATIM-COPY admission — the exact-substring twin of
    * [[nearDupAdmissionStream]], closing the admission family over the
    * newest index: each micro-batch of arriving documents computes its
    * positional grams (the same `SpanGram`-token units as the batch
    * span search) and probes the corpus GRAM INDEX — the maintained
    * (doc_id, pos, g) relation — via a stream-static equi-join on the
    * gram key. A hit means the probe shares a verbatim ≥`SpanGram`-
    * token run with a corpus document; grams whose corpus df exceeds
    * the span cap are boilerplate, not copying, and are excluded (the
    * extraction's own eligibility rule — but df ≥ 2 does NOT apply:
    * one corpus occurrence plus the probe is already a shared run).
    * Verdict per doc: distinct source docs + matched gram count;
    * any hit ⇒ review. Only the batch side is new data; per-interval
    * work ∝ batch tokens × touched gram buckets.
    */
  def spanAdmissionStream(docs: DataFrame, grams: DataFrame,
      gramDf: DataFrame, checkpoint: String)(
      onBatch: DataFrame => Unit): StreamingQuery =
    admissionStream(docs, Seq("doc_id", "text"), checkpoint, onBatch) {
      graft.operators.TextAnalysis.spanAdmitVerdicts(_, grams, gramDf)
    }

  /** Streaming span-gram maintenance — the continuous form of
    * [[graft.operators.IndexMaintenance.refreshSpans]]: each
    * micro-batch of NEW documents inserts its positional grams and
    * adds its per-gram df increments, each sub-table exactly-once
    * under the micro-batch id; the span extraction recomputes over
    * the maintained relations on demand.
    */
  def spanRefreshStream(docs: DataFrame, root: String): StreamingQuery =
    refreshStream(docs, Seq("doc_id", "text")) { (spark, b, id) =>
      graft.operators.IndexMaintenance.refreshSpans(spark, root, b, s"spans-$id")
    }

  /** Streaming perceptual-fingerprint maintenance — the continuous
    * form of [[graft.operators.IndexMaintenance.refreshPhash]]: each
    * micro-batch of media rows (doc_id, payload, modality) appends its
    * DCT fingerprints and the batch-vs-all pairs it introduces,
    * exactly-once per micro-batch id.
    */
  def phashRefreshStream(media: DataFrame, root: String): StreamingQuery =
    refreshStream(media, Seq("doc_id", "payload", "modality"), materialize = false) {
      (spark, b, id) =>
        import spark.implicits._
        graft.operators.IndexMaintenance.refreshPhash(
          spark, root, b.as[graft.operators.Multimodal.MediaRow], s"phash-$id")
    }
}
