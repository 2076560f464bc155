package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Ev, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming hourly counts match the batch computation of the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, ts("2024-01-01 00:05:00"), 10, "click", 1.5),
      Ev(2, ts("2024-01-01 00:45:00"), 11, "click", 2.5),
      Ev(3, ts("2024-01-01 01:05:00"), 10, "view", 4.0),
      Ev(4, ts("2024-01-01 01:55:00"), 12, "click", 8.0),
      Ev(5, ts("2024-01-01 02:10:00"), 10, "view", 16.0))

    val stream = MemoryStream[Ev]
    stream.addData(events)
    val q = StreamOps.hourlyCounts(stream.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("hourly")
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = StreamOps.hourlyCounts(events.toDF())
      .orderBy("hour", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
    assert(got.length == 4) // (00 click ×2) (01 view) (01 click) (02 view)
  }

  test("streaming sessionization closes a session after the 30-min gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      stream.addData(
        Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 00:10:00"), 1, "view", 2.0),
        Ev(3, ts("2024-01-01 00:02:00"), 2, "click", 9.0)) // user 2 stays open
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0) // nothing closed yet

      stream.addData(Ev(4, ts("2024-01-01 01:00:00"), 1, "click", 5.0)) // 50-min gap
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("sessions").as[Session].collect()
    assert(rows.length == 1)
    val s = rows.head
    assert(s.user_id == 1)
    assert(s.session_start == ts("2024-01-01 00:00:00"))
    assert(s.session_end == ts("2024-01-01 00:10:00"))
    assert(s.n_events == 2)
    assert(s.sum_value == 3.0)
  }

  test("transformWithState sessionizer emits identical sessions to flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch1 = Seq(
        Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 00:10:00"), 1, "view", 2.0),
        Ev(3, ts("2024-01-01 00:02:00"), 2, "click", 9.0))
      val batch2 = Seq(
        Ev(4, ts("2024-01-01 01:00:00"), 1, "click", 5.0), // closes user 1's first
        Ev(5, ts("2024-01-01 02:00:00"), 2, "view", 3.0))  // closes user 2's first
      val stream = MemoryStream[Ev]
      val q = StreamOps.sessionizeTws(stream.toDS())
        .writeStream.format("memory").queryName("sessions_tws").outputMode("append").start()
      try {
        stream.addData(batch1); q.processAllAvailable()
        stream.addData(batch2); q.processAllAvailable()
      } finally q.stop()
      val ref = MemoryStream[Ev]
      val q2 = StreamOps.sessionize(ref.toDS())
        .writeStream.format("memory").queryName("sessions_ref").outputMode("append").start()
      try {
        ref.addData(batch1); q2.processAllAvailable()
        ref.addData(batch2); q2.processAllAvailable()
      } finally q2.stop()
      val got = spark.table("sessions_tws").as[Session].collect().sortBy(s => (s.user_id, s.session_start.getTime))
      val want = spark.table("sessions_ref").as[Session].collect().sortBy(s => (s.user_id, s.session_start.getTime))
      assert(got.length == 2)
      assert(got.toSeq == want.toSeq)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("timer sessionizer closes an idle session when the watermark passes, with no later event for that user") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Ev]
      val q = StreamOps.sessionizeTwsTimers(stream.toDS())
        .writeStream.format("memory").queryName("sessions_timer").outputMode("append").start()
      try {
        // user 1 has two events and then goes idle FOREVER
        stream.addData(
          Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
          Ev(2, ts("2024-01-01 00:10:00"), 1, "view", 2.0))
        q.processAllAvailable()
        assert(spark.table("sessions_timer").count() == 0) // watermark hasn't passed the gap
        // an UNRELATED user's event advances the watermark past
        // 00:10 + 30min; user 1's timer fires and closes the session
        // even though user 1 never sends another event — the case the
        // arrival-driven sessionizers can never emit
        stream.addData(Ev(3, ts("2024-01-01 02:00:00"), 99, "click", 0.1))
        q.processAllAvailable()
        // one more batch so timers registered at the new watermark fire
        stream.addData(Ev(4, ts("2024-01-01 02:00:01"), 99, "click", 0.1))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("sessions_timer").as[Session].collect()
        .filter(_.user_id == 1L)
      assert(rows.length == 1, s"expected user 1's idle session closed by timer, got ${rows.toSeq}")
      val s = rows.head
      assert(s.session_start == ts("2024-01-01 00:00:00"))
      assert(s.session_end == ts("2024-01-01 00:10:00"))
      assert(s.n_events == 2 && s.sum_value == 3.0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("streaming hourly top-k maintains MapState counts and re-ranks across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Ev]
      val q = StreamOps.hourlyTopkStream(stream.toDS())
        .writeStream.format("memory").queryName("topk_stream").outputMode("append").start()
      try {
        // batch 1: user 5 leads hour 10:00
        stream.addData(
          Ev(1, ts("2024-01-01 10:01:00"), 5, "click", 1.0),
          Ev(2, ts("2024-01-01 10:02:00"), 5, "click", 1.0),
          Ev(3, ts("2024-01-01 10:03:00"), 6, "view", 1.0),
          Ev(4, ts("2024-01-01 10:04:00"), 7, "view", 1.0))
        q.processAllAvailable()
        // batch 2: user 7 overtakes, user 8 enters — state must have
        // carried batch 1's counts for the re-rank to be correct
        stream.addData(
          Ev(5, ts("2024-01-01 10:10:00"), 7, "click", 1.0),
          Ev(6, ts("2024-01-01 10:11:00"), 7, "click", 1.0),
          Ev(7, ts("2024-01-01 10:12:00"), 8, "click", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("topk_stream").as[StreamOps.HourTopk].collect()
        .map(t => (t.user_id, t.n_events, t.rank)).toSeq
      assert(rows.size == 6) // two emissions of a top-3
      // emission 1: 5×2 leads; 6 and 7 tie at 1 → user_id breaks it
      Seq((5L, 2L, 1), (6L, 1L, 2), (7L, 1L, 3)).foreach(e =>
        assert(rows.contains(e), s"missing first-emission row $e"))
      // emission 2: 7 reaches 3 total (2 new + 1 CARRIED), 5 drops to
      // rank 2, 6 holds rank 3 at count 1 (ties: 6 < 8)
      Seq((7L, 3L, 1), (5L, 2L, 2), (6L, 1L, 3)).foreach(e =>
        assert(rows.contains(e), s"missing re-ranked row $e"))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState EMA emits identical points to flatMapGroupsWithState and the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // exceed K=8 for user 7 so the ListState truncation path (put,
      // not appendList) is exercised; sub-millisecond ties for user 8
      // with event_id order opposing micros order pin the micros sort
      def tsUs(base: String, micros: Int): Timestamp = {
        val t = ts(base); t.setNanos(micros * 1000); t
      }
      val all = (1 to 12).map(i =>
        Ev(i.toLong, ts(f"2024-01-01 00:$i%02d:00"), 7L, "view", i * 1.5)) ++
        Seq(Ev(100L, ts("2024-01-01 00:03:30"), 8L, "click", 10.0),
          Ev(101L, tsUs("2024-01-01 00:07:31", 500), 8L, "click", 25.0),
          Ev(102L, tsUs("2024-01-01 00:07:31", 200), 8L, "click", 1.0))
      val (batch1, batch2) = all.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(7)
      def run(name: String, f: org.apache.spark.sql.Dataset[Ev] => org.apache.spark.sql.Dataset[StreamOps.EmaPoint]): Seq[(Long, Long, Double)] = {
        val stream = MemoryStream[Ev]
        val q = f(stream.toDS())
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          stream.addData(batch1.reverse: _*); q.processAllAvailable()
          stream.addData(batch2: _*); q.processAllAvailable()
        } finally q.stop()
        spark.table(name).as[StreamOps.EmaPoint].collect()
          .map(p => (p.user_id, p.event_id, p.ema)).sortBy(t => (t._1, t._2)).toSeq
      }
      val tws = run("ema_tws", StreamOps.emaStreamTws)
      val fmg = run("ema_fmg", StreamOps.emaStream)
      assert(tws.length == all.size)
      assert(tws == fmg, "transformWithState and flatMapGroupsWithState EMA disagree")
      val batch = graft.operators.Events.emaOver(
        all.toDF().select(col("user_id"), col("ts"), col("event_id"), col("value")))
        .select(col("user_id"), col("event_id"), col("ema"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(tws == batch, "transformWithState EMA diverges from the batch twin")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("built-in session_window sessions agree with the custom sessionizer on start/count/sum") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:10:00"), 1, "view", 2.0),
      Ev(3, ts("2024-01-01 01:00:00"), 1, "click", 5.0), // 50-min gap → new session
      Ev(4, ts("2024-01-01 00:02:00"), 2, "click", 9.0))

    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionWindows(stream.toDF())
      .writeStream.format("memory").queryName("sw").outputMode("append").start()
    try {
      stream.addData(events)
      q.processAllAvailable()
      // push the watermark past every session's close
      stream.addData(Ev(5, ts("2024-01-01 05:00:00"), 3, "click", 0.5))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("sw").filter(col("user_id") <= 2)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      (1L, ts("2024-01-01 00:00:00"), 2L, 3.0),
      (1L, ts("2024-01-01 01:00:00"), 1L, 5.0),
      (2L, ts("2024-01-01 00:02:00"), 1L, 9.0)))

    // the custom sessionizer emits the closed subset with identical
    // (user, start, count, sum) — same 30-min gap rule
    val custom = MemoryStream[Ev]
    val q2 = StreamOps.sessionize(custom.toDS())
      .writeStream.format("memory").queryName("sw_custom").outputMode("append").start()
    try {
      custom.addData(events)
      q2.processAllAvailable()
    } finally q2.stop()
    val closed = spark.table("sw_custom").as[Session].collect()
      .map(s => (s.user_id, s.session_start, s.n_events, s.sum_value)).toSet
    assert(closed.subsetOf(got.map(t => (t._1, t._2, t._3, t._4))))
    assert(closed.contains((1L, ts("2024-01-01 00:00:00"), 2L, 3.0)))
  }

  test("streaming ES bulk sink writes one bulk payload per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-es-stream").toString
    val stream = MemoryStream[(String, String, Double)]
    val docs = stream.toDF().toDF("product_id", "product_name", "price")
    val q = StreamOps.esBulkStream(docs, "products", "product_id",
      s"$dir/out", s"$dir/ckpt")
    try {
      stream.addData(("p1", "Margherita", 12.5), ("p2", "Carbonara", 9.9))
      q.processAllAvailable()
      stream.addData(("p3", "Tiramisu", 6.0))
      q.processAllAvailable()
    } finally q.stop()

    val lines = spark.read.text(s"$dir/out/batch=*").as[String].collect()
    assert(lines.length == 6) // 2 lines per doc
    assert(lines.count(_.startsWith("""{"index":""")) == 3)
    // batch isolation: batch dirs exist per micro-batch
    val batchDirs = new java.io.File(s"$dir/out").listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(batchDirs.length == 2)
  }

  test("stream-stream click attribution joins purchases to in-window clicks only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamOps.clickAttribution(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attribution").outputMode("append").start()
    try {
      clicks.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 0),   // in window
        Ev(2, ts("2024-01-01 09:00:00"), 1, "click", 0),   // too old
        Ev(3, ts("2024-01-01 10:05:00"), 2, "click", 0))   // other user
      purchases.addData(Ev(10, ts("2024-01-01 10:20:00"), 1, "purchase", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attribution")
      .select("purchase_id", "click_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSet == Set((10L, 1L)))
  }

  test("outer stream-stream join emits unmatched purchases after watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = StreamOps.clickAttributionOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attribution_outer").outputMode("append").start()
    try {
      clicks.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 0))
      purchases.addData(
        Ev(10, ts("2024-01-01 10:20:00"), 1, "purchase", 5.0),  // matched
        Ev(11, ts("2024-01-01 10:20:00"), 2, "purchase", 7.0))  // no click ever
      q.processAllAvailable()
      // advance BOTH watermarks far past the join window so the
      // unmatched purchase's state expires and the null-click row emits
      clicks.addData(Ev(2, ts("2024-01-01 14:00:00"), 9, "click", 0))
      purchases.addData(Ev(12, ts("2024-01-01 14:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
      clicks.addData(Ev(3, ts("2024-01-01 18:00:00"), 9, "click", 0))
      purchases.addData(Ev(13, ts("2024-01-01 18:00:00"), 9, "purchase", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attribution_outer")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(rows(10L) == 1L)   // in-window click attributed
    assert(rows(11L) == -1L)  // unmatched purchase emitted with null click
  }

  test("streaming dedup keeps the first arrival per content hash across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = stream.toDF().toDF("doc_id", "ts", "text")
    val q = StreamOps.streamingDedup(docs)
      .writeStream.format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      stream.addData((1L, ts("2024-01-01 00:00:00"), "hello world"),
                     (2L, ts("2024-01-01 00:01:00"), "HELLO WORLD  ")) // dup after norm? no: md5(lower(trim)) differs by inner spaces
      q.processAllAvailable()
      stream.addData((3L, ts("2024-01-01 00:02:00"), "hello world"), // exact dup of doc 1
                     (4L, ts("2024-01-01 00:03:00"), "fresh content"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(1L) && ids.contains(4L) && !ids.contains(3L))
  }

  test("streaming near-dup admission flags a near-copy against the corpus index and admits novel docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the corpus signature index: a static band-key relation, as the
    // incremental batch path builds it
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "completely different content about databases and query planning"))
      .toDF("doc_id", "text")
    val index = graft.operators.Dedup.bandKeysOf(corpus)
      .withColumnRenamed("doc_id", "cand_id")
      .localCheckpoint()
    val stream = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("neardup_ckpt").toString
    val q = StreamOps.nearDupAdmissionStream(
      stream.toDF().toDF("doc_id", "text"), index, ckpt) { verdicts =>
      results ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }
    try {
      // doc 1: near-copy of corpus doc 100 (one word changed); doc 2: novel
      stream.addData(
        (1L, "the quick brown fox jumps over the lazy cat again and again"),
        (2L, "entirely unrelated text mentioning spark catalyst and tungsten"))
      q.processAllAvailable()
      // second batch: replays nothing, admits another novel doc
      stream.addData((3L, "yet more novel material with no shared shingles at all"))
      q.processAllAvailable()
    } finally q.stop()
    val byId = results.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L)._2 == "review" && byId(1L)._1 >= 1L,
      s"near-copy not flagged: ${byId(1L)}")
    assert(byId(2L) == ((0L, "admit")), s"novel doc 2 ${byId(2L)}")
    assert(byId(3L) == ((0L, "admit")), s"novel doc 3 ${byId(3L)}")
    // semantics cross-check: the streaming probe's candidate set equals
    // the BATCH banding candidates for the same (new, corpus) split
    val batchCands = graft.operators.Dedup.bandKeysOf(
        Seq((1L, "the quick brown fox jumps over the lazy cat again and again"),
            (2L, "entirely unrelated text mentioning spark catalyst and tungsten"),
            (3L, "yet more novel material with no shared shingles at all"))
          .toDF("doc_id", "text"))
      .join(index, Seq("band_idx", "bk"))
      .select("doc_id", "cand_id").distinct().count()
    val streamCands = results.map(_._2).sum
    assert(streamCands == batchCands,
      s"stream candidates $streamCands != batch banding $batchCands")
  }

  test("near-dup admission over the CAPPED signature index bounds the probe and still flags exact dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a DENSE corpus: 40 identical docs share every band bucket
    // (occupancy 40), plus two novel docs. The capped index keeps only
    // the first SigScanCap members per bucket — the operator itself is
    // unchanged, the lever is index-side (the production story for
    // duplicate-heavy continuous ingest).
    val cap = graft.operators.Dedup.SigScanCap
    val dense = (100L until 140L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
    val corpus = (dense :+
      (300L, "completely different content about databases and query planning"))
      .toDF("doc_id", "text")
    val full = graft.operators.Dedup.bandKeysOf(corpus)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("bk")).orderBy(col("doc_id"))
    val capped = full.withColumn("pos", row_number().over(w))
      .filter(col("pos") <= cap).drop("pos")
      .withColumnRenamed("doc_id", "cand_id")
      .localCheckpoint()
    // the cap BINDS on this corpus: some bucket held > cap members
    val fullOcc = full.groupBy("band_idx", "bk").count()
      .agg(max(col("count"))).head().getLong(0)
    assert(fullOcc > cap, s"max occupancy $fullOcc does not exceed the cap — vacuous")
    val stream = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("neardup_cap_ckpt").toString
    val q = StreamOps.nearDupAdmissionStream(
      stream.toDF().toDF("doc_id", "text"), capped, ckpt) { verdicts =>
      results ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }
    try {
      // doc 1: exact dup of the dense run; doc 2: novel
      stream.addData(
        (1L, "the quick brown fox jumps over the lazy dog again and again"),
        (2L, "entirely unrelated text mentioning spark catalyst and tungsten"))
      q.processAllAvailable()
    } finally q.stop()
    val byId = results.map(t => t._1 -> ((t._2, t._3))).toMap
    // the exact-dup arrival is still flagged (every prefix member is a
    // partner), but its candidate count is the CAP, not the occupancy
    assert(byId(1L)._2 == "review", s"exact dup not flagged: ${byId(1L)}")
    assert(byId(1L)._1 == cap.toLong,
      s"probe saw ${byId(1L)._1} candidates; capped index should bound it to $cap (occupancy 40)")
    assert(byId(2L) == ((0L, "admit")), s"novel doc ${byId(2L)}")
  }

  test("streaming span admission flags a verbatim run against the gram index; boilerplate excluded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // maintained gram index over a corpus: one real doc plus 60 docs
    // of an over-cap boilerplate phrase
    val boiler = "c1 c2 c3 c4 c5"
    val corpus = ((100L, "alpha beta gamma delta epsilon zeta eta theta") +:
      (200L until 260L).map(i => (i, s"x$i $boiler y$i"))).toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("span_adm").toString
    graft.operators.IndexMaintenance.refreshSpans(spark, root, corpus, "bootstrap")
    val grams = graft.operators.IndexMaintenance.spanGrams(spark, root)
    val gdf = graft.operators.IndexMaintenance.spanGramDf(spark, root)
    val stream = MemoryStream[(Long, String)]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("span_adm_ckpt").toString
    val q = StreamOps.spanAdmissionStream(
      stream.toDF().toDF("doc_id", "text"), grams, gdf, ckpt) { verdicts =>
      results ++= verdicts.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    }
    try {
      stream.addData(
        // quotes a 6-token verbatim run from doc 100 -> 2 gram hits
        (1L, "intro words alpha beta gamma delta epsilon zeta outro"),
        // carries ONLY the over-cap boilerplate phrase -> must admit
        (2L, s"p1 p2 $boiler p3"),
        // novel -> admit
        (3L, "entirely novel content with no shared five token runs"))
      q.processAllAvailable()
    } finally q.stop()
    val byId = results.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(byId(1L) == ((1L, 2L, "review")), s"verbatim copy ${byId(1L)}")
    assert(byId(2L) == ((0L, 0L, "admit")),
      s"boilerplate-only doc flagged: ${byId(2L)}")
    assert(byId(3L) == ((0L, 0L, "admit")), s"novel doc ${byId(3L)}")
  }

  test("streaming phash admission flags a perceptual near-copy payload and admits novel media") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def hexed(rows: Seq[(Long, String, String)]) =
      rows.toDF("doc_id", "modality", "text")
        .select(col("doc_id"), col("modality"),
          lower(hex(encode(col("text"), "UTF-8"))).as("payload_hex"),
          md5(col("text")).as("payload_md5"))
    val base = (1 to 100).map(i => s"tile$i").mkString(" ")
    // corpus fingerprint index, as the batch path builds it
    val index = graft.operators.Multimodal.phashBandKeysOf(hexed(Seq(
        (100L, "image", base),
        (101L, "image", (1 to 100).map(i => s"corpus$i").mkString(" ")))))
      .select(col("doc_id").as("cand_id"), col("modality"),
        col("band_idx"), col("band_bits"), col("phash").as("cand_phash"))
      .localCheckpoint()
    val stream = MemoryStream[(Long, String, String)]
    val streamed = stream.toDF().toDF("doc_id", "modality", "text")
      .select(col("doc_id"), col("modality"),
        lower(hex(encode(col("text"), "UTF-8"))).as("payload_hex"),
        md5(col("text")).as("payload_md5"))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("phash_ckpt").toString
    val q = StreamOps.phashAdmissionStream(streamed, index, ckpt) { verdicts =>
      results ++= verdicts.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }
    try {
      // doc 1: one byte flipped vs corpus doc 100 — different md5, same
      // perceptual neighborhood; doc 2: novel payload
      stream.addData(
        (1L, "image", base.replace("tile50", "tilf50")),
        (2L, "image", (1 to 100).map(i => s"novel$i").mkString(" ")))
      q.processAllAvailable()
      stream.addData((3L, "image", (1 to 100).map(i => s"fresh$i").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()
    val byId = results.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L)._2 == "review" && byId(1L)._1 >= 1L,
      s"perceptual near-copy not flagged: ${byId(1L)}")
    assert(byId(2L) == ((0L, "admit")), s"novel doc 2 ${byId(2L)}")
    assert(byId(3L) == ((0L, "admit")), s"novel doc 3 ${byId(3L)}")
  }

  test("streaming EMA equals the batch window formulation, K-bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // 12 events for user 7 (exceeding K=8, so truncation is exercised),
    // interleaved with user 8; batch 1 arrives out of order internally
    // two user-8 events land in the SAME millisecond but different
    // microseconds, with event_id order OPPOSITE to micros order — the
    // stream must sort on full micros (like the batch unix_micros) or
    // its EMA history diverges from the batch twin here
    def tsUs(base: String, micros: Int): java.sql.Timestamp = {
      val t = ts(base); t.setNanos(micros * 1000); t
    }
    val all = (1 to 12).map(i =>
      StreamOps.Ev(i.toLong, ts(f"2024-01-01 00:$i%02d:00"), 7L, "view", i * 1.5)) ++
      Seq(StreamOps.Ev(100L, ts("2024-01-01 00:03:30"), 8L, "click", 10.0),
        StreamOps.Ev(101L, ts("2024-01-01 00:07:30"), 8L, "click", 4.0),
        StreamOps.Ev(102L, tsUs("2024-01-01 00:07:31", 500), 8L, "click", 25.0),
        StreamOps.Ev(103L, tsUs("2024-01-01 00:07:31", 200), 8L, "click", 1.0))
    val (batch1, batch2) = all.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(7)
    val stream = MemoryStream[StreamOps.Ev]
    val q = StreamOps.emaStream(stream.toDS())
      .writeStream.format("memory").queryName("ema_stream")
      .outputMode("append").start()
    try {
      stream.addData(batch1.reverse: _*) // out of order within the batch
      q.processAllAvailable()
      stream.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ema_stream")
    assert(got.count() == all.size)
    val batch = graft.operators.Events.emaOver(
      all.toDF().select(col("user_id"), col("ts"), col("event_id"), col("value")))
    val joined = got.select(col("user_id"), col("event_id"), col("ema").as("s_ema"))
      .join(batch.select(col("user_id"), col("event_id"), col("ema").as("b_ema")),
        Seq("user_id", "event_id"))
    assert(joined.count() == all.size)
    assert(joined.filter(col("s_ema") =!= col("b_ema")).count() == 0,
      "stream and batch EMA disagree")
  }

  test("streaming sessionization handles out-of-order events within a batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamOps.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sessions_ooo").outputMode("append").start()
    try {
      // arrives unordered; session 1 = [00:00, 00:20], closed by 01:10
      stream.addData(
        Ev(1, ts("2024-01-01 00:20:00"), 7, "view", 2.0),
        Ev(2, ts("2024-01-01 00:00:00"), 7, "click", 1.0),
        Ev(3, ts("2024-01-01 01:10:00"), 7, "click", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sessions_ooo").as[Session].collect()
    assert(rows.length == 1)
    assert(rows.head.session_start == ts("2024-01-01 00:00:00"))
    assert(rows.head.session_end == ts("2024-01-01 00:20:00"))
    assert(rows.head.n_events == 2)
  }

  test("streaming incremental aggregate state equals the batch aggregate of all data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-stream").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    val stream = MemoryStream[(Long, Double, Double, Double, java.sql.Date)]
    val li = stream.toDF()
      .toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
    val q = StreamOps.incrementalAggStream(li, s"$dir/state", s"$dir/ckpt")
    val all = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double, Double, java.sql.Date)]
    def push(rows: (Long, Double, Double, Double, java.sql.Date)*): Unit = {
      all ++= rows; stream.addData(rows); q.processAllAvailable()
    }
    try {
      push((1L, 2.0, 100.0, 0.1, d("2024-01-01")), (2L, 1.0, 50.0, 0.0, d("2024-01-01")))
      push((1L, 3.0, 200.0, 0.2, d("2024-01-02")), (3L, 5.0, 80.0, 0.0, d("2024-01-02")))
      push((2L, 4.0, 60.0, 0.5, d("2024-01-03")))
    } finally q.stop()
    val versions = new java.io.File(s"$dir/state").listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName.stripPrefix("v=").toLong).sorted
    // retention: only the latest version and its immediate predecessor
    // survive (older versions are pruned after each successful write),
    // so storage and the per-batch directory listing stay O(1)
    assert(versions.toSeq == Seq(1L, 2L))
    val state = spark.read.parquet(s"$dir/state/v=${versions.last}")
      .orderBy("l_partkey")
    val expected = graft.operators.Incremental.aggState(
        all.toSeq.toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"))
      .orderBy("l_partkey")
    assert(state.collect().toSeq == expected.collect().toSeq)
  }

  test("streaming incremental aggregate survives a checkpoint restart without double-merging") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-restart").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    val stream = MemoryStream[(Long, Double, Double, Double, java.sql.Date)]
    val li = stream.toDF()
      .toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate")
    val b1 = Seq((1L, 2.0, 100.0, 0.1, d("2024-01-01")), (2L, 1.0, 50.0, 0.0, d("2024-01-01")))
    val b2 = Seq((1L, 3.0, 200.0, 0.2, d("2024-01-02")))
    // first incarnation processes batch 1, then STOPS
    val q1 = StreamOps.incrementalAggStream(li, s"$dir/state", s"$dir/ckpt")
    try { stream.addData(b1); q1.processAllAvailable() } finally q1.stop()
    // second incarnation on the SAME checkpoint picks up from offset 1:
    // batch 1 must not merge again
    stream.addData(b2)
    val q2 = StreamOps.incrementalAggStream(li, s"$dir/state", s"$dir/ckpt")
    try { q2.processAllAvailable() } finally q2.stop()
    val versions = new java.io.File(s"$dir/state").listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName.stripPrefix("v=").toLong).sorted
    val state = spark.read.parquet(s"$dir/state/v=${versions.last}").orderBy("l_partkey")
    val expected = graft.operators.Incremental.aggState(
        (b1 ++ b2).toDF("l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"))
      .orderBy("l_partkey")
    assert(state.collect().toSeq == expected.collect().toSeq)
  }

  test("streaming sketch aggregation matches the batch sketches on the same data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = StreamOps.hourlySketches(stream.toDF())
      .writeStream.format("memory").queryName("sketches").outputMode("update").start()
    val evs = (1 to 40).map(i =>
      Ev(i.toLong, ts(f"2024-01-01 10:${i % 60}%02d:00"), (i % 7).toLong, "click", i.toDouble))
    try { stream.addData(evs); q.processAllAvailable() } finally q.stop()
    val streamRow = spark.table("sketches")
      .filter(col("event_type") === "click").collect()
    assert(streamRow.length == 1)
    // identical sketches over the identical rows, computed in batch
    val batch = StreamOps.hourlySketches(evs.toDF()).collect()
    assert(streamRow.head.getLong(2) == batch.head.getLong(2))
    assert(streamRow.head.getDouble(3) == batch.head.getDouble(3))
  }

  test("stream-static enrichment joins the catalog, keeps unknown keys with nulls") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "restaurant"), (2L, "grocery")).toDF("dim_key", "industry")
    val stream = MemoryStream[(Long, Long, Double)]
    val events = stream.toDF().toDF("event_id", "account", "value")
    val q = StreamOps.enrichStream(events, dim, "account", "dim_key")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      stream.addData((100L, 1L, 5.0), (101L, 2L, 6.0))
      q.processAllAvailable()
      stream.addData((102L, 999L, 7.0)) // no catalog row yet
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enriched")
      .select("event_id", "industry").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSet
    assert(rows == Set((100L, "restaurant"), (101L, "grocery"), (102L, null)))
  }

  test("quality admission stream scores identically to the batch gate model") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // train once in batch; the 1-row model is the serving artifact
    val model = graft.operators.CorpusOps.qualityModel(spark, sfDir).localCheckpoint()
    val planted = Seq(
      (9001L, (1 to 120).map(_ => "the quick value of it and for on a to in is").mkString(" ")),
      (9002L, "x!!"),
      (9003L, (1 to 40).map(i => s"w$i").mkString(" ")))
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.qualityAdmissionStream(
        stream.toDS().toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("quality_admission")
      .outputMode("append").start()
    try {
      stream.addData(planted: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("quality_admission")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(got.size == 3)
    // decision consistency
    got.values.foreach { case (p6, d) =>
      assert(p6 >= 0 && p6 <= 1)
      assert((p6 >= 0.5) == (d == "admit"), s"decision/score mismatch: $p6 $d")
    }
    // the long stopword-rich doc admits; the 3-char junk doc rejects
    assert(got(9001L)._2 == "admit", s"rich doc rejected: ${got(9001L)}")
    assert(got(9002L)._2 == "reject", s"junk doc admitted: ${got(9002L)}")
    // bit-identical to the same rows scored in BATCH through the same op
    val batch = StreamOps.qualityAdmissionStream(
        planted.toDF("doc_id", "text"), model)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    assert(batch == got, s"stream vs batch divergence: $batch vs $got")
  }

  test("streaming CDC apply converges to the batch etl_cdc_apply state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamOps.{CdcChange, CdcRow}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // the SAME deterministic change log the batch operator derives
      // from orders (key = custkey, seq = orderkey, op by mod rule)
      val log = Tables.orders(spark, sfDir)
        .select(col("o_custkey").as("key"), col("o_orderkey").as("seq"),
          when(col("o_orderkey") % 10 === 0, "D")
            .when(col("o_orderkey") % 10 <= 3, "U")
            .otherwise("I").as("op"),
          col("o_totalprice").as("value"))
        .as[CdcChange].collect().toSeq
      // replay in three micro-batches, deliberately NOT seq-ordered
      // inside each batch (CDC transport reorders; seq decides)
      val chunks = log.grouped((log.size + 2) / 3).map(_.reverse).toSeq
      val stream = MemoryStream[CdcChange]
      val q = StreamOps.cdcApplyStream(stream.toDS())
        .writeStream.format("memory").queryName("cdc_apply")
        .outputMode("append").start()
      try {
        chunks.foreach { c => stream.addData(c: _*); q.processAllAvailable() }
      } finally q.stop()
      // final state per key = the LAST emission; tombstones drop out
      val emitted = spark.table("cdc_apply").as[CdcRow].collect()
      val finalState = emitted.zipWithIndex
        .groupBy(_._1.key).map { case (_, rows) => rows.maxBy(_._2)._1 }
        .filterNot(_.tombstone)
        .map(r => (r.key, r.last_op, r.value, r.n_changes)).toSet
      val batch = graft.operators.EtlCleaning.cdcApply(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getDouble(2), r.getLong(3))).toSet
      assert(batch.nonEmpty)
      assert(finalState == batch,
        s"stream vs batch CDC state: ${finalState.size} vs ${batch.size} keys; " +
          s"diff sample: ${(finalState diff batch).take(3)} / ${(batch diff finalState).take(3)}")
      // deleted keys really are retracted: some tombstones exist in the
      // log (orderkey % 10 == 0 appears as a final op for some key)
      val tombstoned = emitted.zipWithIndex
        .groupBy(_._1.key).map { case (_, rows) => rows.maxBy(_._2)._1 }
        .count(_.tombstone)
      assert(tombstoned + finalState.size ==
        emitted.map(_.key).distinct.length)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

}
