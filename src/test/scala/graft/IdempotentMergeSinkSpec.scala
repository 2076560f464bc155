package graft

import graft.sinks.IdempotentMergeSink
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.Files

/** The write-back contract: atomically-published versioned commits,
  * batch-id idempotence, crash-retry safety, CDC-style delete
  * semantics, and concurrent-writer serialization via the rename-CAS.
  */
class IdempotentMergeSinkSpec extends SparkTestBase {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft_merge_sink").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def state(root: String): Set[(Long, String)] = {
    IdempotentMergeSink.read(spark, root)
      .map(_.collect().map(r =>
        (r.getAs[Long]("key"), r.getAs[String]("payload"))).toSet)
      .getOrElse(Set.empty)
  }

  test("merge applies upserts and deletes; re-running the same batch is a no-op") {
    import spark.implicits._
    val root = freshRoot()
    val b1 = Seq((1L, "I", "a"), (2L, "I", "b"), (3L, "I", "c"))
      .toDF("key", "op", "payload")
    assert(IdempotentMergeSink.merge(spark, root, b1, "key", "batch-1"))
    assert(state(root) == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(IdempotentMergeSink.version(root) == 1)

    // update key 2, delete key 3
    val b2 = Seq((2L, "U", "b2"), (3L, "D", "")).toDF("key", "op", "payload")
    assert(IdempotentMergeSink.merge(spark, root, b2, "key", "batch-2"))
    assert(state(root) == Set((1L, "a"), (2L, "b2")))
    assert(IdempotentMergeSink.version(root) == 2)

    // the retried PUT: same batch id → structural no-op, no new version
    assert(!IdempotentMergeSink.merge(spark, root, b2, "key", "batch-2"))
    assert(IdempotentMergeSink.version(root) == 2)
    assert(state(root) == Set((1L, "a"), (2L, "b2")))
    assert(IdempotentMergeSink.applied(root, "batch-2"))
    assert(!IdempotentMergeSink.applied(root, "batch-3"))
  }

  test("within-batch seq orders ops: the highest sequence wins per key") {
    import spark.implicits._
    val root = freshRoot()
    val b = Seq(
      (1L, 10L, "I", "old"), (1L, 20L, "U", "new"), // 20 wins
      (2L, 5L, "I", "x"), (2L, 9L, "D", ""))        // delete wins
      .toDF("key", "seq", "op", "payload")
    assert(IdempotentMergeSink.merge(spark, root, b, "key", "b1"))
    assert(state(root) == Set((1L, "new")))
  }

  test("a crash before the marker is invisible; the retry commits cleanly") {
    import spark.implicits._
    val root = freshRoot()
    val b1 = Seq((1L, "I", "a")).toDF("key", "op", "payload")
    assert(IdempotentMergeSink.merge(spark, root, b1, "key", "b1"))

    // simulate a crashed writer: v=2 data fully written, NO marker
    val b2 = Seq((2L, "I", "b")).toDF("key", "op", "payload")
    Seq((1L, "a"), (2L, "b")).toDF("key", "payload")
      .write.mode("overwrite").parquet(s"$root/v=2")
    // readers never see the unmarked version
    assert(IdempotentMergeSink.version(root) == 1)
    assert(state(root) == Set((1L, "a")))

    // the retry (same logical batch, marker never landed → not applied)
    assert(!IdempotentMergeSink.applied(root, "b2"))
    assert(IdempotentMergeSink.merge(spark, root, b2, "key", "b2"))
    assert(IdempotentMergeSink.version(root) == 2)
    assert(state(root) == Set((1L, "a"), (2L, "b")))
    // and a second retry after success is the no-op path
    assert(!IdempotentMergeSink.merge(spark, root, b2, "key", "b2"))
  }

  test("vacuum drops old versions without weakening idempotence; compact advances its floor") {
    import spark.implicits._
    val root = freshRoot()
    val b1 = Seq((1L, "I", "a")).toDF("key", "op", "payload")
    val b2 = Seq((2L, "I", "b")).toDF("key", "op", "payload")
    IdempotentMergeSink.merge(spark, root, b1, "key", "b1")
    IdempotentMergeSink.merge(spark, root, b2, "key", "b2")
    // v=2 is a delta riding on the v=1 base: retention must NOT cross
    // the base the chain reads through, whatever `keep` says
    IdempotentMergeSink.vacuum(root, keep = 1)
    assert(new File(s"$root/v=1").exists(),
      "vacuum severed a live delta chain from its base")
    assert(state(root) == Set((1L, "a"), (2L, "b")))
    // compact rewrites the state as a fresh base (v=3); re-compacting a
    // base-topped table is a no-op
    assert(IdempotentMergeSink.compact(spark, root))
    assert(!IdempotentMergeSink.compact(spark, root))
    assert(IdempotentMergeSink.version(root) == 3)
    // now retention can reclaim: old versions gone, newest intact,
    // applied ids survive the vacuum
    IdempotentMergeSink.vacuum(root, keep = 1)
    assert(!new File(s"$root/v=1").exists() && !new File(s"$root/v=2").exists())
    assert(state(root) == Set((1L, "a"), (2L, "b")))
    assert(IdempotentMergeSink.applied(root, "b1"))
    assert(!IdempotentMergeSink.merge(spark, root, b1, "key", "b1"))
  }

  test("vacuum keep>1 protects the base chain of the OLDEST retained version") {
    import spark.implicits._
    // the ADVICE shape: base v1, deltas v2..v8, compacting base v9.
    // vacuum(keep=3) retains v7/v8/v9 — v7/v8 are DELTAS reading
    // through the v1 base, so the floor must be newestBase(v7)=1, not
    // newestBase(v9)=9 (which would delete v1..v6 and sever them)
    val root = freshRoot()
    def put(k: Long, p: String, id: String) = IdempotentMergeSink.merge(
      spark, root, Seq((k, "I", p)).toDF("key", "op", "payload"), "key", id)
    (0 until 9).foreach(i => put(i.toLong, s"p$i", s"b$i"))
    assert(IdempotentMergeSink.version(root) == 9)
    assert(!new File(s"$root/v=9/$DeltaTagName").exists(), "v9 should have compacted")
    assert(new File(s"$root/v=8/$DeltaTagName").exists(), "v8 should be a delta")
    IdempotentMergeSink.vacuum(root, keep = 3)
    // every retained version still reconstructs through its own chain
    (7 to 9).foreach { v =>
      val got = IdempotentMergeSink.readAt(spark, root, v).collect()
        .map(r => (r.getAs[Long]("key"), r.getAs[String]("payload"))).toSet
      assert(got == (0 until v).map(i => (i.toLong, s"p$i")).toSet,
        s"retained v=$v no longer reconstructs after vacuum(keep=3)")
    }
    // with keep=1 the newest version IS the newest base: now v1..v8 go
    IdempotentMergeSink.vacuum(root, keep = 1)
    assert((1 to 8).forall(v => !new File(s"$root/v=$v").exists()))
    assert(state(root) == (0 until 9).map(i => (i.toLong, s"p$i")).toSet)
  }

  test("a vacuumed or absent version fails loudly with a clear message, not a parquet error") {
    import spark.implicits._
    val root = freshRoot()
    IdempotentMergeSink.merge(spark, root,
      Seq((1L, "I", "a")).toDF("key", "op", "payload"), "key", "b1")
    IdempotentMergeSink.merge(spark, root,
      Seq((2L, "I", "b")).toDF("key", "op", "payload"), "key", "b2")
    // readAt of a never-committed version
    val e1 = intercept[IllegalStateException] {
      IdempotentMergeSink.readAt(spark, root, 7)
    }
    assert(e1.getMessage.contains("absent or unmarked"))
    // simulate a broken external deletion severing the chain: the v=1
    // base vanishes while the v=2 delta survives — the failure must
    // name the vacuumed version, not surface as a missing-parquet scan
    def rm(f: File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
    }
    rm(new File(s"$root/v=1"))
    val e2 = intercept[IllegalStateException] {
      IdempotentMergeSink.read(spark, root).get.collect()
    }
    assert(e2.getMessage.contains("vacuumed"), e2.getMessage)
  }

  test("contiguous additive deltas with DIFFERENT key columns fold as separate runs") {
    import spark.implicits._
    val root = freshRoot()
    // base: (a=1, b=10)
    IdempotentMergeSink.mergeAdditive(spark, root,
      Seq((1L, 10L)).toDF("a", "b"), "a", "s1")
    // delta keyed by "a": +(1, 5) → state (1, 15)
    IdempotentMergeSink.mergeAdditive(spark, root,
      Seq((1L, 5L)).toDF("a", "b"), "a", "s2")
    // delta keyed by "b": +(2, 15) groups ON b — state row (a=1,b=15)
    // and the increment (a=2,b=15) sum their a's → (3, 15). A coalesce
    // that applied run.head's key ("a") to this delta would instead
    // produce {(1,15),(2,15)} — the silent mis-aggregation
    IdempotentMergeSink.mergeAdditive(spark, root,
      Seq((2L, 15L)).toDF("a", "b"), "b", "s3")
    val got = IdempotentMergeSink.read(spark, root).get.collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(got == Set((3L, 15L)), s"mixed-key additive chain mis-folded: $got")
  }

  test("delta commits carry only the change set; every CompactEvery-th commit writes a base") {
    import spark.implicits._
    val root = freshRoot()
    def put(k: Long, p: String, id: String) = IdempotentMergeSink.merge(
      spark, root, Seq((k, "I", p)).toDF("key", "op", "payload"), "key", id)
    put(0L, "p0", "b0")
    // the first commit is a base (parquet directly in the version dir)
    assert(!new File(s"$root/v=1/$DeltaTagName").exists())
    (1 until IdempotentMergeSink.CompactEvery).foreach(i => put(i.toLong, s"p$i", s"b$i"))
    // v=2..v=CompactEvery ride the v=1 base as upsert deltas
    (2 to IdempotentMergeSink.CompactEvery).foreach { v =>
      assert(new File(s"$root/v=$v/$DeltaTagName").exists(), s"v=$v should be a delta")
      assert(new File(s"$root/v=$v/upserts").exists() &&
        new File(s"$root/v=$v/removes").exists(), s"v=$v missing its change set")
    }
    // the commit that would make the chain CompactEvery long compacts
    put(99L, "px", "bx")
    val compacted = IdempotentMergeSink.CompactEvery + 1
    assert(!new File(s"$root/v=$compacted/$DeltaTagName").exists(),
      s"v=$compacted should be a compacting base")
    val want = (0 until IdempotentMergeSink.CompactEvery)
      .map(i => (i.toLong, s"p$i")).toSet + ((99L, "px"))
    assert(state(root) == want)
    // a delete through a delta reconstructs correctly too
    IdempotentMergeSink.merge(spark, root,
      Seq((0L, "D", "")).toDF("key", "op", "payload"), "key", "bdel")
    assert(state(root) == want - ((0L, "p0")))
  }

  private val DeltaTagName = "_GRAFT_DELTA"

  test("additive deltas reconstruct: chained increments equal the all-at-once sums") {
    import spark.implicits._
    val root = freshRoot()
    val batches = Seq(
      Seq(("t1", 2L), ("t2", 3L)),
      Seq(("t1", 5L), ("t3", 7L)),
      Seq(("t2", 11L), ("t3", 13L), ("t1", 1L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      IdempotentMergeSink.mergeAdditive(spark, root,
        b.toDF("key", "n"), "key", s"inc$i")
    }
    // base + two additive deltas on disk
    assert(!new File(s"$root/v=1/$DeltaTagName").exists())
    Seq(2, 3).foreach { v =>
      assert(new File(s"$root/v=$v/$DeltaTagName").exists() &&
        new File(s"$root/v=$v/increments").exists(), s"v=$v not an additive delta")
    }
    val got = IdempotentMergeSink.read(spark, root).get.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    assert(got == Map("t1" -> 8L, "t2" -> 14L, "t3" -> 20L))
  }

  test("mixed delta chains reconstruct in commit order; contiguous additive runs coalesce") {
    import spark.implicits._
    val root = freshRoot()
    def n(root: String): Map[String, Long] =
      IdempotentMergeSink.read(spark, root).get.collect()
        .map(r => r.getAs[String]("key") -> r.getAs[Long]("n")).toMap
    // base (upsert) → additive ×2 (one coalesced run) → upsert
    // (whole-row replace must CUT the additive history) → additive
    IdempotentMergeSink.merge(spark, root,
      Seq(("k", 10L)).toDF("key", "n"), "key", "b1")
    IdempotentMergeSink.mergeAdditive(spark, root,
      Seq(("k", 5L)).toDF("key", "n"), "key", "b2")
    IdempotentMergeSink.mergeAdditive(spark, root,
      Seq(("k", 2L), ("j", 1L)).toDF("key", "n"), "key", "b3")
    assert(n(root) == Map("k" -> 17L, "j" -> 1L))
    IdempotentMergeSink.merge(spark, root,
      Seq(("k", 100L)).toDF("key", "n"), "key", "b4")
    IdempotentMergeSink.mergeAdditive(spark, root,
      Seq(("k", 1L)).toDF("key", "n"), "key", "b5")
    assert(n(root) == Map("k" -> 101L, "j" -> 1L),
      "upsert must replace (not sum with) the coalesced additive history")
  }

  test("a batch too big to broadcast as a delta commits as a compacting base") {
    import spark.implicits._
    val root = freshRoot()
    IdempotentMergeSink.merge(spark, root,
      Seq((1L, "I", "a")).toDF("key", "op", "payload"), "key", "b1")
    // under the gate: a delta
    IdempotentMergeSink.merge(spark, root,
      Seq((2L, "I", "b")).toDF("key", "op", "payload"), "key", "b2",
      deltaMaxRows = 2)
    assert(new File(s"$root/v=2/$DeltaTagName").exists())
    // over the gate: forced base mid-chain (the read path would
    // otherwise broadcast this batch's change set on every read)
    IdempotentMergeSink.merge(spark, root,
      Seq((3L, "I", "c"), (4L, "I", "d"), (5L, "I", "e"))
        .toDF("key", "op", "payload"), "key", "b3", deltaMaxRows = 2)
    assert(!new File(s"$root/v=3/$DeltaTagName").exists(),
      "oversized batch must compact, not commit a delta")
    assert(state(root) == Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // additive: same gate
    val aroot = freshRoot()
    IdempotentMergeSink.mergeAdditive(spark, aroot,
      Seq(("t", 1L)).toDF("key", "n"), "key", "a1")
    IdempotentMergeSink.mergeAdditive(spark, aroot,
      Seq(("t", 1L), ("u", 1L), ("v", 1L)).toDF("key", "n"), "key", "a2",
      deltaMaxRows = 2)
    assert(!new File(s"$aroot/v=2/$DeltaTagName").exists())
  }

  test("a full-length delta chain reads with a bounded plan shape") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
    def shape(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
      val ns = nodes(df.queryExecution.executedPlan)
      (ns.count(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
        ns.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike]),
        ns.count(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike]))
    }
    val chain = IdempotentMergeSink.CompactEvery - 1 // the longest chain a read can see
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // upsert chain: base + `chain` deltas. Each fold step is ONE
      // broadcast anti-join + union over the running relation — the
      // read plan must carry exactly 1 + 2×chain parquet scans
      // (base + upserts/removes per delta), one broadcast per delta,
      // and ZERO shuffle exchanges: a cadence change that turned the
      // fold into per-delta shuffles would fail here before it shipped
      val root = freshRoot()
      (0 until IdempotentMergeSink.CompactEvery).foreach { i =>
        IdempotentMergeSink.merge(spark, root,
          Seq((i.toLong, "I", s"p$i")).toDF("key", "op", "payload"), "key", s"b$i")
      }
      assert(IdempotentMergeSink.version(root) == IdempotentMergeSink.CompactEvery)
      val (scans, shuffles, bcasts) = shape(IdempotentMergeSink.read(spark, root).get)
      assert(scans == 1 + 2 * chain, s"expected ${1 + 2 * chain} scans, got $scans")
      assert(shuffles == 0, s"upsert chain fold must be shuffle-free, got $shuffles")
      assert(bcasts == chain, s"expected $chain broadcast deltas, got $bcasts")
      // additive chain: contiguous additive runs coalesce — ONE
      // re-aggregation however long the chain, 1 + chain scans
      val aroot = freshRoot()
      (0 until IdempotentMergeSink.CompactEvery).foreach { i =>
        IdempotentMergeSink.mergeAdditive(spark, aroot,
          Seq(("k", 1L), (s"k$i", 2L)).toDF("key", "n"), "key", s"a$i")
      }
      val (ascans, ashuffles, _) = shape(IdempotentMergeSink.read(spark, aroot).get)
      assert(ascans == 1 + chain, s"expected ${1 + chain} scans, got $ascans")
      assert(ashuffles == 1,
        s"coalesced additive chain folds with exactly one aggregation exchange, got $ashuffles")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("property: random merge/additive/compact/vacuum interleavings track the model") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815)
    (0 until 3).foreach { trial =>
      val root = freshRoot()
      // model: key -> value under upsert/sum semantics (disjoint key
      // spaces: upserts use keys 0..9, additive uses keys 100..104, so
      // one table exercises both flavors without semantic collision)
      var upModel = Map.empty[Long, Long]
      var addModel = Map.empty[Long, Long]
      var batch = 0
      (0 until 14).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 | 1 => // keyed merge (upsert or delete)
            val k = rnd.nextInt(10).toLong
            if (rnd.nextBoolean() || !upModel.contains(k)) {
              val v = rnd.nextInt(1000).toLong
              IdempotentMergeSink.merge(spark, root,
                Seq((k, "I", v)).toDF("key", "op", "n"), "key", s"m$batch",
                deltaMaxRows = if (rnd.nextBoolean()) 0 else 1000)
              upModel += k -> v
            } else {
              IdempotentMergeSink.merge(spark, root,
                Seq((k, "D", 0L)).toDF("key", "op", "n"), "key", s"m$batch")
              upModel -= k
            }
          case 2 | 3 => // additive increment on the high key space
            val k = 100L + rnd.nextInt(5)
            val v = rnd.nextInt(50).toLong
            IdempotentMergeSink.mergeAdditive(spark, root,
              Seq((k, v)).toDF("key", "n"), "key", s"m$batch",
              deltaMaxRows = if (rnd.nextBoolean()) 0 else 1000)
            addModel += k -> (addModel.getOrElse(k, 0L) + v)
          case 4 =>
            if (rnd.nextBoolean()) IdempotentMergeSink.compact(spark, root)
            else if (IdempotentMergeSink.version(root) > 0)
              IdempotentMergeSink.vacuum(root, keep = 1)
        }
        batch += 1
        val got = IdempotentMergeSink.read(spark, root)
          .map(_.collect().map(r =>
            r.getAs[Long]("key") -> r.getAs[Long]("n")).toMap)
          .getOrElse(Map.empty)
        assert(got == upModel ++ addModel,
          s"trial $trial diverged after batch $batch: $got vs ${upModel ++ addModel}")
      }
    }
  }

  test("property: any batch splitting of a log converges to the same state") {
    import spark.implicits._
    // three seeded random logs × random batch boundaries: final state
    // must equal the direct latest-op-wins fold regardless of how the
    // log was sliced into merges (the associativity a retriable
    // ingestion pipeline silently relies on)
    for (seed <- Seq(11, 23, 47)) {
      val rnd = new scala.util.Random(seed)
      val ops = Array("I", "U", "D")
      val log = (1 to 60).map { seq =>
        (rnd.nextInt(8) + 1L, seq.toLong, ops(rnd.nextInt(3)), rnd.nextInt(1000) / 10.0)
      }
      val want = log.groupBy(_._1).flatMap { case (k, rows) =>
        val last = rows.maxBy(_._2)
        if (last._3 == "D") None else Some((k, last._4))
      }.toSet
      val root = freshRoot()
      var rest = log
      var i = 0
      while (rest.nonEmpty) {
        val n = rnd.nextInt(rest.size) + 1
        val (batch, tail) = rest.splitAt(n)
        // shuffle inside the batch: transport order must not matter
        IdempotentMergeSink.merge(spark, root,
          rnd.shuffle(batch).toDF("key", "seq", "op", "payload"), "key", s"b$i")
        rest = tail; i += 1
      }
      val got = IdempotentMergeSink.read(spark, root).get
        .select("key", "payload").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == want, s"seed $seed: $got != $want")
    }
  }

  test("two concurrent writers with distinct batches: both commit, neither is lost") {
    import spark.implicits._
    // the deployment mistake that WILL happen: the batch refresh and the
    // streaming refresh pointed at one root. The rename-CAS must make
    // the outcome a serialization, not a silent overwrite.
    val root = freshRoot()
    IdempotentMergeSink.merge(spark, root,
      Seq((0L, "I", "base")).toDF("key", "op", "payload"), "key", "b0")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 4).map { i =>
      Future(IdempotentMergeSink.merge(spark, root,
        Seq((i.toLong, "I", s"w$i")).toDF("key", "op", "payload"), "key", s"b$i"))
    }), 120.seconds)
    assert(results.forall(identity), "every writer must eventually commit")
    assert((0 to 4).forall(i => IdempotentMergeSink.applied(root, s"b$i")))
    assert(state(root) == (0 to 4).map(i =>
      (i.toLong, if (i == 0) "base" else s"w$i")).toSet)
    // the versions serialized: one commit per writer, no gaps
    assert(IdempotentMergeSink.version(root) == 5)
  }

  test("mergeAdditive: concurrent increments on shared keys all land; retry adds nothing") {
    import spark.implicits._
    val root = freshRoot()
    // seed counts
    assert(IdempotentMergeSink.mergeAdditive(spark, root,
      Seq(("a", 10L), ("b", 1L)).toDF("k", "n"), "k", "seed"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // four concurrent maintainers incrementing OVERLAPPING keys — the
    // read-modify-write upsert this mode replaces loses every CAS
    // loser's delta; additive rebase must keep all of them
    val results = Await.result(Future.sequence((1 to 4).map { i =>
      Future(IdempotentMergeSink.mergeAdditive(spark, root,
        Seq(("a", 1L), (s"w$i", i.toLong)).toDF("k", "n"), "k", s"inc$i"))
    }), 120.seconds)
    assert(results.forall(identity))
    def counts = IdempotentMergeSink.read(spark, root).get
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts == Map("a" -> 14L, "b" -> 1L,
      "w1" -> 1L, "w2" -> 2L, "w3" -> 3L, "w4" -> 4L), s"got $counts")
    // exactly-once: a retried batch id adds nothing and bumps no version
    val v = IdempotentMergeSink.version(root)
    assert(!IdempotentMergeSink.mergeAdditive(spark, root,
      Seq(("a", 1L)).toDF("k", "n"), "k", "inc1"))
    assert(IdempotentMergeSink.version(root) == v && counts("a") == 14L)
  }

  test("two concurrent writers racing the SAME batch id apply it exactly once") {
    import spark.implicits._
    val root = freshRoot()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 3).map { _ =>
      Future(IdempotentMergeSink.merge(spark, root,
        Seq((1L, "I", "x")).toDF("key", "op", "payload"), "key", "dup"))
    }), 120.seconds)
    // at least one writer wins; a loser that re-reads and finds "dup"
    // already applied reports the no-op path — never a double apply
    assert(results.exists(identity))
    assert(state(root) == Set((1L, "x")))
    assert(IdempotentMergeSink.read(spark, root).get.count() == 1)
  }

  test("the updates plan is evaluated exactly once per merge") {
    import spark.implicits._
    // a non-deterministic updates DataFrame must not be able to commit
    // an inconsistent mix of upserts and deletes: merge materializes the
    // ranked rows once and every derived relation reads that snapshot
    val root = freshRoot()
    val acc = spark.sparkContext.longAccumulator("evals")
    val updates = spark.range(0, 10).as[Long]
      .map { k => acc.add(1); (k, "I", s"p$k") }
      .toDF("key", "op", "payload")
    assert(IdempotentMergeSink.merge(spark, root, updates, "key", "b1"))
    assert(acc.value == 10L, s"updates evaluated ${acc.value / 10.0} times")
    assert(state(root).size == 10)
  }

  test("compact racing live merge/mergeAdditive writers: all converge, nothing lost") {
    import spark.implicits._
    // compact goes through the same rename-CAS commitLoop as the
    // writers but was never raced against them live: a compact that
    // loses the CAS to a merge must rebase on the winner's state (its
    // staged base would otherwise silently drop the winner's batch),
    // and a merge that loses to a compact must re-read the compacted
    // base. Disjoint key spaces keep upsert and additive semantics
    // separable, same as the interleaving property test.
    val root = freshRoot()
    IdempotentMergeSink.merge(spark, root,
      Seq((0L, "I", 0L)).toDF("key", "op", "n"), "key", "seed")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (1 to 3).map { i =>
      Future(IdempotentMergeSink.merge(spark, root,
        Seq((i.toLong, "I", i.toLong)).toDF("key", "op", "n"), "key", s"up$i"))
    }
    val adders = (1 to 2).map { i =>
      Future(IdempotentMergeSink.mergeAdditive(spark, root,
        Seq((100L, 10L)).toDF("key", "n"), "key", s"add$i"))
    }
    val compacts = (1 to 2).map { _ =>
      Future(IdempotentMergeSink.compact(spark, root))
    }
    val results = Await.result(
      Future.sequence(writers ++ adders), 180.seconds)
    Await.result(Future.sequence(compacts), 180.seconds)
    assert(results.forall(identity), "every writer must eventually commit")
    val got = IdempotentMergeSink.read(spark, root).get.collect()
      .map(r => r.getAs[Long]("key") -> r.getAs[Long]("n")).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 100L -> 20L),
      s"state diverged under the compact race: $got")
    assert((1 to 3).forall(i => IdempotentMergeSink.applied(root, s"up$i")))
    assert((1 to 2).forall(i => IdempotentMergeSink.applied(root, s"add$i")))
    // and a compact AFTER the dust settles still converges to a base
    IdempotentMergeSink.compact(spark, root)
    val v = IdempotentMergeSink.version(root)
    assert(IdempotentMergeSink.readAt(spark, root, v).count() == 5)
  }

  test("vacuum's keep protects an in-flight reader's unevaluated plan mid-fold") {
    import spark.implicits._
    // the reader hazard: a plan captured at version v is LAZY — it
    // reads its base chain's parquet only when an action runs. If a
    // newer compacting commit lands and vacuum then uses the NEWEST
    // base as its floor (the pre-r13 bug), the reader's chain is
    // severed between plan and action. keep must cover the reader.
    val root = freshRoot()
    def put(k: Long, p: String, id: String) = IdempotentMergeSink.merge(
      spark, root, Seq((k, "I", p)).toDF("key", "op", "payload"), "key", id)
    (0 until IdempotentMergeSink.CompactEvery).foreach(i => put(i.toLong, s"p$i", s"b$i"))
    val vReader = IdempotentMergeSink.version(root) // chain of 7 on the v1 base
    val inFlight = IdempotentMergeSink.read(spark, root).get // NOT evaluated yet
    // a newer compacting commit moves the newest base past the reader
    put(99L, "px", "bnew")
    assert(!new File(s"$root/v=${vReader + 1}/$DeltaTagName").exists(),
      "the follow-up commit should have compacted")
    // keep=2 covers versions {vReader, vReader+1}: the reader's base
    // chain (v1!) must survive this vacuum
    IdempotentMergeSink.vacuum(root, keep = 2)
    val got = inFlight.collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[String]("payload"))).toSet
    assert(got == (0 until IdempotentMergeSink.CompactEvery)
      .map(i => (i.toLong, s"p$i")).toSet,
      "in-flight reader saw a severed chain despite keep covering it")
    // once the reader's version falls outside keep, ITS chain may go —
    // and a late readAt of the vacuumed version fails loudly, not with
    // a parquet error
    IdempotentMergeSink.vacuum(root, keep = 1)
    assert(!new File(s"$root/v=1").exists(), "keep=1 should reclaim the old chain")
    val e = intercept[IllegalStateException] {
      IdempotentMergeSink.readAt(spark, root, vReader)
    }
    assert(e.getMessage.contains("absent or unmarked"))
  }

  test("inParallel awaits every task, then rethrows the first failure in task order") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val first = new IllegalStateException("task 0")
    val thrown = intercept[IllegalStateException] {
      IdempotentMergeSink.inParallel(Seq(
        () => throw first,
        () => { Thread.sleep(500); finished.set(true) }))
    }
    assert(thrown eq first)
    assert(finished.get(), "inParallel threw while task 1 was still running")

    val later = new IllegalArgumentException("task 1")
    val both = intercept[IllegalStateException] {
      IdempotentMergeSink.inParallel(Seq(
        () => { Thread.sleep(200); throw first },
        () => throw later))
    }
    assert((both eq first) && both.getSuppressed.contains(later))
  }

  test("inParallel runs each caller's jobs under that caller's job description") {
    val prefix = "inParallel-spec-"
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith(prefix)).foreach(seen.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // two callers one after the other: the second reuses the pool
      // thread the first one's task ran on
      Seq("a", "b").foreach { caller =>
        val t = new Thread(() => {
          spark.sparkContext.setJobDescription(prefix + caller)
          IdempotentMergeSink.inParallel(Seq(() => spark.range(0, 10, 1, 1).count()))
        })
        t.start()
        t.join()
        Thread.sleep(100)
      }
      val want = Set(prefix + "a", prefix + "b")
      val deadline = System.currentTimeMillis() + 10000
      while (seen.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSet == want)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("merge state matches etl_cdc_apply replayed through the sink") {
    import spark.implicits._
    val root = freshRoot()
    // the batch operator's deterministic log, split in two batches by seq
    val log = Tables.orders(spark, sfDir)
      .select(col("o_custkey").as("key"), col("o_orderkey").as("seq"),
        when(col("o_orderkey") % 10 === 0, "D")
          .when(col("o_orderkey") % 10 <= 3, "U")
          .otherwise("I").as("op"),
        round(col("o_totalprice"), 2).as("payload"))
    val mid = log.agg(expr("percentile(seq, 0.5)")).head().getDouble(0)
    IdempotentMergeSink.merge(spark, root, log.filter(col("seq") <= mid), "key", "b1")
    IdempotentMergeSink.merge(spark, root, log.filter(col("seq") > mid), "key", "b2")
    val got = IdempotentMergeSink.read(spark, root).get
      .select(col("key"), col("payload")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val want = graft.operators.EtlCleaning.cdcApply(spark, sfDir)
      .select(col("key"), col("value")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(want.nonEmpty && got == want,
      s"sink vs batch CDC: ${got.size} vs ${want.size} keys")
  }
}
