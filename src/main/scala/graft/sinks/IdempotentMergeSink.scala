package graft.sinks

import graft.Tables
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Idempotent keyed-MERGE table layout — the write-back contract the
  * reference's PUT loop implies (api-client.py: every batch re-PUTs
  * its product updates, and the warehouse must not double-apply them
  * when a batch retries after a timeout). Two disciplines compose:
  *
  *  - **Versioned commits, one atomic publish.** Each merge STAGES its
  *    commit plus marker (`_GRAFT_COMMIT`) in a hidden temp directory,
  *    then publishes it with a single atomic rename to `v=<n>/`.
  *    Readers resolve the HIGHEST version that carries a marker; a
  *    crash mid-write leaves only an unnamed temp directory no reader
  *    ever sees. Because the rename either claims the version number
  *    or fails (a directory cannot be renamed onto a non-empty one),
  *    TWO CONCURRENT WRITERS cannot both commit `v=<n>`: the loser's
  *    rename fails, it re-reads the winner's committed state and
  *    re-merges at `v=<n+1>` — the optimistic-concurrency loop
  *    Delta/Iceberg run against their commit logs, expressed with
  *    filesystem rename as the CAS.
  *  - **Delta commits, bounded compaction.** A committed version is
  *    either a BASE (the complete table state — parquet directly in
  *    the version dir, the only form before r12) or a DELTA carrying
  *    just the commit's change set (`upserts/` + `removes/` for keyed
  *    merges, `increments/` for additive ones, tagged by a
  *    `_GRAFT_DELTA` file naming the kind and key column). Readers
  *    reconstruct state from the newest base forward. This is what
  *    removes the snapshot floor from maintenance: a kNN refresh that
  *    touches 10³ of 10⁶·K list rows commits 10³ rows, not K·n.
  *    Every [[CompactEvery]]-th commit writes a base instead (on-write
  *    compaction — the scheduled-compaction slot a table format's
  *    rewrite job occupies), so a read never folds more than
  *    CompactEvery−1 deltas and vacuum always has a recent base to
  *    retain from.
  *  - **Batch-id dedup.** Every merge call carries a `batchId`; applied
  *    ids are recorded inside the commit marker and a re-run of an
  *    already-committed batch is a structural NO-OP (no read, no
  *    write, no new version) — the exactly-once discipline streaming
  *    `foreachBatch` sinks use, and the reason a retried PUT cannot
  *    double-count `n_changes`-style accumulations downstream.
  *
  * Merge semantics: updates UPSERT whole rows by `key`; rows whose
  * `op` column (when present) is "D" DELETE the key — the same
  * latest-op-wins contract as `etl_cdc_apply`, applied incrementally.
  * Within one updates batch the highest `seq` wins when a `seq`
  * column is present; otherwise updates are assumed key-unique.
  *
  * Guarantee boundaries: IDEMPOTENCE (a retried batch never
  * double-applies) is carried by the marker-last + batch-id layers and
  * survives on any storage. The CONCURRENT-WRITER serialization is the
  * directory-rename CAS and therefore requires an ATOMIC rename
  * (POSIX, HDFS); S3-style object stores emulate rename as
  * copy+delete, which is not atomic — there this sink needs an
  * external commit lock (or a log-based table format) to keep the
  * concurrency claim. Vacuum is excluded from the concurrency
  * contract: see [[vacuum]].
  */
object IdempotentMergeSink {

  private val Marker = "_GRAFT_COMMIT"
  private val DeltaTag = "_GRAFT_DELTA"

  /** Delta-chain bound: every CompactEvery-th commit is a full base,
    * so reconstruction folds at most CompactEvery − 1 deltas.
    */
  val CompactEvery = 8

  /** Batch-size bound for a DELTA commit: the read path broadcasts a
    * delta's change set (that is what keeps the chain fold map-side),
    * so a huge batch committed as a delta would be a driver-side
    * broadcast of the batch on every subsequent read. Above this many
    * rows the commit writes a compacting BASE instead — for a batch
    * that large the snapshot write is proportional cost anyway, and
    * the delta economics (tiny change set vs full table) are gone.
    * ~500k keyed rows ≈ tens of MB — the broadcast comfort bound.
    */
  val DeltaMaxRows = 500000L

  /** Target rows per output parquet file for commit writes whose row
    * count is known (the batch observation): ~2M keyed rows ≈ the
    * 100 MB–1 GB file-size band the read path wants. A contract-scale
    * batch (hundreds of rows) commits ONE file instead of one per
    * upstream partition — at 32 local cores that was 32 near-empty
    * files per commit, re-listed and footer-read by every subsequent
    * chain fold; at production scale ceil(rows / this) grows the file
    * count with the batch, so the write never serializes a genuinely
    * large commit through one task.
    */
  val FileTargetRows = 2000000L

  private def filesFor(rows: Long): Int =
    math.max(1L, (rows + FileTargetRows - 1) / FileTargetRows)
      .min(100000L).toInt

  /** Pool for overlapping the INDEPENDENT jobs inside one logical
    * commit (a delta's removes + upserts writes) and across independent
    * sub-table merges ([[graft.operators.IndexMaintenance]]): Spark's
    * scheduler runs concurrent jobs fine (FIFO back-fill), and the
    * driver-side planning of one job overlaps the execution of the
    * other — the §2.6 overlap-independent-jobs discipline. CACHED (not
    * fixed-size): inParallel NESTS — a sub-table merge running on a
    * pool thread submits its own delta writes back to the pool, and a
    * bounded pool whose every thread blocks in get() on inner tasks
    * deadlocks (measured: a 3-thread pool hung the maintenance suite).
    * Actual concurrency is bounded by the call structure (≤ 3 merges ×
    * ≤ 2 writes). Daemon threads so the pool never blocks JVM exit.
    */
  private lazy val jobPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-merge-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })

  /** Run the thunks as concurrent Spark jobs, each under the caller's
    * SparkContext local properties (a reused pool thread would
    * otherwise label the jobs with the properties of the caller that
    * created it). Every task is awaited before anything is thrown, so
    * no job of this call still runs when the caller sees a failure;
    * the first failure in task order is rethrown with the later ones
    * attached as suppressed.
    */
  private[graft] def inParallel[A](tasks: Seq[() => A]): Seq[A] = {
    val futs = tasks.map(org.apache.spark.graft.LocalProperties.propagating(_))
      .map(t => jobPool.submit(new java.util.concurrent.Callable[A] { def call(): A = t() }))
    val outcomes = futs.map(f =>
      try Right(f.get())
      catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
    outcomes.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.collect { case Right(a) => a }
    }
  }

  /** How a committed version stores its content. */
  private sealed trait Kind
  private case object Base extends Kind
  private case class UpsertDelta(key: String) extends Kind
  private case class AdditiveDelta(key: String) extends Kind

  private def kindOf(root: String, v: Int): Kind = {
    // distinguish "directory absent" from "base": a missing version dir
    // (partial vacuum, external deletion) must fail HERE with a clear
    // message, not resolve to Base and crash later inside a parquet
    // scan with a confusing missing-file error
    if (!Files.exists(Paths.get(root, s"v=$v", Marker)))
      throw new IllegalStateException(
        s"version v=$v at $root is absent or unmarked (vacuumed?) — " +
          "cannot classify it on the delta chain")
    val tag = Paths.get(root, s"v=$v", DeltaTag)
    if (!Files.exists(tag)) Base
    else {
      val lines = Files.readAllLines(tag, StandardCharsets.UTF_8)
      lines.get(0) match {
        case "upsert"   => UpsertDelta(lines.get(1))
        case "additive" => AdditiveDelta(lines.get(1))
        case other => throw new IllegalStateException(
          s"unknown delta kind '$other' at $root/v=$v")
      }
    }
  }

  /** Newest base at or below `v` — always exists (the first commit of
    * a table is a base by construction).
    */
  private def newestBase(root: String, v: Int): Int =
    (v to 1 by -1).find(kindOf(root, _) == Base).getOrElse(
      throw new IllegalStateException(s"no base version at or below v=$v in $root"))

  /** Number of delta commits sitting on top of the newest base. */
  private def deltaChainLen(root: String, v: Int): Int =
    v - newestBase(root, v)

  private def sumByKey(df: DataFrame, key: String): DataFrame = {
    val cols = df.columns.filterNot(_ == key).toSeq
    df.groupBy(col(key))
      .agg(sum(col(cols.head)).as(cols.head),
        cols.tail.map(c => sum(col(c)).as(c)): _*)
  }

  /** Reconstruct the table state at version `v`: the newest base at or
    * below it, folded forward through the delta chain in commit order.
    * An upsert delta anti-joins its removed keys then unions its
    * upserts; additive deltas are order-independent among themselves
    * (sums commute), so each CONTIGUOUS additive run coalesces into
    * one union-all + a single re-sum instead of a chained aggregation
    * per delta — the all-additive df tables fold with exactly one
    * aggregation however long the chain. ≤ [[CompactEvery]] − 1 steps
    * by construction.
    */
  private def stateAt(spark: SparkSession, root: String, v: Int): DataFrame = {
    val b = newestBase(root, v)
    val kinds = (b + 1 to v).map(w => w -> kindOf(root, w))
    // group contiguous same-kind runs, preserving commit order. Runs
    // group on the WHOLE Kind (case-class equality = kind + key
    // column), not just the class: two contiguous additive deltas
    // committed with different key columns must fold as separate runs,
    // each re-summed by its own key, instead of run.head's key being
    // silently applied to both
    val runs = kinds.foldLeft(List.empty[List[(Int, Kind)]]) {
      case (acc @ (run @ ((_, rk) :: _)) :: rest, wk @ (_, k))
        if k == rk => (wk :: run) :: rest
      case (acc, wk) => List(wk) :: acc
    }.map(_.reverse).reverse
    runs.foldLeft(Tables.parquet(spark, s"$root/v=$b")) { (df, run) =>
      run.head._2 match {
        case UpsertDelta(_) =>
          run.foldLeft(df) { case (d, (w, UpsertDelta(key))) =>
            // a delta's change set is one batch — broadcast it so the
            // chain fold stays map-side over the single base scan
            d.join(broadcast(Tables.parquet(spark, s"$root/v=$w/removes")),
                Seq(key), "left_anti")
              .unionByName(Tables.parquet(spark, s"$root/v=$w/upserts"))
            case (d, _) => d // unreachable: run is kind-homogeneous
          }
        case AdditiveDelta(key) =>
          sumByKey(run.map { case (w, _) =>
            Tables.parquet(spark, s"$root/v=$w/increments")
          }.foldLeft(df)(_ unionByName _), key)
        case Base => df // unreachable: b is the newest base ≤ v
      }
    }
  }

  /** Applied batch ids + version number of the newest committed
    * version, or None for an empty table root.
    */
  private def committed(root: String): Option[(Int, Seq[String])] = {
    val dirs = Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("v=")
        && new File(f, Marker).exists())
      .map(f => f.getName.stripPrefix("v=").toInt)
    if (dirs.isEmpty) None
    else {
      val v = dirs.max
      val ids = Files.readAllLines(
        Paths.get(root, s"v=$v", Marker), StandardCharsets.UTF_8)
      Some((v, ids.toArray(Array.empty[String]).toSeq))
    }
  }

  /** The newest committed state, or None for an empty table —
    * reconstructed from the newest base through the delta chain.
    */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    committed(root).map { case (v, _) => stateAt(spark, root, v) }

  /** Time-travel read: the table state as of committed version `v` —
    * the versionAsOf contract. [[vacuum]]'s `keep` promises the newest
    * `keep` versions stay reconstructable through here (their base
    * chains are the retention floor). Throws a descriptive error for a
    * version that was never committed or has been vacuumed.
    */
  def readAt(spark: SparkSession, root: String, v: Int): DataFrame = {
    if (!Files.exists(Paths.get(root, s"v=$v", Marker)))
      throw new IllegalStateException(
        s"readAt($root, v=$v): version absent or unmarked (vacuumed?)")
    stateAt(spark, root, v)
  }

  /** Version the newest commit carries (0 = empty table) — exposed so
    * a spec can assert "re-run produced NO new version".
    */
  def version(root: String): Int = committed(root).map(_._1).getOrElse(0)

  /** True when `batchId` is already applied — the re-run detector. */
  def applied(root: String, batchId: String): Boolean =
    committed(root).exists(_._2.contains(batchId))

  private[graft] def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Merge `updates` into the table at `root` under `batchId`.
    * Returns true when the batch was applied, false for the
    * already-applied no-op path. Columns: `key` joins, optional "op"
    * ("D" deletes), optional "seq" orders within the batch (highest
    * wins); "op"/"seq" are control columns and are not persisted.
    *
    * Safe under concurrent writers: the atomic rename that publishes
    * `v=<n>` is the commit CAS. A loser discards its staged state,
    * re-reads the winner's commit (which may have applied THIS batch
    * id — two retries of one batch race to the same table) and
    * re-merges; after `maxAttempts` consecutive lost races it throws
    * rather than spin.
    */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      key: String, batchId: String, maxAttempts: Int = 20,
      deltaMaxRows: Long = DeltaMaxRows): Boolean =
    commitBatch(spark, root, batchId, key, "upsert", maxAttempts, deltaMaxRows, "merge") {
      // within-batch latest-op-wins (mirror of the etl_cdc_apply window)
      if (updates.columns.contains("seq")) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col("seq").desc)
        updates.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn", "seq")
      } else updates
    } { (ranked, files) =>
      val (upserts, deletes) =
        if (ranked.columns.contains("op"))
          (ranked.filter(col("op") =!= "D").drop("op"),
            ranked.filter(col("op") === "D").select(col(key)))
        else (ranked, ranked.limit(0).select(col(key)))
      Stage(
        // first commit: the filtered batch IS the base
        tmp => writeTo(upserts.join(deletes, Seq(key), "left_anti").coalesce(files), tmp),
        (state, tmp) => writeTo(state
          .join(ranked.select(col(key)), Seq(key), "left_anti")
          .unionByName(upserts)
          .join(deletes, Seq(key), "left_anti"), tmp),
        // the two writes read the same checkpointed batch and target
        // disjoint dirs — run them as concurrent jobs (§2.6) so one
        // write's tail overlaps the other's planning
        tmp => inParallel(Seq(
          () => writeTo(ranked.select(col(key)).coalesce(files), tmp.resolve("removes")),
          () => writeTo(upserts.coalesce(files), tmp.resolve("upserts")))))
    }

  /** ADDITIVE merge: every non-`key` column of `increments` is a
    * numeric delta summed INTO the existing row (missing keys insert,
    * existing keys accumulate). This is the concurrent-safe form of
    * read-modify-write accumulation: a plain upsert computed as
    * `current + inc` OUTSIDE the commit loop bakes the read version
    * into the written rows, so a maintainer that loses the rename CAS
    * to a DIFFERENT batch would re-commit stale absolutes and silently
    * drop the winner's increments. Here the rebase happens INSIDE each
    * attempt — the increments (materialized once) are summed against
    * whatever state won — so the committed table always equals
    * "Σ increments of all applied batches" regardless of interleaving,
    * and concurrent maintainers need no lease. Batch-id dedup gives
    * each batch's deltas exactly-once, same as [[merge]]. The first
    * commit on an empty root is a base holding the batch's sums, so
    * an additive table needs no separate build.
    */
  def mergeAdditive(spark: SparkSession, root: String, increments: DataFrame,
      key: String, batchId: String, maxAttempts: Int = 20,
      deltaMaxRows: Long = DeltaMaxRows): Boolean =
    commitBatch(spark, root, batchId, key, "additive", maxAttempts, deltaMaxRows,
        "mergeAdditive")(increments) { (inc, files) =>
      // post-agg rows ≤ batch rows: the observed count bounds the file
      // sizing from above
      Stage(
        tmp => writeTo(sumByKey(inc, key).coalesce(files), tmp),
        (state, tmp) => writeTo(sumByKey(state.unionByName(inc), key), tmp),
        tmp => writeTo(sumByKey(inc, key).coalesce(files), tmp.resolve("increments")))
    }

  /** How one batch's commit stages its content into the staging dir:
    * the FIRST commit's base, a COMPACTING base over the current
    * state, or a DELTA's change-set directories.
    */
  private final case class Stage(first: Path => Unit,
      compacting: (DataFrame, Path) => Unit, delta: Path => Unit)

  private def writeTo(df: DataFrame, dir: Path): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dir.toString)

  /** The commit body both merge flavors share. The already-applied
    * fast path stays STRUCTURAL: return before the batch plan is even
    * evaluated (the loop re-checks under the race). Otherwise the
    * batch is evaluated EXACTLY ONCE — every stage writer reads these
    * materialized rows, so a non-deterministic input cannot commit an
    * inconsistent combination of removals and upserts within one
    * version, and a lost-race retry re-merges the very same rows. The
    * delta-vs-base row-count gate rides the checkpoint's
    * materialization job as a CollectMetrics observation — one Spark
    * job for materialize + count instead of two. Every writer sizes
    * its file count from the observed rows (§6 output sizing): a
    * contract-scale commit is one file, a production one grows files
    * with rows — never one per upstream split. Each attempt then
    * stages a base for the first commit, a compacting base when the
    * delta chain is due (or the batch is too big to broadcast as a
    * delta), and the batch's change set, tagged `deltaKind`, otherwise.
    */
  private def commitBatch(spark: SparkSession, root: String, batchId: String,
      key: String, deltaKind: String, maxAttempts: Int, deltaMaxRows: Long,
      what: String)(batch: => DataFrame)(stage: (DataFrame, Int) => Stage): Boolean = {
    new File(root).mkdirs()
    if (committed(root).exists(_._2.contains(batchId))) return false
    val obs = new org.apache.spark.sql.Observation()
    val rows = batch.observe(obs, count(lit(1)).as("n")).localCheckpoint()
    val batchRows = obs.get("n").asInstanceOf[Long]
    val s = stage(rows, filesFor(batchRows))
    commitLoop(root, batchId, maxAttempts, what) {
      case (None, tmp) => s.first(tmp)
      case (Some((v, _)), tmp) if deltaChainLen(root, v) + 1 >= CompactEvery
          || batchRows > deltaMaxRows => s.compacting(stateAt(spark, root, v), tmp)
      case (Some(_), tmp) =>
        s.delta(tmp)
        Files.write(tmp.resolve(DeltaTag),
          s"$deltaKind\n$key".getBytes(StandardCharsets.UTF_8))
    }
  }

  /** The optimistic-concurrency commit loop every commit shares:
    * `stage(cur, tmp)` writes the commit's CONTENT (a full base or a
    * delta change set) into the staging dir FROM the currently-
    * committed version — re-invoked per attempt, so a lost-CAS retry
    * always rebases on the winner's commit.
    */
  private def commitLoop(root: String, batchId: String, maxAttempts: Int,
      what: String)(
      stage: (Option[(Int, Seq[String])], Path) => Unit): Boolean = {
    var attempt = 0
    while (attempt < maxAttempts) {
      val cur = committed(root)
      if (cur.exists(_._2.contains(batchId))) return false // retry after success
      val nextV = cur.map(_._1).getOrElse(0) + 1
      val target = Paths.get(root, s"v=$nextV")
      val tmp = Paths.get(root, s".stage-${java.util.UUID.randomUUID()}")
      stage(cur, tmp)
      val ids = cur.map(_._2).getOrElse(Seq.empty) :+ batchId
      Files.write(tmp.resolve(Marker),
        ids.mkString("\n").getBytes(StandardCharsets.UTF_8))
      // an unmarked v=<nextV> dir can only be a crashed legacy writer's
      // leftover (this protocol never exposes unmarked version dirs):
      // clear it so the rename-CAS isn't wedged by garbage
      if (Files.exists(target) && !Files.exists(target.resolve(Marker)))
        deleteRecursively(target.toFile)
      try {
        Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        return true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.FileSystemException =>
          // lost the CAS: a concurrent writer committed v=<nextV> first.
          // Discard the staged attempt and rebuild on top of theirs.
          deleteRecursively(tmp.toFile)
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"$what($root, batch=$batchId) lost the version race $maxAttempts times")
  }

  /** Rewrite the current state as a fresh BASE version through the
    * same commit CAS — the explicit compaction entry for a maintenance
    * schedule (on-write compaction already bounds chains at
    * [[CompactEvery]]; this one exists so [[vacuum]] can advance its
    * retention floor on demand). No-op (false) on an empty table or
    * when the newest version is already a base. The synthetic batch id
    * is derived from the compacted version, so a crashed compact
    * retries idempotently.
    */
  def compact(spark: SparkSession, root: String,
      maxAttempts: Int = 20): Boolean =
    committed(root) match {
      case None => false
      case Some((v, _)) if kindOf(root, v) == Base => false
      case Some((v, _)) =>
        commitLoop(root, s"_compact_v$v", maxAttempts, "compact") { (cur, tmp) =>
          val w = cur.map(_._1).getOrElse(
            throw new IllegalStateException(s"compact($root): table vanished"))
          writeTo(stateAt(spark, root, w), tmp)
        }
    }

  /** Retention: drop all committed versions older than the newest
    * `keep` AND older than the newest base (a delta is only readable
    * through the base its chain starts from — run [[compact]] first
    * when the goal is reclaiming a long-lived chain), plus crashed
    * writers' staged `.stage-*` directories whose
    * NEWEST inner file is older than `stageGraceMs`. The age gate
    * reads the newest mtime INSIDE the stage, not the stage dir's own
    * mtime: a directory's mtime only changes when entries are added at
    * its top level, so a long parquet write (> the grace) into nested
    * part files would look stale by dir-mtime and get deleted from
    * under a LIVE writer, failing that writer's commit. The newest
    * version carries the full applied-batch-id list, so vacuuming old
    * versions never weakens the idempotence check — the same reason a
    * table format can expire snapshots without re-running commits.
    *
    * CONCURRENCY: vacuum must not run concurrently with writers. A
    * losing writer's retry lazily re-reads the winner's `v=<n>`
    * parquet; a concurrent `vacuum(keep = 1)` can delete that version
    * after a newer commit lands but before the retry's staged write
    * evaluates, crashing the merge mid-retry. Run vacuum from the
    * maintenance schedule's quiet window (the same slot a table
    * format's expire-snapshots occupies), not alongside ingest.
    */
  def vacuum(root: String, keep: Int = 1,
      stageGraceMs: Long = 600000L): Unit = {
    require(keep >= 1, "must keep at least the newest committed version")
    val entries = Option(new File(root).listFiles()).getOrElse(Array.empty)
    committed(root).foreach { case (newest, _) =>
      // a delta version is only readable through the base its chain
      // starts from, and `keep` promises the newest `keep` versions
      // stay READABLE — so the floor is the base chain of the OLDEST
      // retained version, not of the newest (with keep > 1 and a
      // recent compaction, the newest version's base can sit ABOVE
      // retained delta versions that still read through an older base)
      val oldestRetained = math.max(1, newest - keep + 1)
      val chainFloor = newestBase(root, oldestRetained)
      entries
        .filter(f => f.isDirectory && f.getName.startsWith("v="))
        .filter { f =>
          val n = f.getName.stripPrefix("v=").toInt
          n <= newest - keep && n < chainFloor
        }
        .foreach(deleteRecursively)
    }
    def newestMtime(f: File): Long = {
      val inner = Option(f.listFiles()).getOrElse(Array.empty)
      (f.lastModified() +: inner.map(newestMtime)).max
    }
    val cutoff = System.currentTimeMillis() - stageGraceMs
    entries
      .filter(f => f.isDirectory && f.getName.startsWith(".stage-")
        && newestMtime(f) < cutoff)
      .foreach(deleteRecursively)
  }
}
