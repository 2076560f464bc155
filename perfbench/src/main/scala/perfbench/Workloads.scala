package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators._
import graft.sinks.IdempotentMergeSink

/** What a run hands back: latency samples by series, operation and
  * failure counts, outputs to check against their oracles, checks the
  * run made itself, and loose figures (bytes, setup parts). Samples
  * taken while tracing are also kept under `traced.<series>`.
  */
final class Record(tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  /** Registry outputs written once for the oracle check: name → dir. */
  val outputs = mutable.LinkedHashMap.empty[String, String]
  /** Checks the run made itself: name → (passed, detail). */
  val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
  val figures = mutable.LinkedHashMap.empty[String, Double]

  def add(series: String, v: Double): Unit = {
    samples.getOrElseUpdate(series, mutable.ArrayBuffer.empty) += v
    if (tracer.enabled) samples.getOrElseUpdate(s"traced.$series", mutable.ArrayBuffer.empty) += v
  }

  def figure(k: String, v: Double): Unit = figures(k) = figures.getOrElse(k, 0.0) + v

  /** Runs one operation; a throw counts as failed and yields None, so
    * its time is never recorded as a latency.
    */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        if (errors.size < 20) errors += s"$what: ${e.toString.take(300)}"
        None
    }
  }
}

final case class Ctx(spark: SparkSession, runDir: String, dataDir: String,
    tracer: Tracer, rec: Record)

/** One workload: an untimed setup (warm-up, output check, builds), then
  * one closed-loop client issuing timed iterations, then untimed
  * checks. `iterate` returns the iteration's wall seconds, or None
  * when it failed or its input stream is exhausted.
  */
trait Workload {
  def setup(c: Ctx): Unit
  def iterate(c: Ctx, i: Int): Option[Double]
  def finish(c: Ctx): Unit = ()
  /** Iterations in one round over the workload's operation kinds. */
  def roundSize: Int = 1
}

object Workload {
  def apply(name: String): Workload = name match {
    case "catalog_onboard" => new RegistryPasses(CatalogOps)
    case "index_maintain" => new IndexMaintain
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Catalog onboarding, one operator per stage group: clean/map,
    * match, SCD2 update history, templates, and the whole pipeline end
    * to end.
    */
  val CatalogOps: Seq[String] = Seq(
    "etl_column_map_grocery", "etl_similarity_match", "etl_scd2_history",
    "etl_template_sections", "etl_pipeline_e2e")

  /** Operator module of each registry query, read from the public
    * per-module registries.
    */
  lazy val moduleOf: Map[String, String] = Seq(
    "CoreAnalytics" -> CoreAnalytics.queries, "EtlCleaning" -> EtlCleaning.queries,
    "EtlMatching" -> EtlMatching.queries, "EtlEnrichment" -> EtlEnrichment.queries,
    "EtlTemplates" -> EtlTemplates.queries, "EtlScheduling" -> EtlScheduling.queries,
    "Dedup" -> Dedup.queries, "GraphOps" -> GraphOps.queries,
    "CorpusOps" -> CorpusOps.queries, "AnnSearch" -> AnnSearch.queries,
    "TextAnalysis" -> TextAnalysis.queries, "Events" -> Events.queries,
    "Multimodal" -> Multimodal.queries, "Pipeline" -> Pipeline.queries,
    "Incremental" -> Incremental.queries, "DataQuality" -> DataQuality.queries,
    "SqlSurface" -> SqlSurface.queries, "MaintQueries" -> MaintQueries.queries)
    .flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One registry operation: the public call (plan building, including
    * eager checkpoints and collects), then the noop-sink action that
    * materialises every output column. Returns wall seconds.
    */
  def timedOp(c: Ctx, name: String): Option[Double] = {
    val fn = SparkEntry.queries(name)
    val module = moduleOf.getOrElse(name, "")
    c.rec.attempt(name) {
      val (df, callS) = c.tracer.timed("call", name, module)(fn(c.spark, c.dataDir))
      val (_, actS) = c.tracer.timed("action", name, module)(noop(df))
      c.rec.add(s"op.$name", callS + actS)
      callS + actS
    }
  }

  /** Writes each operation's output once, for the oracle check. */
  def writeOutputs(c: Ctx, names: Seq[String]): Unit = names.foreach { n =>
    val dir = s"${c.runDir}/out/$n"
    c.rec.attempt(s"$n (output)") {
      val t0 = Clock.nowMs
      SparkEntry.queries(n)(c.spark, c.dataDir).write.mode("overwrite").parquet(dir)
      c.rec.figure(s"setup_op.$n", (Clock.nowMs - t0) / 1e3)
      c.rec.outputs(n) = dir
    }
  }
}

/** catalog_onboard: every iteration is one full pass over the
  * operators, in order.
  */
final class RegistryPasses(ops: Seq[String]) extends Workload {
  /** Writes every output for the check, then runs one untimed pass, so
    * the timed passes start from a warmer JIT.
    */
  def setup(c: Ctx): Unit = {
    Workload.writeOutputs(c, ops)
    ops.foreach(op => c.rec.attempt(s"$op (warm-up)")(
      Workload.noop(SparkEntry.queries(op)(c.spark, c.dataDir))))
  }

  def iterate(c: Ctx, i: Int): Option[Double] = {
    val times = ops.map(op => Workload.timedOp(c, op))
    if (times.forall(_.isDefined)) { val s = times.flatten.sum; c.rec.add("pass", s); Some(s) }
    else None
  }
}

/** index_maintain: two maintained families, bootstrapped from a
  * seeded base, then a stream of small seeded batches committed one at
  * a time, each followed by one time-travel read of the version before
  * it; compaction and vacuum on a fixed schedule. The read side of the
  * index tier rides along: setup builds one served artifact, and every
  * round over the families ends with one probe of it.
  */
final class IndexMaintain extends Workload {
  import IndexMaintain._

  private var fam: Map[String, Family] = Map.empty
  private var commits = 0

  override def roundSize: Int = Families.size

  def setup(c: Ctx): Unit = {
    val spark = c.spark
    val root = s"${c.runDir}/maint"
    val docSplit = Split.under(s"${c.dataDir}/maint/docs")
    val nodeSplit = Split.under(s"${c.dataDir}/maint/nodes")
    fam = Seq(
      Family("knn", s"$root/knn", nodeSplit,
        (r, files) => IndexMaintenance.bootstrapKnn(spark, r, read(spark, files)),
        (r, prior, batch, id) =>
          IndexMaintenance.refreshKnn(spark, r, read(spark, prior), read(spark, Seq(batch)), id)),
      Family("bm25", s"$root/bm25", docSplit,
        (r, files) => IndexMaintenance.bootstrapBm25(spark, r, read(spark, files)),
        (r, _, batch, id) => IndexMaintenance.refreshBm25(spark, r, read(spark, Seq(batch)), id))
    ).map(f => f.name -> f).toMap
    Families.foreach { n =>
      val f = fam(n)
      c.rec.attempt(s"$n bootstrap")(f.bootstrap(f.root, Seq(f.split.base)))
      f.versions += 1 -> 0
    }
    Workload.writeOutputs(c, Seq(ProbeOp))
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir")).getPath
    c.rec.figure("artifact_bytes", Disk.sizeOf(new File(wh)).toDouble)
  }

  def iterate(c: Ctx, i: Int): Option[Double] = {
    val f = fam(Families(i % Families.size))
    val b = f.applied
    if (b >= f.split.batches.size) return None
    val before = Disk.filesUnder(new File(f.root))
    val prior = f.split.base +: f.split.batches.take(b)
    val t = c.rec.attempt(s"${f.name} commit b$b") {
      val (_, s) = c.tracer.timed("commit", f.name, "IndexMaintenance") {
        require(f.refresh(f.root, prior, f.split.batches(b), s"b$b"),
          s"${f.name} batch b$b was not applied")
        f.version = f.readVersion()
      }
      s
    }
    t.foreach { s =>
      commits += 1
      c.rec.add("commit", s)
      c.rec.add(s"commit.${f.name}", s)
      f.applied += 1
      f.versions += f.version -> f.applied
      val after = Disk.filesUnder(new File(f.root))
      val fresh = after.keySet -- before.keySet
      c.rec.figure("bytes_written", fresh.toSeq.map(after).sum.toDouble)
      c.rec.figure("files_written", fresh.size.toDouble)
      c.rec.figure("delta_bytes", new File(f.split.batches(b)).length().toDouble)
    }
    // one time-travel read of the version before this commit
    val tt = c.rec.attempt(s"${f.name} read_at") {
      val (_, s) = c.tracer.timed("read_at", f.name, "IndexMaintenance") {
        Workload.noop(travel(c.spark, f, f.version - 1))
      }
      s
    }
    tt.foreach(c.rec.add("travel", _))
    if (t.isDefined && commits % CompactEvery == 0) {
      val cf = fam("knn")
      c.rec.attempt(s"${cf.name} compact") {
        val (did, cs) = c.tracer.timed("compact", cf.name) {
          IdempotentMergeSink.compact(c.spark, cf.root)
        }
        c.rec.add("compact", cs)
        if (did) { cf.version = cf.readVersion(); cf.versions += cf.version -> cf.applied }
        val (_, vs) = c.tracer.timed("vacuum", cf.name)(IdempotentMergeSink.vacuum(cf.root, keep = 2))
        c.rec.add("vacuum", vs)
      }
    }
    // a round over the families ends with one served probe
    val probe = if (i % Families.size == Families.size - 1) {
      val p = c.tracer.timed("probe", ProbeOp)(Workload.timedOp(c, ProbeOp))._1
      p.foreach(c.rec.add("probe", _))
      p.map(Some(_))
    } else Some(None)
    for (a <- t; b <- tt; p <- probe) yield a + b + p.getOrElse(0.0)
  }

  override def finish(c: Ctx): Unit = {
    val spark = c.spark
    val checkRoot = s"${c.runDir}/maint_check"
    Families.foreach { n =>
      val f = fam(n)
      val scratch = s"$checkRoot/$n"
      c.rec.attempt(s"$n state check") {
        f.bootstrap(scratch, f.split.base +: f.split.batches.take(f.applied))
        val ok = same(state(spark, f, f.root), state(spark, f, scratch))
        c.rec.checks(s"$n.state") = (ok, s"maintained state vs from-scratch over base + ${f.applied} batches")
        if (!ok) throw new IllegalStateException(s"$n maintained state differs from a from-scratch build")
      }
    }
    // one time-travel version against the build over its prefix
    val f = fam("bm25")
    val v = f.version - 1
    f.versions.get(v).foreach { nb =>
      c.rec.attempt("bm25 travel check") {
        val scratch = s"$checkRoot/bm25_v$v"
        f.bootstrap(scratch, f.split.base +: f.split.batches.take(nb))
        val ok = same(travel(spark, f, v), travel(spark, f.copy(root = scratch), 1))
        c.rec.checks("bm25.travel") = (ok, s"bm25DfAt(v=$v) vs from-scratch over base + $nb batches")
        if (!ok) throw new IllegalStateException(s"bm25DfAt($v) differs from a from-scratch build")
      }
    }
    // space amplification: the maintained tables on disk against the
    // same state committed once, which is what the from-scratch roots hold
    Families.foreach { n =>
      c.rec.figure("disk_bytes", Disk.sizeOf(new File(fam(n).root)).toDouble)
      c.rec.figure("live_bytes", Disk.sizeOf(new File(s"$checkRoot/$n")).toDouble)
    }
    c.rec.figure("versions", Families.map(n => fam(n).version.toDouble).sum)
    c.rec.figure("commits", commits.toDouble)
  }
}

object IndexMaintain {
  /** The maintained families, which between them carry every delta
    * kind: upserts with eviction deletes (kNN lists) and additive
    * increments (BM25 document frequencies).
    */
  val Families: Seq[String] = Seq("knn", "bm25")
  /** Commits between compactions of the kNN table. */
  val CompactEvery = 4
  /** The served probe: component labels read from their artifact. */
  val ProbeOp = "dedup_components_served"

  /** A seeded stream: the base file and the batch files in order. */
  final case class Split(base: String, batches: Seq[String])

  object Split {
    /** The stream `inputs.py` wrote into `dir` (base.parquet, bNNN.parquet). */
    def under(dir: String): Split = Split(s"$dir/base.parquet",
      new File(dir).list().filter(_.matches("b\\d+\\.parquet")).sorted.map(f => s"$dir/$f").toSeq)
  }

  /** A maintained family: `bootstrap(root, files)` builds its tables
    * from scratch, `refresh(root, prior, batch, id)` commits one batch
    * on top of the prior files.
    */
  final case class Family(name: String, root: String, split: Split,
      bootstrap: (String, Seq[String]) => Boolean,
      refresh: (String, Seq[String], String, String) => Boolean) {
    var applied = 0
    var version = 1
    /** Version → number of batches it holds. */
    val versions = mutable.Map.empty[Int, Int]
    /** The version after a commit. The BM25 family keeps its versions in
      * a sub-table whose path is graft's own, so its commits are counted.
      */
    def readVersion(): Int = name match {
      case "knn" => IdempotentMergeSink.version(root)
      case _ => version + 1
    }
  }

  def read(spark: SparkSession, files: Seq[String]): DataFrame = spark.read.parquet(files: _*)

  /** The family's maintained relation at `root`. */
  def state(spark: SparkSession, f: Family, root: String): DataFrame = f.name match {
    case "knn" => IndexMaintenance.knnEdges(spark, root)
    case "bm25" =>
      val (tf, df, dl) = IndexMaintenance.bm25(spark, root)
      tf.select(lit("tf").as("rel"), col("doc_id").cast("string").as("k"),
          col("term").as("k2"), col("tf").cast("long").as("v"))
        .unionByName(df.select(lit("df").as("rel"), lit("").as("k"), col("term").as("k2"),
          col("df").cast("long").as("v")))
        .unionByName(dl.select(lit("dl").as("rel"), col("doc_id").cast("string").as("k"),
          lit("").as("k2"), col("dl").cast("long").as("v")))
  }

  /** Time-travel read of family `f` at version `v`. */
  def travel(spark: SparkSession, f: Family, v: Int): DataFrame = f.name match {
    case "knn" => IndexMaintenance.knnEdgesAt(spark, f.root, v)
    case "bm25" => IndexMaintenance.bm25DfAt(spark, f.root, v)
  }

  /** Multiset equality of two small relations with the same columns. */
  def same(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.select(a.columns.map(col): _*).collect()
      .map(_.toSeq.mkString("\u0001")).sorted.toSeq
    rows(a) == rows(b)
  }
}
