package graft

import graft.operators.{Dedup, IndexMaintenance}
import graft.sinks.IdempotentMergeSink
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental index maintenance ≡ from-scratch: the pair table
  * bootstrapped from the base corpus and refreshed with one ingest
  * batch must equal the full-corpus build, with exactly-once merge
  * semantics throughout.
  */
class IndexMaintenanceSpec extends SparkTestBase {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft_index_maint").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Rows of `got` and `want` over `cols`, as sets; `want` must be
    * non-empty so a comparison cannot pass vacuously.
    */
  private def assertSame(got: org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame, cols: String*): Unit = {
    val w = want.select(cols.map(col): _*).collect().toSet
    assert(w.nonEmpty, s"empty from-scratch relation over ${cols.mkString(", ")}")
    assert(got.select(cols.map(col): _*).collect().toSet == w,
      s"maintained relation over ${cols.mkString(", ")} diverges from the from-scratch build")
  }

  /** The table at `root` has exactly one commit, and it is a base. */
  private def assertOneBase(root: String): Unit = {
    assert(IdempotentMergeSink.version(root) == 1, root)
    assert(!Files.exists(java.nio.file.Paths.get(root, "v=1", "_GRAFT_DELTA")),
      s"$root/v=1 is a delta, not a base")
  }

  private def wantBm25(docs: org.apache.spark.sql.DataFrame) = {
    val tf = graft.operators.AnnSearch.bm25Tf(docs).localCheckpoint()
    (tf, tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
      tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
  }

  private def wantGramDf(docs: org.apache.spark.sql.DataFrame) =
    graft.operators.TextAnalysis.spanGramsOver(docs)
      .select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("gdf"))

  private def race(a: => Boolean, b: => Boolean): Seq[Boolean] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(Future(a), Future(b))), 5.minutes)
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Double)] =
    df.select("doc_a", "doc_b", "n_inter", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("bootstrap + one refresh equals the from-scratch build; retry is a no-op") {
    val root = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)

    assert(IndexMaintenance.bootstrap(spark, root, base))
    assert(pairSet(IndexMaintenance.pairs(spark, root))
      == pairSet(nearDupPairsBrute(base)))

    assert(IndexMaintenance.refresh(spark, root, base, batch, "b1"))
    val scratch = pairSet(nearDupPairsBrute(docs))
    assert(scratch.nonEmpty)
    assert(pairSet(IndexMaintenance.pairs(spark, root)) == scratch,
      "maintained pair table diverges from the from-scratch build")

    // exactly-once: the retried batch changes nothing
    val v = IdempotentMergeSink.version(root)
    assert(!IndexMaintenance.refresh(spark, root, base, batch, "b1"))
    assert(IdempotentMergeSink.version(root) == v)
    assert(pairSet(IndexMaintenance.pairs(spark, root)) == scratch)
  }

  test("one-token and empty documents: a full pair build and a refresh equal brute force") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val odd = Seq((900001L, "word"), (900002L, "")).toDF("doc_id", "text")
    val all = docs.unionByName(odd)
    val want = pairSet(nearDupPairsBrute(all))
    assert(want.nonEmpty && pairSet(Dedup.ngramJaccardOf(all)) == want)
    val root = freshRoot()
    assert(IndexMaintenance.bootstrap(spark, root, docs))
    assert(IndexMaintenance.refresh(spark, root, docs, odd, "odd"))
    assert(pairSet(IndexMaintenance.pairs(spark, root)) == want)
  }

  test("a pair build over no document or one document is empty, with the pair schema") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    for ((what, d) <- Seq("no document" -> docs.limit(0), "one document" -> docs.limit(1))) {
      val got = Dedup.ngramJaccardOf(d)
      assert(got.schema.map(f => f.name -> f.dataType.sql) == Seq("doc_a" -> "BIGINT",
        "doc_b" -> "BIGINT", "n_inter" -> "BIGINT", "jaccard" -> "DOUBLE"), what)
      assert(got.collect().isEmpty, what)
    }
  }

  test("pair bootstrap of an empty base commits version 1; a refresh after it equals brute force") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val root = freshRoot()
    assert(IndexMaintenance.bootstrap(spark, root, docs.limit(0)))
    assert(IdempotentMergeSink.version(root) == 1 &&
      IndexMaintenance.pairs(spark, root).collect().isEmpty)
    assert(IndexMaintenance.refresh(spark, root, docs.limit(0), docs, "all"))
    val want = pairSet(nearDupPairsBrute(docs))
    assert(want.nonEmpty && pairSet(IndexMaintenance.pairs(spark, root)) == want)
  }

  test("a pair search over more shingle rows than WideShingleRows equals brute force") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val rows = bigramSets(docs).agg(sum(size(col("g")))).head.getLong(0)
    val n = (Dedup.WideShingleRows / rows + 1).toInt
    // n id-shifted copies of the corpus: each copy pairs with the others
    def copies(ks: Range) = ks.map(k =>
      docs.select((col("doc_id") + k * 1000000L).as("doc_id"), col("text"))).reduce(_ union _)
    val all = copies(0 until n).localCheckpoint()
    assert(bigramSets(all).agg(sum(size(col("g")))).head.getLong(0) >= Dedup.WideShingleRows)
    val want = pairSet(nearDupPairsBrute(all))
    assert(want.nonEmpty && pairSet(Dedup.ngramJaccardOf(all)) == want)
    val root = freshRoot()
    val base = copies(0 until n - 1)
    assert(IndexMaintenance.bootstrap(spark, root, base))
    assert(IndexMaintenance.refresh(spark, root, base, copies(n - 1 until n), "last"))
    assert(pairSet(IndexMaintenance.pairs(spark, root)) == want)
  }

  test("one pair refresh on a built root launches at most 14 Spark jobs") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val root = freshRoot()
    assert(IndexMaintenance.bootstrap(spark, root, base))
    var applied = false
    val jobs = jobsLaunchedBy {
      applied = IndexMaintenance.refresh(spark, root, base,
        docs.filter(col("doc_id") % 4 === 0), "b1")
    }
    assert(applied && jobs <= 14, s"one pair refresh launched $jobs Spark jobs")
  }

  test("one phash refresh on a built root launches at most 10 Spark jobs") {
    val media = graft.operators.Multimodal.augmentedMedia(spark, sfDir)
    val root = freshRoot()
    assert(IndexMaintenance.refreshPhash(spark, root,
      media.filter(col("doc_id") % 3 =!= 0), "bootstrap"))
    var applied = false
    val jobs = jobsLaunchedBy {
      applied = IndexMaintenance.refreshPhash(spark, root,
        media.filter(col("doc_id") % 3 === 0), "b1")
    }
    assert(applied && jobs <= 10, s"one phash refresh launched $jobs Spark jobs")
  }

  test("labels over the maintained table equal the from-scratch fixpoint") {
    val root = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    IndexMaintenance.bootstrap(spark, root, base)
    IndexMaintenance.refresh(spark, root, base, batch, "b1")
    val got = IndexMaintenance.labels(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.connectedComponents(
        nearDupPairsBrute(docs).select("doc_a", "doc_b"))
      .select("doc_id", "component").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty && got == want)
  }

  test("streaming refresh: two micro-batches converge to the from-scratch build") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val pairsRoot = freshRoot(); val docsRoot = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 > 1)
    graft.operators.IndexMaintenance.bootstrap(spark, pairsRoot, base)
    val b1 = docs.filter(col("doc_id") % 4 === 0)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val b2 = docs.filter(col("doc_id") % 4 === 1)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.pairRefreshStream(
      stream.toDF().toDF("doc_id", "text"), pairsRoot, docsRoot, base)
    try {
      stream.addData(b1.toSeq); q.processAllAvailable()
      stream.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(pairSet(IndexMaintenance.pairs(spark, pairsRoot))
      == pairSet(nearDupPairsBrute(docs)),
      "streamed pair table diverges from the from-scratch build")
    // both micro-batches left their exactly-once record
    assert(IdempotentMergeSink.applied(pairsRoot, "pairs-0"))
    assert(IdempotentMergeSink.applied(pairsRoot, "pairs-1"))
    assert(IdempotentMergeSink.applied(docsRoot, "docs-0"))
    assert(IdempotentMergeSink.applied(docsRoot, "docs-1"))
  }

  test("knn list maintenance: bootstrap + refresh equals the from-scratch mutual-kNN graph") {
    import graft.operators.GraphOps
    val root = freshRoot()
    val nodes = GraphOps.partNodes(spark, sfDir)
    val base = nodes.filter(col("key") % 5 =!= 0)
    val batch = nodes.filter(col("key") % 5 === 0)
    assert(IndexMaintenance.bootstrapKnn(spark, root, base))
    // before the batch, the table equals the base-only build
    def edgeSet(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(IndexMaintenance.knnEdges(spark, root))
      == edgeSet(GraphOps.mutualEdgesOf(knnListsBrute(base))))

    assert(IndexMaintenance.refreshKnn(spark, root, base, batch, "b1"))
    val want = edgeSet(GraphOps.mutualEdgesOf(knnListsBrute(nodes)))
    val got = edgeSet(IndexMaintenance.knnEdges(spark, root))
    assert(want.nonEmpty && got == want,
      s"maintained kNN edges diverge: ${got.size} vs ${want.size}; " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")

    // eviction really happens: the refresh must be able to REMOVE list
    // rows (mutual-kNN is not additive), so some base-only edge or list
    // row must have disappeared or the test corpus proves nothing
    val baseLists = knnListsBrute(base)
    val evicted = baseLists
      .join(IndexMaintenance.knnLists(spark, root), Seq("u", "v"), "left_anti")
    assert(evicted.count() > 0, "batch evicted no list rows — vacuous refresh test")

    // exactly-once + a graph query served from the maintained table
    val v = IdempotentMergeSink.version(root)
    assert(!IndexMaintenance.refreshKnn(spark, root, base, batch, "b1"))
    assert(IdempotentMergeSink.version(root) == v)
    val pr = GraphOps.pagerankOf(IndexMaintenance.knnEdges(spark, root).localCheckpoint())
    assert(pr.count() > 0)
  }

  /** List rows (u, v, diff) of a relation. */
  private def listSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("u", "v", "diff").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The maintained kNN list rows at `root`. */
  private def knnListRows(root: String): Set[(Long, Long, Double)] =
    listSet(IdempotentMergeSink.read(spark, root).get)

  /** The brute-force kNN list rows over `nodes`. */
  private def wantKnnLists(nodes: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    listSet(knnListsBrute(nodes))

  test("knn list table equals the full build's (u, v, diff) after three refreshes, in four price regimes") {
    import graft.operators.GraphOps
    // the sf0.01 sibling of the test data: 2000 parts, dense bands
    val parts = GraphOps.partNodes(spark, s"${new java.io.File(sfDir).getParent}/sf0.01")
    val regimes = Seq(
      "sf0.01 prices" -> col("price"),
      "heavy duplication" -> (col("key") % 13) * 0.25,
      "rounded duplicates" -> round(col("price")),
      "near-distinct" -> (col("price") + col("key") * 1e-7))
    regimes.foreach { case (name, price) =>
      val nodes = parts.select(col("key"), price.cast("double").as("price")).localCheckpoint()
      val slices = (col("key") % 8 < 5) +: (5 to 7).map(c => col("key") % 8 === c)
      val parts4 = slices.map(nodes.filter)
      val root = freshRoot()
      assert(IndexMaintenance.bootstrapKnn(spark, root, parts4.head))
      (1 to 3).foreach { i =>
        assert(IndexMaintenance.refreshKnn(spark, root,
          parts4.take(i).reduce(_ unionByName _), parts4(i), s"b$i"))
      }
      val want = wantKnnLists(nodes)
      val got = knnListRows(root)
      assert(want.nonEmpty && got == want,
        s"$name: ${got.size} vs ${want.size} list rows; " +
          s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("knn refresh edge cases: empty, unreachable and one-node batches; equal diffs keep the smaller key") {
    import spark.implicits._
    import graft.operators.GraphOps
    val nodes = GraphOps.partNodes(spark, sfDir)
    val base = nodes.filter(col("key") % 5 =!= 0).localCheckpoint()
    val root = freshRoot()
    assert(IndexMaintenance.bootstrapKnn(spark, root, base))
    val built = knnListRows(root)
    assert(built == wantKnnLists(base))
    // an empty batch commits a version and changes no list
    assert(IndexMaintenance.refreshKnn(spark, root, base, base.limit(0), "empty"))
    assert(IdempotentMergeSink.version(root) == 2 && knnListRows(root) == built)
    // a batch no base node is within reach of: it gets no list, and no
    // base list changes
    val far = Seq((900000001L, 1.0e6)).toDF("key", "price")
    assert(IndexMaintenance.refreshKnn(spark, root, base, far, "far"))
    assert(knnListRows(root) == built)
    // a one-node batch
    val corpus = base.unionByName(far)
    val one = nodes.filter(col("key") === 5)
    assert(IndexMaintenance.refreshKnn(spark, root, corpus, one, "one"))
    assert(knnListRows(root) == wantKnnLists(corpus.unionByName(one)))

    // node 1's four neighbours all sit at rounded diff 0.1; a batch
    // node at the same rounded diff enters by its smaller key and
    // evicts the largest one, while a larger key stays out
    val tieBase = Seq((1L, 10.0), (20L, 10.1), (30L, 10.1), (40L, 10.1), (50L, 10.1))
      .toDF("key", "price")
    val tieBatch = Seq((25L, 9.9), (60L, 9.9)).toDF("key", "price")
    val tieRoot = freshRoot()
    assert(IndexMaintenance.bootstrapKnn(spark, tieRoot, tieBase))
    assert(IndexMaintenance.refreshKnn(spark, tieRoot, tieBase, tieBatch, "tie"))
    val tied = knnListRows(tieRoot)
    assert(tied.filter(_._1 == 1L).map(_._2) == Set(20L, 25L, 30L, 40L), tied)
    assert(tied == wantKnnLists(tieBase.unionByName(tieBatch)))
  }

  test("one kNN refresh on a built root launches at most 8 Spark jobs") {
    import graft.operators.GraphOps
    val nodes = GraphOps.partNodes(spark, sfDir)
    val base = nodes.filter(col("key") % 5 =!= 0)
    val root = freshRoot()
    assert(IndexMaintenance.bootstrapKnn(spark, root, base))
    var applied = false
    val jobs = jobsLaunchedBy {
      applied = IndexMaintenance.refreshKnn(spark, root, base,
        nodes.filter(col("key") % 5 === 0), "b1")
    }
    assert(applied && jobs <= 8, s"one refreshKnn launched $jobs Spark jobs")
  }

  test("one kNN bootstrap launches at most 4 Spark jobs") {
    import graft.operators.GraphOps
    val root = freshRoot()
    var applied = false
    val jobs = jobsLaunchedBy {
      applied = IndexMaintenance.bootstrapKnn(spark, root, GraphOps.partNodes(spark, sfDir))
    }
    assert(applied && jobs <= 4, s"one bootstrapKnn launched $jobs Spark jobs")
  }

  test("knn bootstrap of an empty base commits version 1; a refresh after it equals brute force") {
    import graft.operators.GraphOps
    val nodes = GraphOps.partNodes(spark, sfDir)
    val root = freshRoot()
    assert(IndexMaintenance.bootstrapKnn(spark, root, nodes.limit(0)))
    assert(IdempotentMergeSink.version(root) == 1 && knnListRows(root).isEmpty)
    assert(IndexMaintenance.refreshKnn(spark, root, nodes.limit(0), nodes, "all"))
    val want = wantKnnLists(nodes)
    assert(want.nonEmpty && knnListRows(root) == want)
  }

  test("knn lists skip null-price nodes: a refresh and a full build equal brute force") {
    import spark.implicits._
    import graft.operators.GraphOps
    val nodes = GraphOps.partNodes(spark, sfDir).localCheckpoint()
    val nullPrice = Seq[(Long, Option[Double])]((900000001L, None)).toDF("key", "price")
    val base = nodes.filter(col("key") % 5 =!= 0)
    val batch = nodes.filter(col("key") % 5 === 0).unionByName(nullPrice)
    val root = freshRoot()
    assert(IndexMaintenance.bootstrapKnn(spark, root, base))
    assert(IndexMaintenance.refreshKnn(spark, root, base, batch, "b1"))
    val all = base.unionByName(batch)
    val want = wantKnnLists(all)
    assert(want.nonEmpty && knnListRows(root) == want)
    assert(listSet(GraphOps.knnLists(all)) == want)
  }

  test("bm25 postings maintenance: inserts + additive df equal from-scratch; scoring reads it") {
    import graft.operators.AnnSearch
    val root = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    assert(IndexMaintenance.bootstrapBm25(spark, root, base))
    assert(IndexMaintenance.refreshBm25(spark, root, batch, "b1"))
    val (tf, df, dl) = IndexMaintenance.bm25(spark, root)
    val wantTf = AnnSearch.bm25Tf(docs).localCheckpoint()
    assert(tf.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      == wantTf.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == wantTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      "additive df counts diverge from the from-scratch term counts")
    // the served scoring leg over the MAINTAINED postings equals the
    // from-scratch leg over the combined corpus
    val wantDl = wantTf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val wantDf = wantTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    def ranked(r: org.apache.spark.sql.DataFrame) =
      r.collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(ranked(AnnSearch.bm25LexRanked(tf, df, dl))
      == ranked(AnnSearch.bm25LexRanked(wantTf, wantDf, wantDl)))
    // exactly-once across all three sub-tables
    assert(!IndexMaintenance.refreshBm25(spark, root, batch, "b1"))
  }

  test("two RACING bm25 refreshers converge to the from-scratch postings") {
    import graft.operators.AnnSearch
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 > 1)
    val b1 = docs.filter(col("doc_id") % 4 === 0)
    val b2 = docs.filter(col("doc_id") % 4 === 1)
    assert(IndexMaintenance.bootstrapBm25(spark, root, base))
    // the lost-update shape the additive merge retires: both refreshers
    // read the bootstrap df, commit concurrently — with the old
    // read-modify-write upsert the CAS loser re-committed absolutes
    // computed against the stale read and dropped the winner's counts
    val results = Await.result(Future.sequence(Seq(
      Future(IndexMaintenance.refreshBm25(spark, root, b1, "race-b1")),
      Future(IndexMaintenance.refreshBm25(spark, root, b2, "race-b2")))),
      5.minutes)
    assert(results == Seq(true, true))
    val (_, df, _) = IndexMaintenance.bm25(spark, root)
    val wantDf = AnnSearch.bm25Tf(docs)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == wantDf.collect().map(r => (r.getString(0), r.getLong(1))).toSet,
      "racing df refreshers lost an increment")
  }

  test("dct phash maintenance: additive fingerprints and pairs equal from-scratch") {
    import graft.operators.Multimodal
    val root = freshRoot()
    val media = Multimodal.augmentedMedia(spark, sfDir)
    val base = media.filter(col("doc_id") % 3 =!= 0)
    val batch = media.filter(col("doc_id") % 3 === 0)
    assert(IndexMaintenance.refreshPhash(spark, root, base, "bootstrap"))
    assert(IndexMaintenance.refreshPhash(spark, root, batch, "b1"))
    def pairSet4(df: org.apache.spark.sql.DataFrame) =
      df.select("modality", "doc_a", "doc_b", "hamming").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = pairSet4(dctPairsBrute(Multimodal.dctFingerprintsOf(media).localCheckpoint()))
    val got = pairSet4(IndexMaintenance.dctPairs(spark, root))
    assert(want.nonEmpty && got == want,
      s"maintained dct pairs diverge: ${got.size} vs ${want.size}")
    // the batch introduced pairs (re-encode variants land in it), so
    // the refresh path is non-vacuous
    assert(pairSet4(IndexMaintenance.dctPairs(spark, root)).size
      > pairSet4(dctPairsBrute(Multimodal.dctFingerprintsOf(base).localCheckpoint())).size)
    // exactly-once
    assert(!IndexMaintenance.refreshPhash(spark, root, batch, "b1"))
  }

  test("a phash refresh retried after only its fingerprint commit landed adds no self-pair") {
    import graft.operators.Multimodal
    val root = freshRoot()
    val media = Multimodal.augmentedMedia(spark, sfDir)
    val batch = media.filter(col("doc_id") % 3 === 0)
    assert(IndexMaintenance.refreshPhash(spark, root,
      media.filter(col("doc_id") % 3 =!= 0), "bootstrap"))
    // the fp sub-table applied b1, the pair sub-table did not
    assert(IdempotentMergeSink.merge(spark, s"$root/fp",
      Multimodal.dctFingerprintsOf(batch), "doc_id", "b1"))
    assert(IndexMaintenance.refreshPhash(spark, root, batch, "b1"))
    val got = IndexMaintenance.dctPairs(spark, root)
    assert(got.filter(col("doc_a") === col("doc_b")).isEmpty, "self-pairs committed")
    assertSame(got, dctPairsBrute(Multimodal.dctFingerprintsOf(media).localCheckpoint()),
      "modality", "doc_a", "doc_b", "hamming")
  }

  test("streaming bm25/knn/phash refresh twins converge to the from-scratch builds") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{AnnSearch, GraphOps, Multimodal}

    // BM25: two micro-batches of new docs over a bootstrapped base
    val bmRoot = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 > 1)
    IndexMaintenance.bootstrapBm25(spark, bmRoot, base)
    val bmStream = MemoryStream[(Long, String)]
    val bmQ = graft.streaming.StreamOps.bm25RefreshStream(
      bmStream.toDF().toDF("doc_id", "text"), bmRoot)
    try {
      bmStream.addData(docs.filter(col("doc_id") % 4 === 0)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      bmQ.processAllAvailable()
      bmStream.addData(docs.filter(col("doc_id") % 4 === 1)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      bmQ.processAllAvailable()
    } finally bmQ.stop()
    val (tf, df, _) = IndexMaintenance.bm25(spark, bmRoot)
    val wantTf = AnnSearch.bm25Tf(docs).localCheckpoint()
    assert(tf.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      == wantTf.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      == wantTf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet)
    assert(IdempotentMergeSink.applied(s"$bmRoot/tf", "bm25-0")
      && IdempotentMergeSink.applied(s"$bmRoot/df", "bm25-1"))

    // kNN: one micro-batch of new nodes
    val listsRoot = freshRoot(); val nodesRoot = freshRoot()
    val nodes = GraphOps.partNodes(spark, sfDir)
    val nodeBase = nodes.filter(col("key") % 5 =!= 0)
    IndexMaintenance.bootstrapKnn(spark, listsRoot, nodeBase)
    val knStream = MemoryStream[(Long, Double)]
    val knQ = graft.streaming.StreamOps.knnRefreshStream(
      knStream.toDF().toDF("key", "price"), listsRoot, nodesRoot, nodeBase)
    try {
      knStream.addData(nodes.filter(col("key") % 5 === 0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      knQ.processAllAvailable()
    } finally knQ.stop()
    val gotEdges = IndexMaintenance.knnEdges(spark, listsRoot)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantEdges = GraphOps.mutualEdgesOf(knnListsBrute(nodes))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wantEdges.nonEmpty && gotEdges == wantEdges)

    // phash: one micro-batch of media rows
    val phRoot = freshRoot()
    val media = Multimodal.augmentedMedia(spark, sfDir)
    val mBase = media.filter(col("doc_id") % 3 =!= 0)
    IndexMaintenance.refreshPhash(spark, phRoot, mBase, "bootstrap")
    val phStream = MemoryStream[(Long, Array[Byte], String)]
    val phQ = graft.streaming.StreamOps.phashRefreshStream(
      phStream.toDF().toDF("doc_id", "payload", "modality"), phRoot)
    try {
      phStream.addData(media.filter(col("doc_id") % 3 === 0)
        .collect().map(m => (m.doc_id, m.payload, m.modality)).toSeq)
      phQ.processAllAvailable()
    } finally phQ.stop()
    val gotPairs = IndexMaintenance.dctPairs(spark, phRoot)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val wantPairs = dctPairsBrute(Multimodal.dctFingerprintsOf(media).localCheckpoint())
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(wantPairs.nonEmpty && gotPairs == wantPairs)
  }

  test("span gram maintenance: inserts + additive df equal from-scratch; cap crossing retracts pairs") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    def spanSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

    // real corpus: bootstrap on 3/4, refresh the rest, equals from-scratch
    val root = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    assert(IndexMaintenance.refreshSpans(spark, root, base, "bootstrap"))
    assert(spanSet(IndexMaintenance.exactSpans(spark, root))
      == spanSet(TextAnalysis.exactSpansOver(base)))
    assert(IndexMaintenance.refreshSpans(spark, root, batch, "b1"))
    val scratch = spanSet(TextAnalysis.exactSpansOver(docs))
    assert(scratch.nonEmpty)
    assert(spanSet(IndexMaintenance.exactSpans(spark, root)) == scratch,
      "maintained span extraction diverges from the from-scratch build")
    // exactly-once: the retried batch changes nothing
    assert(!IndexMaintenance.refreshSpans(spark, root, batch, "b1"))
    assert(spanSet(IndexMaintenance.exactSpans(spark, root)) == scratch)

    // cap crossing: a phrase in 49 base docs is under the df cap and
    // pairs freely; a 2-doc batch pushes its df to 51 — the maintained
    // df retroactively disqualifies the gram and ALL its pairs vanish
    // (the non-additive case that forces recompute-over-maintained)
    val root2 = freshRoot()
    val boiler = "c1 c2 c3 c4 c5"
    val base2 = (1L to 49L).map(i => (i, s"x$i $boiler y$i")).toDF("doc_id", "text")
    val batch2 = Seq((50L, s"x50 $boiler y50"), (51L, s"x51 $boiler y51"))
      .toDF("doc_id", "text")
    assert(IndexMaintenance.refreshSpans(spark, root2, base2, "bootstrap"))
    assert(IndexMaintenance.exactSpans(spark, root2).count() == 49L * 48 / 2)
    assert(IndexMaintenance.refreshSpans(spark, root2, batch2, "cap"))
    assert(IndexMaintenance.exactSpans(spark, root2).count() == 0,
      "over-cap boilerplate pairs survived the df crossing")
    assert(spanSet(IndexMaintenance.exactSpans(spark, root2))
      == spanSet(TextAnalysis.exactSpansOver(base2.union(batch2))))
  }

  test("streaming span refresh twin converges to the from-scratch extraction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TextAnalysis

    val root = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 > 1)
    IndexMaintenance.refreshSpans(spark, root, base, "bootstrap")
    val st = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.spanRefreshStream(
      st.toDF().toDF("doc_id", "text"), root)
    try {
      st.addData(docs.filter(col("doc_id") % 4 === 0)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      q.processAllAvailable()
      st.addData(docs.filter(col("doc_id") % 4 === 1)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = IndexMaintenance.exactSpans(spark, root).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val want = TextAnalysis.exactSpansOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(want.nonEmpty && got == want)
    assert(IdempotentMergeSink.applied(s"$root/grams", "spans-0")
      && IdempotentMergeSink.applied(s"$root/gdf", "spans-1"))
  }

  test("a second batch composes: two refreshes equal one combined build") {
    val root = freshRoot()
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 > 1)       // ids 2,3 mod 4
    val b1 = docs.filter(col("doc_id") % 4 === 0)
    val b2 = docs.filter(col("doc_id") % 4 === 1)
    IndexMaintenance.bootstrap(spark, root, base)
    assert(IndexMaintenance.refresh(spark, root, base, b1, "b1"))
    // the second batch probes base ∪ b1 — the already-ingested corpus
    assert(IndexMaintenance.refresh(spark, root, base.union(b1), b2, "b2"))
    assert(pairSet(IndexMaintenance.pairs(spark, root))
      == pairSet(nearDupPairsBrute(docs)))
  }

  test("pair and kNN refreshes of an empty index throw before any commit") {
    import graft.operators.GraphOps
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val root = freshRoot()
    val e = intercept[IllegalStateException](IndexMaintenance.refresh(spark, root,
      docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0), "b1"))
    assert(e.getMessage.contains("run bootstrap first"), e.getMessage)
    assert(IdempotentMergeSink.version(root) == 0)

    val nodes = GraphOps.partNodes(spark, sfDir)
    val knnRoot = freshRoot()
    val k = intercept[IllegalStateException](IndexMaintenance.refreshKnn(spark, knnRoot,
      nodes.filter(col("key") % 5 =!= 0), nodes.filter(col("key") % 5 === 0), "b1"))
    assert(k.getMessage.contains("run bootstrapKnn first"), k.getMessage)
    assert(IdempotentMergeSink.version(knnRoot) == 0)
  }

  test("a refresh of an empty bm25, span or phash index is its from-scratch build, committed as bases") {
    import graft.operators.{Multimodal, TextAnalysis}
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")

    val bm = freshRoot()
    assert(IndexMaintenance.refreshBm25(spark, bm, docs, "b0"))
    Seq("tf", "df", "dl").foreach(t => assertOneBase(s"$bm/$t"))
    val (tf, df, dl) = IndexMaintenance.bm25(spark, bm)
    val (wantTf, wantDf, wantDl) = wantBm25(docs)
    assertSame(tf, wantTf, "doc_id", "term", "tf")
    assertSame(df, wantDf, "term", "df")
    assertSame(dl, wantDl, "doc_id", "dl")

    val sp = freshRoot()
    assert(IndexMaintenance.refreshSpans(spark, sp, docs, "b0"))
    Seq("grams", "gdf").foreach(t => assertOneBase(s"$sp/$t"))
    assertSame(IndexMaintenance.spanGrams(spark, sp),
      TextAnalysis.spanGramsOver(docs), "doc_id", "pos", "g")
    assertSame(IndexMaintenance.spanGramDf(spark, sp), wantGramDf(docs), "g", "gdf")
    assertSame(IndexMaintenance.exactSpans(spark, sp), TextAnalysis.exactSpansOver(docs),
      "doc_a", "doc_b", "start_a", "start_b", "span_len")

    val ph = freshRoot()
    val media = Multimodal.augmentedMedia(spark, sfDir)
    assert(IndexMaintenance.refreshPhash(spark, ph, media, "b0"))
    Seq("fp", "pairs").foreach(t => assertOneBase(s"$ph/$t"))
    val fp = Multimodal.dctFingerprintsOf(media).localCheckpoint()
    assertSame(IdempotentMergeSink.read(spark, s"$ph/fp").get, fp,
      "doc_id", "modality", "phash64")
    assertSame(IndexMaintenance.dctPairs(spark, ph), dctPairsBrute(fp),
      "modality", "doc_a", "doc_b", "hamming")
  }

  test("two racing first batches of an empty bm25 or span index converge to the from-scratch df") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)

    val bm = freshRoot()
    assert(race(IndexMaintenance.refreshBm25(spark, bm, b1, "race-b1"),
      IndexMaintenance.refreshBm25(spark, bm, b2, "race-b2")) == Seq(true, true))
    val (tf, df, dl) = IndexMaintenance.bm25(spark, bm)
    val (wantTf, wantDf, wantDl) = wantBm25(docs)
    assertSame(df, wantDf, "term", "df")
    assertSame(tf, wantTf, "doc_id", "term", "tf")
    assertSame(dl, wantDl, "doc_id", "dl")

    val sp = freshRoot()
    assert(race(IndexMaintenance.refreshSpans(spark, sp, b1, "race-b1"),
      IndexMaintenance.refreshSpans(spark, sp, b2, "race-b2")) == Seq(true, true))
    assertSame(IndexMaintenance.spanGramDf(spark, sp), wantGramDf(docs), "g", "gdf")
  }

  test("a bm25 refresh whose dl commit fails keeps its sibling commits; the retry applies only dl") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val root = freshRoot()
    // a plain file where the dl sub-table's root directory belongs
    val obstacle = java.nio.file.Paths.get(root, "dl")
    Files.write(obstacle, Array[Byte](1))
    intercept[Exception](IndexMaintenance.refreshBm25(spark, root, docs, "b0"))
    assert(IdempotentMergeSink.version(s"$root/tf") == 1)
    assert(IdempotentMergeSink.version(s"$root/df") == 1)
    assert(IdempotentMergeSink.version(s"$root/dl") == 0)

    Files.delete(obstacle)
    assert(IndexMaintenance.refreshBm25(spark, root, docs, "b0"))
    Seq("tf", "df", "dl").foreach(t => assertOneBase(s"$root/$t"))
    val (tf, df, dl) = IndexMaintenance.bm25(spark, root)
    val (wantTf, wantDf, wantDl) = wantBm25(docs)
    assertSame(tf, wantTf, "doc_id", "term", "tf")
    assertSame(df, wantDf, "term", "df")
    assertSame(dl, wantDl, "doc_id", "dl")
  }
}
