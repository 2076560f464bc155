package graft

import graft.operators.{AnnSearch, CorpusOps, Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.functions._

/** The text families' one tokenizer and one window builder: each
  * windowed relation splits its text once, and no relation breaks on a
  * document shorter than its window.
  */
class TextWindowsSpec extends SparkTestBase {

  /** Every windowed relation over a (doc_id, text) relation. */
  private def relations(docs: DataFrame): Seq[(String, DataFrame)] = Seq(
    "shingles" -> Dedup.shinglesOf(docs),
    "grams" -> CorpusOps.grams(docs, CorpusOps.ContamN),
    "span grams" -> TextAnalysis.spanGramsOver(docs),
    "winnow selections" -> TextAnalysis.winnowSelections(docs),
    "bigram pairs" -> TextAnalysis.bigramPairs(docs),
    "bpe pairs" -> TextAnalysis.bpePairs(docs.select(lit(1L).as("n"), col("text").as("seq"))),
    "bm25 tf" -> AnnSearch.bm25Tf(docs))

  test("each windowed relation splits its text once in the optimized plan") {
    // parquet-backed, so the optimizer cannot fold the projections away
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    relations(docs).foreach { case (name, df) =>
      val splits = df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
        p.expressions.map(_.collect { case s: StringSplit => s }.size).sum
      }.sum
      assert(splits == 1, s"$name: $splits StringSplit expressions, want 1")
    }
  }

  private val texts = Seq("", "a", "a b", "a b c d e")
  private def docs: DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }
  /** The words of `t` as Spark's tokenizer yields them ("" is one word). */
  private def wordsOf(t: String): Seq[String] = t.trim.split("\\s+", -1).toSeq
  /** Every (doc_id, 1-based start, window) of `n` words — plain Scala. */
  private def windowsRef(n: Int): Seq[(Long, Int, Seq[String])] =
    texts.zipWithIndex.flatMap { case (t, d) =>
      val ws = wordsOf(t)
      if (ws.size < n) Nil
      else ws.sliding(n).zipWithIndex.map { case (w, i) => (d.toLong, i + 1, w) }
    }

  test("the window builder equals a plain sliding window on degenerate documents") {
    for (n <- 1 to 6) {
      val got = docs.select(col("doc_id"), TextAnalysis.words(col("text")).as("t"))
        .select(col("doc_id"), explode(TextAnalysis.windows("t", n)((i, ws) =>
          s"struct($i AS pos, array(${ws.mkString(", ")}) AS ws)")).as("w"))
        .select("doc_id", "w.pos", "w.ws").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[String](2))).toSeq
      assert(got.sortBy(_.toString) == windowsRef(n).sortBy(_.toString), s"n = $n")
    }
  }

  test("every windowed relation runs on degenerate documents and keeps its windows") {
    val rows = relations(docs).map { case (name, df) =>
      name -> df.collect().map(_.toSeq.toList).toList
    }.toMap
    def joined(n: Int) = windowsRef(n).map { case (d, i, w) => (d, i, w.mkString(" ")) }
    val Span = TextAnalysis.SpanGram
    assert(rows("shingles").toSet == joined(2).map { case (d, _, g) => List(d, g) }.toSet)
    assert(rows("grams").toSet ==
      joined(CorpusOps.ContamN).map { case (d, _, g) => List(d, g) }.toSet)
    assert(rows("span grams").sortBy(_.toString) ==
      joined(Span).map { case (d, i, g) => List(d, i, g) }.sortBy(_.toString))
    // 3 trigrams fill no 4-gram winnowing window
    assert(rows("winnow selections").isEmpty)
    assert(rows("bigram pairs").sortBy(_.toString) ==
      windowsRef(2).map { case (d, _, w) => List(d, w(0), w(1)) }.sortBy(_.toString))
    assert(rows("bpe pairs").toSet == windowsRef(2).groupBy(_._3)
      .map { case (w, occ) => List(w(0), w(1), occ.size.toLong) }.toSet)
    assert(rows("bm25 tf").toSet == texts.zipWithIndex.flatMap { case (t, d) =>
      wordsOf(t).filter(_.nonEmpty).groupBy(identity)
        .map { case (w, occ) => List(d.toLong, w, occ.size.toLong) } }.toSet)
  }
}
