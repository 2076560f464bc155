package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver that collects bench output retains only its last ~2000
  * characters and parses the JSON summary line from that tail. Rounds
  * 1-3 shipped a line with every per-query timing at full double
  * precision (~4KB) — truncated mid-line, never parsed, no bench
  * signal for three rounds. This spec pins the contract: the summary
  * line must stay far enough under the capture window to survive
  * trailing sbt chatter, for the CURRENT query set and worst-case
  * timing widths.
  */
class BenchLineSpec extends AnyFunSuite {

  // worst-case widths: every registered query present, 4-digit seconds
  private val worstCase: Map[String, Double] =
    SparkEntry.queries.keys.map(_ -> 9999.999).toMap

  test("summary line stays under the driver's 2000-char capture window") {
    val line = Bench.summaryLine(worstCase, "/root/testdata/sf0.1")
    // leave ≥300 chars of headroom for the '[info] ' prefix and the
    // '[success] Total time …' line that share the captured tail
    assert(line.length <= 1700, s"summary line ${line.length} chars:\n$line")
  }

  test("summary line is valid JSON-shaped (balanced braces, no raw doubles)") {
    val line = Bench.summaryLine(worstCase, "/tmp/x")
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.startsWith("""{"metric":"total","value":"""))
    // 3-dp formatting everywhere — a raw double's 15+ digits would
    // blow the budget as the query set grows
    assert(!line.matches(""".*\d\.\d{4,}.*"""), "unformatted double on the line")
  }

  test("every headline query still exists in the registry") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"stale headline entries: $missing")
  }

  test("byteMovers flags >1.5x growth above the floor, ignores jitter below it") {
    val mb = 1L << 20
    val base = Map(
      "big_regressed"  -> (40 * mb, 20 * mb),
      "big_flat"       -> (50 * mb, 50 * mb),
      "tiny_jittery"   -> (100L, 50L),
      "was_zero"       -> (0L, 0L),
      "shrunk"         -> (90 * mb, 10 * mb))
    val cur = Map(
      "big_regressed"  -> (70 * mb, 50 * mb),   // 2.0x — flagged
      "big_flat"       -> (55 * mb, 52 * mb),   // 1.07x — not flagged
      "tiny_jittery"   -> (5000L, 2000L),       // 46x but KBs — below floor
      "was_zero"       -> (8 * mb, 0L),         // 0 -> 8MB — flagged (inf)
      "shrunk"         -> (10 * mb, 10 * mb),   // improvement — not flagged
      "new_query"      -> (999 * mb, 0L))       // no baseline — not comparable
    val flagged = Bench.byteMovers(cur, base).map(_._1)
    assert(flagged == Seq("was_zero", "big_regressed"), s"got $flagged")
  }

  test("baseline bytes round-trip through the full-line artifact format") {
    val shuffle = Map("qa" -> (123L, 456L), "qb" -> (0L, 7L))
    val line = Bench.fullLine(Map("qa" -> 1.0, "qb" -> 2.0), "/tmp/x", shuffle)
    val f = java.nio.file.Files.createTempFile("bench", ".json")
    java.nio.file.Files.writeString(f, line)
    try assert(Bench.loadBaselineBytes(f.toString) == shuffle)
    finally java.nio.file.Files.delete(f)
    // unreadable path degrades to empty, never throws
    assert(Bench.loadBaselineBytes("/nonexistent/x.json").isEmpty)
  }

  test("full line carries byte_ratio and byte_movers when a baseline is supplied") {
    val mb = 1L << 20
    val shuffle = Map("qa" -> (20 * mb, 20 * mb))
    val base = Map("qa" -> (10 * mb, 10 * mb))
    val line = Bench.fullLine(Map("qa" -> 1.0), "/tmp/x", shuffle, base)
    assert(line.contains(""""byte_ratio":{"qa":2.000}"""), line)
    assert(line.contains(""""byte_movers":[{"q":"qa","ratio":2.000"""), line)
    // committed-artifact compatibility: no baseline, no new keys
    val plain = Bench.fullLine(Map("qa" -> 1.0), "/tmp/x", shuffle)
    assert(!plain.contains("byte_ratio") && !plain.contains("byte_movers"))
  }

  test("zero-baseline mover stays finite JSON, never bare Infinity") {
    val mb = 1L << 20
    val shuffle = Map("qz" -> (8 * mb, 0L))
    val base = Map("qz" -> (0L, 0L))
    val line = Bench.fullLine(Map("qz" -> 1.0), "/tmp/x", shuffle, base,
      Some("deadbeef"))
    assert(!line.contains("Infinity"), line)
    // a zero-baseline mover serializes ratio as null — a DISTINCT
    // condition a genuine huge-ratio mover can never alias (the
    // ZeroBaseRatio sentinel stays internal, for sorting only)
    assert(line.contains(s""""byte_movers":[{"q":"qz","ratio":null"""), line)
    assert(line.contains(""""base":0}"""), line)
    assert(line.contains(""""baseline_commit":"deadbeef""""), line)
    // still brace-balanced (parseable-shaped) with the mover present
    assert(line.count(_ == '{') == line.count(_ == '}'))
    // a real mover with a tiny-but-nonzero baseline whose true ratio
    // exceeds the sentinel keeps its REAL ratio, not null
    val tiny = Bench.fullLine(Map("qt" -> 1.0), "/tmp/x",
      Map("qt" -> (80000L * mb, 0L)), Map("qt" -> (4L * mb, 0L)))
    assert(tiny.contains(""""byte_movers":[{"q":"qt","ratio":20000.000"""), tiny)
  }

  test("byte gate diffs against the COMMITTED artifact, rejecting the in-flight working-tree copy") {
    import scala.sys.process._
    val dir = java.nio.file.Files.createTempDirectory("benchrepo").toFile
    def git(args: String*): Unit = {
      val quiet = ProcessLogger(_ => (), _ => ())
      assert(Process("git" +: args.toSeq, dir).!(quiet) == 0, s"git $args failed")
    }
    try {
      git("init", "-q")
      git("-c", "user.email=t@t", "-c", "user.name=t", "commit", "-q",
        "--allow-empty", "-m", "root")
      val committed = Map("qa" -> (100L, 200L))
      java.nio.file.Files.writeString(dir.toPath.resolve("BENCH_FULL.json"),
        Bench.fullLine(Map("qa" -> 1.0), "/tmp/x", committed))
      git("add", "BENCH_FULL.json")
      git("-c", "user.email=t@t", "-c", "user.name=t", "commit", "-q",
        "-m", "quiet run")
      // a quiet refresh overwrites the WORKING TREE with its own bytes —
      // the r11 self-diff. The loader must keep returning the committed
      // bytes, with the committing hash as provenance.
      val inflight = Map("qa" -> (999L, 999L))
      java.nio.file.Files.writeString(dir.toPath.resolve("BENCH_FULL.json"),
        Bench.fullLine(Map("qa" -> 1.0), "/tmp/x", inflight))
      val (ref, bytes) = Bench.loadCommittedBaseline(dir.getAbsolutePath)
      assert(bytes == committed, s"working-tree copy leaked into the baseline: $bytes")
      val head = Process(Seq("git", "rev-parse", "HEAD"), dir).!!.trim
      assert(ref == head, s"provenance $ref != committing hash $head")
      // no committed artifact at all → no baseline, never a throw
      val none = Bench.loadCommittedBaseline("/nonexistent")
      assert(none == ("none", Map.empty))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("a throwing body is counted as a failure and its time never reaches the median") {
    val spark = SparkTestBase.session
    var n = 0
    val runs = Harness.repeat(spark, "planted_failure", 3) {
      n += 1
      // the failed run is the slowest: its time would BE the median of
      // the three if it were kept
      if (n == 2) { Thread.sleep(200); throw new RuntimeException("planted") }
    }
    assert(runs.all.map(_.failed) == Seq(false, true, false))
    assert(runs.errors == 1)
    assert(runs.median.isEmpty && runs.json == "null")
    assert(runs.all(1).json == "null")
    // the same body without the throw has a median
    val ok = Harness.repeat(spark, "no_failure", 3)(())
    assert(ok.errors == 0 && ok.median.exists(_ < 0.2))
  }
}
