package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload and writes its raw
  * record (samples, counts, spans, Spark events) as JSON. `run.py`
  * checks outputs, derives the metrics and prints the result.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <runDir> <cores>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, runDir, coresS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val loadStart = loadAvg()
    val cpuStart = cpuTimes()
    val tsMs = System.currentTimeMillis()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(runDir, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Clock.nowMs - jvmStartMs) / 1e3

    val tracer = new Tracer
    val rec = new Record(tracer)
    val c = Ctx(spark, runDir, dataDir, tracer, rec)
    val wl = Workload(workload)

    val heap = scala.collection.mutable.ArrayBuffer.empty[Double]
    // the live set, taken after setup and after the loop only, so no GC
    // pause falls inside the timed window: a full GC, a pause for Spark's
    // cleaner to drop the blocks of RDDs the first GC found unreachable,
    // and a second GC
    def sampleHeap(): Unit = {
      System.gc()
      Thread.sleep(100)
      System.gc()
      heap += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    val t0 = Clock.nowMs
    wl.setup(c)
    val workS = (Clock.nowMs - t0) / 1e3
    sampleHeap()

    // timed loop: with tracing, every other round of iterations is
    // traced, so the run also reports the tracing overhead against its
    // untraced neighbours, free of the JIT's warm-up trend
    val probe = new SparkProbe(spark)
    val loopStart = Clock.nowMs
    val deadline = loopStart + seconds * 1e3
    var i = 0
    var tracedIters = 0
    var iterating = true
    // whole rounds only, so every kind weighs the same and the heap is
    // sampled after the same kind of iteration; a traced run always gets
    // at least one traced round
    def more = i == 0 || i % wl.roundSize != 0 || Clock.nowMs < deadline ||
      (traced && tracedIters == 0)
    while (iterating && more) {
      val traceThis = traced && (i / wl.roundSize) % 2 == 1
      if (traceThis) { probe.attach(); tracer.enabled = true; tracedIters += 1 }
      val before = rec.attempted
      val (r, _) = tracer.timed("iteration", s"i$i")(wl.iterate(c, i))
      if (traceThis) { probe.detach(); tracer.enabled = false }
      if (r.isEmpty && rec.attempted == before) iterating = false // stream exhausted
      r.foreach(rec.add("iter", _))
      i += 1
    }
    val loopEnd = Clock.nowMs
    sampleHeap()
    val t1 = Clock.nowMs
    wl.finish(c)
    val finishS = (Clock.nowMs - t1) / 1e3

    val out = new Json
    out.obj {
      out.field("workload", workload); out.field("seed", seed); out.field("traced", traced)
      out.field("cores", cores)
      out.key("setup"); out.obj {
        out.field("jvm_start_ms", jvmStartMs)
        out.field("session_s", sessionS)
        out.field("work_s", workS)
      }
      out.field("finish_s", finishS)
      out.field("loop_start_ms", loopStart); out.field("loop_end_ms", loopEnd)
      out.field("attempted", rec.attempted); out.field("failed", rec.failed)
      out.key("errors"); out.arr(rec.errors.map(e => () => out.str(e)))
      out.key("samples"); out.obj {
        rec.samples.foreach { case (k, v) => out.key(k); out.arr(v.map(d => () => out.num(d))) }
      }
      out.key("heap_mb"); out.arr(heap.map(d => () => out.num(d)))
      out.key("figures"); out.obj { rec.figures.foreach { case (k, v) => out.field(k, v) } }
      out.key("outputs"); out.obj { rec.outputs.foreach { case (k, v) => out.field(k, v) } }
      out.key("oracle_sql"); out.obj {
        rec.outputs.keys.foreach(k => graft.SparkEntry.oracleSql.get(k).foreach(s => out.field(k, s)))
      }
      out.key("checks"); out.obj {
        rec.checks.foreach { case (k, (ok, d)) =>
          out.key(k); out.obj { out.field("ok", ok); out.field("detail", d) }
        }
      }
      out.key("trace"); out.obj {
        out.key("spans"); out.arr(tracer.spans.map(s => () => out.obj {
          out.field("id", s.id); out.field("parent", s.parent); out.field("kind", s.kind)
          out.field("name", s.name); out.field("module", s.module)
          out.field("start", s.startMs); out.field("end", s.endMs); out.field("ok", s.ok)
        }))
        out.key("jobs"); out.arr(probe.jobs.asScala.toSeq.sortBy(_.id).map(j => () => out.obj {
          out.field("id", j.id); out.field("start", j.startMs); out.field("end", j.endMs)
          out.key("stages"); out.arr(j.stages.map(s => () => out.num(s)))
        }))
        out.key("stages"); out.arr(probe.stages.asScala.toSeq.map(s => () => out.obj {
          out.field("id", s.id); out.field("attempt", s.attempt); out.field("tasks", s.tasks)
          out.field("submit", s.submitMs); out.field("done", s.doneMs)
          out.field("run_ms", s.runMs); out.field("cpu_ns", s.cpuNs); out.field("gc_ms", s.gcMs)
          out.field("shuffle_write", s.shWrite); out.field("shuffle_read", s.shRead)
          out.field("fetch_wait_ms", s.fetchWaitMs); out.field("spill", s.spill)
          out.field("input_bytes", s.inBytes); out.field("input_rows", s.inRows)
        }))
        out.key("queries"); out.arr(probe.queries.asScala.toSeq.map(q => () => out.obj {
          out.field("analysis_ms", q.analysisMs)
          out.field("optimization_ms", q.optimizationMs); out.field("planning_ms", q.planningMs)
          out.field("exchanges", q.exchanges); out.field("broadcasts", q.broadcasts)
        }))
        out.field("ckpt_count", probe.blockCount.get()); out.field("ckpt_bytes", probe.blockBytes.get())
      }
      out.key("provenance"); out.obj {
        out.field("load_start", loadStart); out.field("load_end", loadAvg())
        // share of the machine's CPU time the hypervisor took for others
        val cpuEnd = cpuTimes()
        val dt = cpuEnd.zip(cpuStart).map { case (a, b) => a - b }
        out.field("steal_ratio", if (dt.length > 7 && dt.sum > 0) dt(7).toDouble / dt.sum else Double.NaN)
        out.field("nproc", cores); out.field("ts_ms", tsMs)
      }
    }
    spark.stop()
    val w = new PrintWriter(new File(runDir, "record.json"), "UTF-8")
    try w.print(out.result) finally w.close()
  }

  /** The aggregate `cpu` line of /proc/stat, in ticks (empty when unreadable). */
  def cpuTimes(): Array[Long] =
    try firstLine("/proc/stat").split("\\s+").drop(1).map(_.toLong)
    catch { case _: Exception => Array.empty }

  def loadAvg(): Double =
    try firstLine("/proc/loadavg").split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  private def firstLine(path: String): String =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).get(0)
}

/** A minimal streaming JSON writer (no library on the classpath is
  * guaranteed stable across Spark builds).
  */
final class Json {
  private val sb = new StringBuilder
  private var first = true

  private def sep(): Unit = { if (!first) sb += ','; first = false }
  def key(k: String): Unit = { sep(); quote(k); sb += ':'; first = true }
  def obj(body: => Unit): Unit = {
    if (!first) sb += ','
    sb += '{'; first = true; body; sb += '}'; first = false
  }
  def arr(items: Iterable[() => Unit]): Unit = {
    if (!first) sb += ','
    sb += '['; first = true
    items.foreach(f => f())
    sb += ']'; first = false
  }
  def num(d: Double): Unit = { sep(); sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString) }
  def num(l: Long): Unit = { sep(); sb ++= l.toString }
  def str(s: String): Unit = { sep(); quote(s) }
  def field(k: String, v: String): Unit = { key(k); str(v) }
  def field(k: String, v: Double): Unit = { key(k); num(v) }
  def field(k: String, v: Long): Unit = { key(k); num(v) }
  def field(k: String, v: Int): Unit = { key(k); num(v.toLong) }
  def field(k: String, v: Boolean): Unit = { key(k); sep(); sb ++= v.toString }
  private def quote(s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
      case ch => sb += ch
    }
    sb += '"'
  }
  def result: String = sb.toString
}
