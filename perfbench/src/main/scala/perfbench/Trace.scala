package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by spans and Spark events: epoch milliseconds with
  * sub-millisecond resolution, anchored once so spans never jump.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed region of the benchmark's own code. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    module: String, startMs: Double, var endMs: Double, var ok: Boolean)

/** Span recorder for the single client thread. When disabled it only
  * times; when enabled it keeps every span in memory until the run ends.
  */
final class Tracer {
  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val stack = mutable.Stack[Long]()
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Runs `body` inside a span and returns its result and wall seconds.
    * A throwing body still closes its span (marked not ok) and rethrows.
    */
  def timed[A](kind: String, name: String, module: String = "")(body: => A): (A, Double) = {
    val t0 = Clock.nowMs
    val span = if (enabled) {
      val s = Span(ids.incrementAndGet(), stack.headOption.getOrElse(0L), kind, name,
        module, t0, t0, ok = false)
      spans += s
      stack.push(s.id)
      Some(s)
    } else None
    try {
      val out = body
      val t1 = Clock.nowMs
      span.foreach { s => s.endMs = t1; s.ok = true }
      (out, (t1 - t0) / 1e3)
    } catch {
      case e: Throwable =>
        span.foreach(_.endMs = Clock.nowMs)
        throw e
    } finally span.foreach(_ => stack.pop())
  }
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
final case class StageRec(id: Int, attempt: Int, tasks: Int, submitMs: Long, doneMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long,
    spill: Long, inBytes: Long, inRows: Long)
final case class QueryRec(analysisMs: Long, optimizationMs: Long,
    planningMs: Long, exchanges: Int, broadcasts: Int)

/** Spark-side observation through listeners the benchmark registers
  * itself: jobs, stages with their task metrics, RDD block stores (the
  * local-checkpoint blocks) and per-query Catalyst phases and plan shape.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  val blockCount = new AtomicLong(0)
  val blockBytes = new AtomicLong(0)

  /** Starts observing; events recorded earlier are kept. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stops observing once every event posted so far is delivered. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Blocks until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = JobRec(e.jobId, e.time, -1L, e.stageIds)
    openJobs.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach { j => j.endMs = e.time; jobs.add(j) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.stageId, i.attemptNumber(), i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) {
      blockCount.incrementAndGet()
      blockBytes.addAndGet(b.memSize + b.diskSize)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def phase(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
    val nodes = SparkProbe.planNodes(qe.executedPlan).toSeq
    queries.add(QueryRec(phase("analysis"), phase("optimization"),
      phase("planning"),
      nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      nodes.count(_.isInstanceOf[BroadcastExchangeLike])))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe {
  /** Every node of the final physical plan, through adaptive wrappers,
    * query stages and subqueries.
    */
  def planNodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => Iterator(other) ++
      other.children.iterator.flatMap(planNodes) ++
      other.subqueries.iterator.flatMap(planNodes)
  }
}
