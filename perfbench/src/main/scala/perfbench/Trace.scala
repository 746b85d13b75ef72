package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock milliseconds with sub-millisecond digits: the epoch time
  * at start-up advanced by the monotonic clock.
  */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = epochMs + (System.nanoTime() - baseNs) / 1e6
}

/** Commit timestamps of streaming progress events. This is the one
  * listener an untraced run carries: it stamps the wall-clock time at
  * which each micro-batch's progress (posted after the epoch commit)
  * becomes visible, and keeps the progress object for the phase split.
  */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[(Double, StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add((Clock.nowMs, e.progress)): Unit
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def snapshot: Seq[(Double, StreamingQueryProgress)] =
    events.asScala.toSeq
  def clear(): Unit = events.clear()
}

/** Layer tracing for the traced run: Spark task metrics, the duration of
  * every query execution that writes files, and named spans the
  * benchmark records around each call into a layer. Nothing here is
  * registered in an untraced run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val origin = System.nanoTime()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Id of the innermost span open on this thread, if any. */
  def current: Option[Long] = open.get.headOption

  /** Time `body` as a span of `layer`; its parent is `parent`, or else
    * the innermost span open on this thread.
    */
  def span[T](layer: String, name: String, parent: Option[Long] = None)(body: => T): T = {
    val id = ids.incrementAndGet()
    val up = parent.orElse(current)
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      open.set(open.get.tail)
      spans.add(Span(id, up, layer, name, (t0 - origin) / 1e6,
        (System.nanoTime() - t0) / 1e6)): Unit
    }
  }

  def spanList: Seq[Span] = spans.asScala.toSeq

  // Spark runtime: task metrics summed over the traced window
  val jobs, tasks, runMs, cpuNs, gcMs, shuffleBytes = new AtomicLong
  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.incrementAndGet()
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
  }

  // relay sink: durations of the query executions that write rows to
  // files (a no-data micro-batch writes none)
  private val writes = new ConcurrentLinkedQueue[Double]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val rows = Tracer.nodes(qe.executedPlan).filter(n => Tracer.isWriteNode(n.nodeName))
        .flatMap(_.metrics.get("numOutputRows")).map(_.value)
      if (rows.exists(_ > 0)) writes.add(durationNs / 1e6): Unit
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def writeList: Seq[Double] = writes.asScala.toSeq

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(taskListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(taskListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  final case class Span(id: Long, parent: Option[Long], layer: String, name: String,
      startMs: Double, durMs: Double)

  /** Every physical node of an executed plan, descending into adaptive
    * plans, query stages, reused exchanges and subqueries.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** A file write, as the relay's parquet sink plans it. */
  def isWriteNode(name: String): Boolean =
    name.contains("InsertIntoHadoopFsRelation") || name.contains("WriteFiles")
}
