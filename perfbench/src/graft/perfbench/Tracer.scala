package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBusDrain

/** One timed region: `parent` is the enclosing span's index (-1 at the
  * root), `op` the index of the operation it belongs to. */
final case class Span(name: String, start: Long, var end: Long, parent: Int, op: Int)

/** Process-wide counters read from outside Spark: GC MXBeans, process CPU,
  * codegen totals. */
object JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def cpuNanos: Long = os.getProcessCpuTime
  def gcMillis: Long = gcs.map(_.getCollectionTime).sum
  def gcCount: Long = gcs.map(_.getCollectionCount).sum
  def codegenNanos: Long = CodeGenerator.compileTime
  def codegenClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Heap occupancy right after each collection the JVM makes on its own,
  * read from the collectors' notifications (delivered on a JMX thread). */
object HeapAfterGc extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
    .map(_.getName)
    .toSet
  private val peak = new AtomicLong(0L)
  private val count = new AtomicLong(0L)

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, usage) if heapPools(pool) => usage.getUsed
      }.sum
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      count.incrementAndGet()
    }

  /** The highest after-GC occupancy since the last call, or None when no
    * collection happened in between. */
  def takePeak(): Option[Long] = {
    val n = count.getAndSet(0L)
    val p = peak.getAndSet(0L)
    if (n > 0) Some(p) else None
  }
}

/** Spark listener totals for the window it is registered in. Jobs are
  * attributed to the span that submitted them through a local property. */
final class TaskTotals extends SparkListener {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, runMs, cpuNs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
  val jobsBySpan = mutable.Map[Int, Long]().withDefaultValue(0L)
  val stageSkews = mutable.ArrayBuffer[Double]()
  private val durations = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .foreach(s => jobsBySpan(s.toInt) += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    durations.remove(e.stageInfo.stageId).filter(_.nonEmpty).foreach { d =>
      val med = Stats.median(d.map(_.toDouble).toSeq)
      if (med > 0) stageSkews += d.max / med
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != Success) failedTasks += 1
    val info = e.taskInfo
    taskMs += info.duration
    durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += info.duration
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      schedDelayMs += math.max(
        0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime
      )
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
    }
  }
}

/** Catalyst phase times and exchange counts of every executed query. */
final class PlanTotals extends QueryExecutionListener {
  var queries = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, broadcasts = 0L

  private object Walk extends AdaptiveSparkPlanHelper

  private def record(qe: QueryExecution): Unit = synchronized {
    queries += 1
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
    val plan = qe.executedPlan
    exchanges += Walk.collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    broadcasts += Walk.collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)

  /** Analysis done eagerly when a DataFrame is built, before any action. */
  def addConstructAnalysis(ms: Long): Unit = synchronized { analysisMs += ms }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spans around layer calls plus the listeners above. When inactive,
  * `span` only runs its body, so untraced passes carry no tracing cost. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  var active = false
  var op = -1
  var tasks = new TaskTotals
  var plans = new PlanTotals
  private var stack = List.empty[Int]
  private def sc: SparkContext = spark.sparkContext

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = spans.size
      spans += Span(name, System.nanoTime, 0L, stack.headOption.getOrElse(-1), op)
      stack = id :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      try body
      finally {
        spans(id).end = System.nanoTime
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Fresh totals for the traced runs that follow. */
  def newTotals(): (TaskTotals, PlanTotals) = {
    tasks = new TaskTotals
    plans = new PlanTotals
    (tasks, plans)
  }

  def begin(): Unit = {
    sc.addSparkListener(tasks)
    spark.listenerManager.register(plans)
    active = true
  }

  def end(): Unit = {
    active = false
    ListenerBusDrain(sc)
    sc.removeSparkListener(tasks)
    spark.listenerManager.unregister(plans)
  }
}
