package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `counts` holds what the Spark listeners
  * reported while this span was the innermost open one (its self counts).
  */
final class Span(val name: String, val parent: Option[Span], val start: Long) {
  var end: Long = start
  val children = mutable.ArrayBuffer.empty[Span]
  val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  /** Σ numOutputRows per physical operator name, from executed plans. */
  val operators: mutable.Map[String, Double] = mutable.TreeMap.empty[String, Double]

  def seconds: Double = (end - start) / 1e9
  def selfSeconds: Double = seconds - children.map(_.seconds).sum
  def add(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v
  /** Self counts plus those of every descendant. */
  def total(key: String): Double = counts.getOrElse(key, 0.0) + children.map(_.total(key)).sum
}

/** Spans around the benchmark's calls into the program, kept in memory.
  *
  * Span times are always recorded (two clock reads per call). With
  * `listen = true` the tracer also registers a [[SparkListener]] and a
  * [[QueryExecutionListener]] on the session, and drains the listener bus
  * at every span boundary, so each job, stage, task and executed plan is
  * counted in the span that was innermost when it ran.
  */
final class Tracer(spark: SparkSession, listen: Boolean) {
  private val roots = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Option[Span] = None

  private def drain(): Unit = if (listen) PerfbenchBus.drain(spark.sparkContext)

  private def record(f: Span => Unit): Unit = synchronized(current.foreach(f))

  def span[T](name: String)(body: => T): T = {
    drain()
    val s = synchronized {
      val s = new Span(name, current, System.nanoTime())
      current.fold(roots += s)(_.children += s)
      current = Some(s)
      s
    }
    try body
    finally {
      drain()
      synchronized {
        s.end = System.nanoTime()
        if (listen) s.add("storage.cache_mb", Tracer.cachedMb(spark))
        current = s.parent
      }
    }
  }

  def spans: Seq[Span] = roots.toSeq

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = record(_.add("spark.jobs", 1))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      record(_.add("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record { s =>
      s.add("spark.tasks", 1)
      if (e.reason != org.apache.spark.Success) s.add("spark.failed_tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        s.add("spark.task_run_s", m.executorRunTime / 1e3)
        s.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        s.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        s.add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }
  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record { s =>
        s.add("sql.executions", 1)
        PlanFacts.of(qe.executedPlan, s)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  if (listen) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Stop listening; spans stay readable. */
  def detach(): Unit = if (listen) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
  }
}

object Tracer {
  /** Memory plus disk held by cached RDD blocks, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
}

/** Exact counts of plan features, walked over a finished executed plan:
  * adaptive final plans, query stages, subqueries and the plans behind
  * cached relations included. Adds `plans.*` and `ops.jaccard.*` counts
  * and per-operator output rows to the span.
  */
object PlanFacts {
  def of(plan: SparkPlan, span: Span): Unit = walk(plan, inCodegen = false, span)

  private def named(keys: Seq[_], name: String) = keys.nonEmpty && keys.forall {
    case a: Attribute => a.name == name
    case _ => false
  }

  /** The Jaccard layer's self-join: an equi-join of the (id, tag)
    * relation with itself on `tag`, with the `id > id` residual. */
  private def isTagSelfJoin(j: SortMergeJoinExec) =
    named(j.leftKeys, "tag") && named(j.rightKeys, "tag") && j.condition.isDefined

  /** Returns whether the subtree holds a TopKPerKey operator. */
  private def walk(p: SparkPlan, inCodegen: Boolean, span: Span): Boolean = {
    val (kids, wrapper, kidsInCodegen) = p match {
      case a: AdaptiveSparkPlanExec => (Seq(a.executedPlan), true, false)
      case s: QueryStageExec => (Seq(s.plan), true, false)
      case c: CommandResultExec => (Seq(c.commandPhysicalPlan), true, false)
      case w: WholeStageCodegenExec => (Seq(w.child), true, true)
      case i: InputAdapter => (Seq(i.child), true, false)
      case _: ReusedExchangeExec => (Nil, true, false)
      case e: Exchange => span.add("plans.exchanges", 1); (e.children, true, false)
      case d: DataWritingCommandExec => (d.children, true, false)
      case m: InMemoryTableScanExec => (Seq(m.relation.cachedPlan), false, false)
      case other => (other.children, false, inCodegen)
    }
    if (!wrapper) {
      if (!inCodegen) span.add("plans.non_codegen_nodes", 1)
      p.metrics.get("numOutputRows").foreach { m =>
        span.operators(p.nodeName) = span.operators.getOrElse(p.nodeName, 0.0) + m.value
      }
    }
    p match {
      case _: BroadcastNestedLoopJoinExec => span.add("plans.bnlj_nodes", 1)
      case j: SortMergeJoinExec if isTagSelfJoin(j) =>
        span.add("ops.jaccard.executions", 1)
        span.add("ops.jaccard.candidate_pairs", j.metrics("numOutputRows").value.toDouble)
      case _ =>
    }
    val isTopK = p.nodeName == "TopKPerKey"
    if (isTopK) span.add("plans.topk_nodes", 1)
    val below = (kids ++ p.subqueries).map(walk(_, kidsInCodegen, span)).exists(identity)
    if (below && (p.isInstanceOf[WindowExec] || p.isInstanceOf[SortExec]))
      span.add("plans.window_after_topk", 1)
    below || isTopK
  }
}

/** Driver heap after each garbage collection; [[peakMb]] is the largest
  * live heap seen since [[reset]], in MB. A pass ends with an explicit
  * collection, so every pass has at least one reading.
  */
object HeapWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong()
  private val seen = new java.util.concurrent.atomic.AtomicLong()

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _))
        seen.incrementAndGet()
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak.set(0L)

  def peakMb(): Double = {
    val before = seen.get
    System.gc()
    // notifications arrive on a JMX thread: wait for the one of this gc
    val deadline = System.nanoTime() + 1000000000L
    while (seen.get == before && System.nanoTime() < deadline) Thread.sleep(2)
    peak.get / 1e6
  }
}
