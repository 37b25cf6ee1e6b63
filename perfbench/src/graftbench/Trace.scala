package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded call: `layer` is the module the call enters (`jobs`,
  * `operators`, `sink`, `store`, `unit`), `name` the call itself. Times are
  * epoch nanoseconds so they line up with the listeners' epoch-millisecond
  * event times. Spans of one unit of work share `op`. */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
    name: String, startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spans around every call the benchmark makes into graft, kept in memory
  * and written out once at the end. With tracing off `span` only runs the
  * body, so the untraced run pays one branch per call. */
final class Tracer(val enabled: Boolean) {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + epochOffsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var op = 0

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowNs
      try body
      finally {
        spans += Span(id, parent, op, layer, name, t0, nowNs)
        stack = stack.tail
      }
    }

  /** Self time per layer: each span's duration minus the part of it its
    * direct children cover (children of one parent never overlap — the
    * benchmark is one closed-loop client on one thread). */
  def selfTimeByLayer(from: Long, to: Long): Map[String, Double] = {
    val inWindow = spans.filter(s => s.startNs >= from && s.endNs <= to)
    val childNs = inWindow.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    inWindow.groupBy(_.layer).view.mapValues(ss =>
      ss.map(s => (s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)).sum / 1e9)
      .toMap
  }

  def writeJsonl(path: String): Unit = {
    val lines = spans.map(s => Json.obj(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Per-query planning record from the sink's own QueryPlanningTracker. */
final case class PlanRec(funcName: String, endMs: Long, analyzeS: Double, optimizeS: Double,
    physicalS: Double, exchanges: Int, broadcasts: Int, filesWritten: Long,
    bytesWritten: Long, codesRowsScanned: Long)

/** Reads the phase times and the executed plan of every query the session
  * finishes. It never plans anything itself. */
final class PlanListener extends QueryExecutionListener {
  val recs = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def sec(k: String) = ph.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
    val all = nodes(qe.executedPlan)
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val codesScanned = all.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("/codes")) =>
        metric(f, "numOutputRows")
    }.sum
    recs.add(PlanRec(funcName, System.currentTimeMillis(), sec("analysis"),
      sec("optimization"), sec("planning"),
      all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BroadcastExchangeLike]),
      all.map(metric(_, "numFiles")).sum,
      all.map(metric(_, "numOutputBytes")).sum,
      codesScanned))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    runS: Double, gcS: Double, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, input: Long)

/** Task and job events for the execution layer. */
final class ExecListener extends SparkListener {
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  val jobStartsMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStartsMs.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime / 1000.0, m.jvmGCTime / 1000.0,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }
}

object Listeners {
  def install(s: SparkSession): (PlanListener, ExecListener) = {
    val pl = new PlanListener
    val el = new ExecListener
    s.listenerManager.register(pl)
    s.sparkContext.addSparkListener(el)
    (pl, el)
  }

  /** Listener events arrive on Spark's bus thread; wait until both queues
    * have drained before reading them. */
  def drain(s: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.waitUntilEmpty(s.sparkContext)
}
