package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Attributes Spark work to the span the benchmark is in.
  *
  * The benchmark sets the span name as a local property around each call
  * into a layer; jobs carry it (AQE stage jobs too, since they inherit the
  * submitting thread's properties), stages map to the job's span and task
  * metrics add up per stage. Planning time comes from each query
  * execution's `QueryPlanningTracker`; its phases run on the calling
  * thread, so each is charged to the span whose wall-clock window holds
  * its start. Jobs and tasks that start outside any span are charged to
  * [[Tracer.Unattributed]]. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Acc {
    @volatile var jobs = 0L
    @volatile var tasks = 0L
    @volatile var cpuNs = 0L
    @volatile var shuffleBytes = 0L
    @volatile var spillBytes = 0L
  }

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  /** (start, duration) in epoch ms of every analysis, optimization and
    * planning phase seen. */
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def acc(span: String): Acc = accs.computeIfAbsent(span, _ => new Acc)

  /** Sum of `f` over spans whose name satisfies `p`. */
  def total(p: String => Boolean)(f: Acc => Long): Long =
    accs.asScala.collect { case (k, a) if p(k) => f(a) }.sum

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Key)))
      .getOrElse(Unattributed)
    val a = acc(span)
    a.synchronized { a.jobs += 1 }
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, Unattributed))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ps = qe.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(ps.get)
      .foreach(p => phases.add((p.startTimeMs, p.durationMs)))
  }

  /** Planning milliseconds whose phase started inside one of `windows`
    * (epoch ms, inclusive). */
  def planMs(windows: Seq[(Long, Long)]): Long =
    phases.asScala.collect {
      case (start, ms) if windows.exists { case (a, b) => start >= a && start <= b } => ms
    }.sum

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  val Key = "perfbench.span"
  val Unattributed = "unattributed"
}
