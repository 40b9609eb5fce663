package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span accumulated: driver wall time plus the Spark work its
  * jobs launched. Stage metrics are the stage's aggregated task metrics.
  */
final class SpanStats {
  var calls = 0L
  var wallNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var queries = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var planNodes = 0L
  /** Wall time covered by at least one of this span's running jobs. */
  var jobBusyMs = 0L
}

/** Span recorder for one SparkContext.
  *
  * `span(name) { ... }` sets the SparkContext job group to `name` for the
  * calls inside it; the listener credits every job, and every stage that
  * job submits, to the span named by the job group that launched it. The
  * innermost open span wins. Jobs launched under a job group this tracer
  * did not open (a streaming query sets its own) are credited through
  * [[alias]]. Query-planning phases arrive on the listener bus without a
  * thread context, so they are credited to the span named by the last
  * [[planFor]] call, which the caller makes before each sequential op.
  *
  * When `enabled` is false, `span` only runs its body and no listener is
  * registered: an untraced run pays nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val stats = new ConcurrentHashMap[String, SpanStats]()
  private val aliases = new ConcurrentHashMap[String, String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  // per span: number of running jobs and when that number last left 0
  private val running = mutable.Map.empty[String, (Int, Long)]
  @volatile private var planSpan: String = "unattributed"

  private def statsOf(name: String): SpanStats =
    stats.computeIfAbsent(name, _ => new SpanStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SparkContextKeys.JobGroup)))
        .getOrElse("unattributed")
      val span = Option(aliases.get(group)).getOrElse(group)
      jobSpan.put(e.jobId, span)
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, span))
      statsOf(span).jobs += 1
      running.synchronized {
        val (n, since) = running.getOrElse(span, (0, e.time))
        running(span) = (n + 1, if (n == 0) e.time else since)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = Option(jobSpan.get(e.jobId)).getOrElse("unattributed")
      running.synchronized {
        running.get(span).foreach { case (n, since) =>
          if (n <= 1) {
            statsOf(span).jobBusyMs += e.time - since
            running.remove(span)
          } else running(span) = (n - 1, since)
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val st = statsOf(Option(stageSpan.get(info.stageId)).getOrElse("unattributed"))
      st.stages += 1
      st.tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        st.taskRunMs += m.executorRunTime
        st.taskCpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        st.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val st = statsOf(planSpan)
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      st.queries += 1
      st.analysisMs += ms("analysis")
      st.optimizationMs += ms("optimization")
      st.planningMs += ms("planning")
      st.planNodes += qe.optimizedPlan.collectWithSubqueries { case p => p }.size
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Run `body` as span `name`: its jobs are credited to `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val prev = sc.getLocalProperty(SparkContextKeys.JobGroup)
      sc.setLocalProperty(SparkContextKeys.JobGroup, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val st = statsOf(name)
        st.calls += 1
        st.wallNs += System.nanoTime() - t0
        sc.setLocalProperty(SparkContextKeys.JobGroup, prev)
      }
    }

  /** Credit jobs launched under job group `group` to span `span`. */
  def alias(group: String, span: String): Unit = aliases.put(group, span)

  /** Credit the planning phases of the queries that follow to span
    * `name`. The bus is drained first, so every query already run stays
    * credited to the span that was current when it ran.
    */
  def planFor(name: String): Unit = {
    drain()
    planSpan = name
  }

  /** Wait until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def get(name: String): SpanStats = statsOf(name)
}

object SparkContextKeys {
  /** The local property SparkContext.setJobGroup writes. */
  val JobGroup = "spark.jobGroup.id"
}
