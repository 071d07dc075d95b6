package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Its layer is the part of `name` before the first
  * dot (`sources.extract` → `sources`); `op` is the op it belongs to (-1
  * outside ops); times are nanoseconds on the driver's monotonic clock.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      start: Long, var end: Long = -1L)

/** Executor-side totals of one Spark job, summed over its tasks. */
final class JobStats(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Spans recorded by the benchmark around its own calls into each layer.
  * Opening a span sets the Spark job group to the span's id, so the
  * listener can attribute every job (and its stages and tasks) to the
  * innermost open span. While not `active`, `span` runs the body and
  * records nothing; with tracing off the listeners are never registered.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1
  var active = false
  val listener = new JobListener
  // offset from the wall clock (job events) to the monotonic clock (spans)
  private val nanoMinusWallNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  val plans = new PlanListener
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(plans)
  }

  def startOp(op: Int): Unit = currentOp = op

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name,
        currentOp, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb-${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb-${p.id}", p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Spans plus the jobs attributed to them, in the result-file shape.
    * Call after the run: it waits for the listener bus to drain.
    */
  def dump(): (Seq[Span], Seq[JobStats], Long) = {
    if (!enabled) return (Nil, Nil, nanoMinusWallNs)
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    (spans.toSeq, listener.jobs.values.toSeq.sortBy(_.id), nanoMinusWallNs)
  }
}

/** Attributes jobs, stages and task metrics to job groups. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobStats]
  private val stageJob = mutable.HashMap.empty[Int, JobStats]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobStats(e.jobId, group, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
        // the Spark UI's definition: task duration not spent running,
        // deserializing, serializing the result or fetching it
        val dur = e.taskInfo.duration
        j.schedDelayMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
      }
    }
  }
}

/** Keeps the executed plan of every successful query, so a workload can
  * read the SQL metrics of the engine's own operators after an op.
  */
final class PlanListener extends QueryExecutionListener {
  private val plans = mutable.ArrayBuffer.empty[SparkPlan]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += qe.executedPlan }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** The plans of the queries that ended since the last call. */
  def take(sc: SparkContext): Seq[SparkPlan] = {
    org.apache.spark.PerfbenchShim.drainListenerBus(sc)
    synchronized { val out = plans.toSeq; plans.clear(); out }
  }
}

object PlanListener extends AdaptiveSparkPlanHelper {
  /** Rows out of every join in `plans`, adaptive query stages included. */
  def joinOutputRows(plans: Seq[SparkPlan]): Long = plans.map(p => collect(p) {
    case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum).sum
}
