package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one traced span (a step phase), filled by [[Meter]]. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var sourceJobs = 0L
  var sourceJobMs = 0L
  var planMs = 0L
  var exchanges = 0L
  var queries = 0L
  var failedQueries = 0L
  /** (start, end) wall-clock ms of each job, for the driver-only share. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One `SparkListener` plus one `QueryExecutionListener` that attribute
  * Spark's counters to the job group set around each traced phase.
  * Scheduler events carry the group in their job properties. Query
  * callbacks carry none, so they go to the phase that is open when they
  * arrive; the caller drains the listener bus before it closes a phase.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long, Boolean)]
  @volatile private var open: String = "-"

  def openPhase(group: String): Unit = synchronized { open = group }

  private def counters(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  /** Removes and returns the counters of one group. */
  def take(group: String): Counters = synchronized {
    byGroup.remove(group).getOrElse(new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(open)
    val fromSources = e.stageInfos.exists(_.details.contains("graft.sources.Tables"))
    e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = g)
    jobGroup(e.jobId) = (g, e.time, fromSources)
    counters(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start, fromSources) =>
      val c = counters(g)
      c.jobSpans += ((start, e.time))
      if (fromSources) { c.sourceJobs += 1; c.sourceJobMs += e.time - start }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageGroup.getOrElse(e.stageInfo.stageId, open)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, open))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.taskRunMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val c = counters(open)
      c.queries += 1
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum
      c.exchanges += Meter.exchanges(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { counters(open).failedQueries += 1 }
}

object Meter {
  /** Exchanges in a final (post-AQE) physical plan, looking through
    * adaptive wrappers, query stages and command results. Reused
    * exchanges do not run again and are not counted. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case c: CommandResultExec => exchanges(c.commandPhysicalPlan)
    case x @ (_: ShuffleExchangeLike | _: BroadcastExchangeLike) =>
      1L + x.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
