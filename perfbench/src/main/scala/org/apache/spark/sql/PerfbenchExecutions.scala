package org.apache.spark.sql

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Facts of each finished SQL execution that ran under a job group: the
  * files its file scans read (the "number of files read" metric in the
  * final, adaptive plan) and the Catalyst optimization and planning time of
  * the query it executed. The execution's query and the listener bus are
  * package-private to Spark.
  */
final class PerfbenchExecutions extends SparkListener with AdaptiveSparkPlanHelper {
  private val groups = new ConcurrentHashMap[Long, String]()
  /** (job group, files read, optimization + planning ms) per execution. */
  val finished = new ConcurrentLinkedQueue[(String, Long, Long)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case start: SparkListenerSQLExecutionStart =>
      start.jobGroupId.foreach(groups.put(start.executionId, _))
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      Option(groups.remove(end.executionId)).foreach { g =>
        val files = collectWithSubqueries(end.qe.executedPlan) {
          case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }.sum
        val phases = end.qe.tracker.phases
        val planMs = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
          .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
        finished.add((g, files, planMs))
      }
    case _ =>
  }
}

object PerfbenchExecutions {
  /** Waits until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
