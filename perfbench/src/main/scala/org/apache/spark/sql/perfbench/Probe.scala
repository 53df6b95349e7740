package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** The benchmark's listener on the Spark listener bus.
  *
  * Every job the benchmark starts carries the job group `perfbench-<op>`
  * (the timed operation) and, when tracing, the local property
  * `perfbench.span` (the innermost benchmark span around the call that
  * started it). The probe keys rows written and the optimized plan of
  * each op's sink to the op, which the full-consumption check needs in
  * every run. When tracing it also attributes task and stage metrics,
  * job intervals and the planning phases of every SQL execution to the
  * span that caused them. It lives in this package to read the
  * `QueryExecution` carried by the SQL execution-end event. */
final class Probe(trace: Boolean) extends SparkListener {
  import Probe._

  private val stageKey = mutable.Map.empty[Int, (Int, Int)]
  private val execOp = mutable.Map.empty[Long, Int]
  private val rows = mutable.Map.empty[Int, Long]
  private val sinks = mutable.Map.empty[Int, LogicalPlan]
  private val sinkRows = mutable.Map.empty[Int, Long]
  private val perSpan = mutable.Map.empty[Int, Array[Double]]
  private val jobStart = mutable.Map.empty[Int, (Int, Double)]
  /** (span, start ms, end ms) of every finished job. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
  /** (phase, start ms, end ms) of every SQL execution's planning phases. */
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private def opOf(group: Option[String]): Int =
    group.filter(_.startsWith("perfbench-")).map(_.stripPrefix("perfbench-").toInt)
      .getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(prop(e.properties, SparkContext.SPARK_JOB_GROUP_ID))
    val span = prop(e.properties, "perfbench.span").map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageKey(s) = (op, span))
    if (trace) jobStart(e.jobId) = (span, e.time.toDouble)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      jobs += ((span, t0, e.time.toDouble))
    }
  }

  private def acc(span: Int): Array[Double] =
    perSpan.getOrElseUpdate(span, new Array[Double](Fields.size))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (trace) {
        val a = acc(stageKey.get(e.stageInfo.stageId).map(_._2).getOrElse(-1))
        a(Stages) += 1
        if (e.stageInfo.attemptNumber() > 0) a(StagesRetried) += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (op, span) = stageKey.getOrElse(e.stageId, (-1, -1))
    val m = e.taskMetrics
    if (m != null && op >= 0)
      rows(op) = rows.getOrElse(op, 0L) + m.outputMetrics.recordsWritten
    if (trace) {
      val a = acc(span)
      a(Tasks) += 1
      if (!e.taskInfo.successful) a(TasksFailed) += 1
      if (m != null) {
        val run = m.executorRunTime.toDouble
        a(RunS) += run / 1e3
        a(CpuS) += m.executorCpuTime / 1e9
        a(GcS) += m.jvmGCTime / 1e3
        a(ShuffleWriteB) += m.shuffleWriteMetrics.bytesWritten
        a(ShuffleReadB) += m.shuffleReadMetrics.totalBytesRead
        a(FetchWaitS) += m.shuffleReadMetrics.fetchWaitTime / 1e3
        a(SpillB) += m.diskBytesSpilled
        a(RecordsRead) += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        a(RecordsWritten) += m.outputMetrics.recordsWritten
        a(BytesWritten) += m.outputMetrics.bytesWritten
        val delay = e.taskInfo.duration - run - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime
        a(SchedulerDelayS) += math.max(0L, delay) / 1e3
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val op = opOf(s.jobGroupId)
      if (op >= 0) execOp(s.executionId) = op
    }
    case end: SparkListenerSQLExecutionEnd if end.qe != null => synchronized {
      val qe = end.qe
      if (trace) qe.tracker.phases.foreach { case (name, p) =>
        phases += ((name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      execOp.remove(end.executionId).foreach { op =>
        scala.util.Try(qe.optimizedPlan).toOption.foreach {
          case w: V2WriteCommand => sinks(op) = w.query
          case _ => ()
        }
        // a DSv2 sink (noop) reports no task output metrics; its exec
        // node counts the rows its writers committed
        scala.util.Try(qe.executedPlan).toOption
          .flatMap(_.collectFirst { case w: V2TableWriteExec => w.commitProgress })
          .flatten.foreach(p => sinkRows(op) = p.numOutputRows)
      }
    }
    case _ => ()
  }

  def rowsWritten(op: Int): Long =
    synchronized(sinkRows.getOrElse(op, rows.getOrElse(op, 0L)))
  def sinkPlan(op: Int): Option[LogicalPlan] = synchronized(sinks.get(op))
  def spanMetrics: Map[Int, Array[Double]] = synchronized(perSpan.toMap)
  def clearTrace(): Unit = synchronized {
    perSpan.clear(); jobs.clear(); phases.clear()
  }
}

object Probe {
  val Fields: Seq[String] = Seq("tasks", "tasks_failed", "run_s", "cpu_s",
    "gc_s", "shuffle_write_b", "shuffle_read_b", "fetch_wait_s", "spill_b",
    "records_read", "records_written", "bytes_written", "scheduler_delay_s",
    "stages", "stages_retried")
  // indices into a span's accumulator, in Fields order
  private val Tasks = 0
  private val TasksFailed = 1
  private val RunS = 2
  private val CpuS = 3
  private val GcS = 4
  private val ShuffleWriteB = 5
  private val ShuffleReadB = 6
  private val FetchWaitS = 7
  private val SpillB = 8
  private val RecordsRead = 9
  private val RecordsWritten = 10
  private val BytesWritten = 11
  private val SchedulerDelayS = 12
  private val Stages = 13
  private val StagesRetried = 14

  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Rule names the session's registered extensions inject. */
  def extensionRules(spark: org.apache.spark.sql.SparkSession): Seq[String] =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].extensions
      .buildOptimizerRules(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
      .map(_.ruleName)
}
