package graft.core

import org.apache.spark.sql.SparkSession

/** Stage-level profiling listener for the production CLI
  * ([[graft.steps.GraftCli]], its only user): collects per-Spark-stage wall /
  * executor-CPU / shuffle-write and dumps the costliest stages
  * (CPU-ranked) to stderr. Enabled by SPARK_GRAFT_PROFILE=1 via
  * [[StageProfiler.ifEnabled]].
  *
  * Attribution caveat (inherent to SparkListener): the listener bus is
  * asynchronous, so a stage completing right at a dump boundary can be
  * attributed to the NEXT dump's label. Callers should dump
  * immediately after the measured work and BEFORE running any
  * bookkeeping jobs of their own (e.g. an output row count), so the
  * bookkeeping's scan stages land in the next bucket rather than
  * polluting the one being read.
  */
final class StageProfiler private (prefix: String) {
  private val stages = scala.collection.mutable.ArrayBuffer
    .empty[(Int, Long, Long, Long, Int, String)]

  private[core] def listener: org.apache.spark.scheduler.SparkListener =
    new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += ((si.stageId, wall, si.taskMetrics.executorRunTime,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten, si.numTasks,
            si.details.linesIterator.find(_.contains("graft"))
              .getOrElse(si.name.takeWhile(_ != '\n')).trim.take(120)))
        }
      }
    }

  /** Print the top `n` collected stages by executor CPU and clear the
    * buffer; `label` names the unit of work just measured. */
  def dump(label: String, n: Int = 12): Unit = stages.synchronized {
    stages.sortBy(-_._3).take(n).foreach { case (id, w, cpu, shuf, nt, d) =>
      System.err.println(f"[$prefix] $label stage=$id wall=${w / 1e3}%.2f " +
        f"cpu=${cpu / 1e3}%.2f shufMB=${shuf / 1e6}%.1f tasks=$nt $d")
    }
    stages.clear()
  }
}

object StageProfiler {
  /** Attach a profiler to `spark` when SPARK_GRAFT_PROFILE=1. */
  def ifEnabled(spark: SparkSession, prefix: String): Option[StageProfiler] =
    if (sys.env.get("SPARK_GRAFT_PROFILE").contains("1")) {
      val p = new StageProfiler(prefix)
      spark.sparkContext.addSparkListener(p.listener)
      Some(p)
    } else None
}
