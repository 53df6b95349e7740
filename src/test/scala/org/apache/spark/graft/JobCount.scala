package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of code starts. In `org.apache.spark`
  * for the listener bus's `waitUntilEmpty`, which lets the count see
  * every job the block submitted and none from before it. */
object JobCount {

  /** `body`'s result and the number of jobs it started. Only jobs
    * carrying this call's job group count, so a job another thread
    * submits meanwhile is not charged to `body`. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "JobCount")
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
