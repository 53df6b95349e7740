package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

/** Test access to a session's extension-registered optimizer rules, whose
  * registry Spark keeps `private[sql]`. */
object SessionRules {
  def optimizerRules(spark: SparkSession): Seq[String] = {
    val s = spark.asInstanceOf[ClassicSession]
    s.extensions.buildOptimizerRules(s).map(_.ruleName)
  }
}
