package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared deterministic local session for specs, mirroring the
  * reference's test harness (reference: src/utils/spark.py:10-39 —
  * local master, shuffle.partitions=1). Built by the production factory,
  * so specs run the CLI's and the bench's session config.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; never stop per-suite
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.getOrCreate("local[2]", 1)
}
