package graft.core

import graft.{Bench, SparkEntry, SparkSpec}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.CacheManager
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.max
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** Caches fill inside the action that reads them. A frame registered
  * on a [[CacheHandle]] runs no job when it is persisted; the first
  * action over a plan that reads it fills its cache entry, under AQE
  * through a table-cache query stage that runs ahead of the stages
  * reading it. These tests pin that: whatever order a parent and its
  * dependents are registered in, one noop-sink action over a frame
  * that reads them all fills every entry and returns the rows the
  * uncached plan returns.
  */
class CachingSpec extends SparkSpec {

  /** Whether every partition of `df`'s cache entry is stored. */
  private def loaded(df: DataFrame): Boolean =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  /** Registers `order` on a fresh handle, checks nothing is cached yet,
    * runs one noop-sink action over `reader` and checks every frame in
    * `order` is cached and `reader` still returns its uncached rows.
    * Each read goes through a fresh `select("*")`: a Dataset plans once
    * and reuses that plan, cache lookups included. */
  private def fillsInOneAction(order: Seq[DataFrame], reader: DataFrame): Unit = {
    def rows = reader.select("*").collect().map(_.toString).sorted.toSeq
    val expected = rows
    assert(expected.nonEmpty)
    val h = CacheHandle()
    try {
      order.foreach(h.persist)
      assert(!order.exists(loaded), "a cache filled before any action")
      Bench.consume(reader.select("*"))
      assert(order.forall(loaded), "one action left a cache entry unfilled")
      assert(rows == expected)
    } finally h.release(blocking = true)
  }

  test("parentsFirst puts a parent frame before its dependents " +
    "regardless of registration order") {
    import spark.implicits._
    val parent = (1 to 100).toDF("v").filter($"v" % 2 === 0)
    val child = parent.groupBy(($"v" % 10).as("k")).count()
    val grandchild = child.filter($"k" > 2)
    // reads each of the three frames directly
    val reader = grandchild
      .join(child.select($"k", $"count".as("c2")), "k")
      .join(parent.groupBy(($"v" % 10).as("k")).agg(max($"v").as("m")), "k")
    for (order <- Seq(grandchild, child, parent).permutations)
      fillsInOneAction(order, reader)
  }

  test("materialize caches every frame when a dependent is registered " +
    "before its parent") {
    import spark.implicits._
    val parent = (1 to 50).toDF("v").filter($"v" > 5)
    val child = parent.groupBy(($"v" % 5).as("k")).count()
    val reader = child.join(
      parent.groupBy(($"v" % 5).as("k")).agg(max($"v").as("m")), "k")
    // dependent first
    fillsInOneAction(Seq(child, parent), reader)
  }

  test("persist stores the frame deserialized in memory, spilling to disk") {
    import spark.implicits._
    val h = CacheHandle()
    val df = h.persist((1 to 20).toDF("v").filter($"v" % 3 === 0))
    try {
      assert(df.count() == 6)
      val levels = df.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r.cacheBuilder.storageLevel
      }
      assert(levels.nonEmpty, "no InMemoryRelation behind the persisted frame")
      assert(levels.forall(_ == StorageLevel.MEMORY_AND_DISK), levels.mkString(","))
    } finally h.release(blocking = true)
  }

  /** The messages `CacheManager` logs while `body` runs. */
  private def cacheManagerLog(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cache-manager-log", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[CacheManager]).asInstanceOf[Logger]
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("persisting the same plan twice on one handle caches it once") {
    import spark.implicits._
    val log = cacheManagerLog {
      val h = CacheHandle()
      // two frames built separately over the same plan
      val a = (1 to 10).toDF("v").filter($"v" > 2)
      val b = (1 to 10).toDF("v").filter($"v" > 2)
      try {
        h.persist(a)
        h.persist(b)
        assert(b.storageLevel != StorageLevel.NONE, "b is not served from the cache")
      } finally h.release(blocking = true)
      assert(a.storageLevel == StorageLevel.NONE && b.storageLevel == StorageLevel.NONE)
      // a registered query that persists the same postings filter twice
      val rrf = SparkEntry.queries("q_search_rrf")
      try Bench.consume(rrf(spark, "/root/testdata/sf0.001"))
      finally {
        CacheHandle.releaseQueryScoped()
        spark.sharedState.cacheManager.clearCache()
      }
    }
    assert(!log.exists(_.contains("already cached")), log.mkString("\n"))
  }
}
