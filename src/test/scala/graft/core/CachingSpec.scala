package graft.core

import graft.{Bench, SparkEntry, SparkSpec}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.{CacheManager, LogicalRDD}
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The materialize() topological guard: concurrent counts give earlier
  * submissions a head start, so a parent registered AFTER its dependent
  * would lose the race by construction and every dependent partition
  * compute would duplicate parent work. parentsFirst reorders by
  * analyzed-plan containment so the head start no longer depends on
  * caller registration order.
  */
class CachingSpec extends SparkSpec {

  test("parentsFirst puts a parent frame before its dependents " +
    "regardless of registration order") {
    import spark.implicits._
    val parent = (1 to 100).toDF("v").filter($"v" % 2 === 0)
    val child = parent.groupBy(($"v" % 10).as("k")).count()
    val grandchild = child.filter($"k" > 2)
    // worst-case registration order: most-dependent first
    val ordered = CacheHandle.parentsFirst(List(grandchild, child, parent))
    assert(ordered.map(System.identityHashCode) ==
      List(parent, child, grandchild).map(System.identityHashCode))
    // already-correct order is unchanged (stable)
    val kept = CacheHandle.parentsFirst(List(parent, child, grandchild))
    assert(kept.map(System.identityHashCode) ==
      List(parent, child, grandchild).map(System.identityHashCode))
    // unrelated frames keep registration order (stable at count 0)
    val a = (1 to 3).toDF("a")
    val b = (1 to 3).toDF("b")
    assert(CacheHandle.parentsFirst(List(a, b))
      .map(System.identityHashCode) ==
      List(a, b).map(System.identityHashCode))
  }

  test("materialize caches every frame when a dependent is registered " +
    "before its parent") {
    import spark.implicits._
    val h = CacheHandle()
    val parent = (1 to 50).toDF("v").filter($"v" > 5)
    val child = parent.groupBy(($"v" % 5).as("k")).count()
    // dependent first — the order the guard exists to survive
    h.persist(child)
    h.persist(parent)
    try {
      h.materialize()
      assert(parent.storageLevel.useMemory || parent.storageLevel.useDisk)
      assert(child.storageLevel.useMemory || child.storageLevel.useDisk)
      assert(child.count() == 5)
    } finally h.release(blocking = true)
  }

  test("persistTruncated stores the checkpoint at the handle's storage level") {
    import spark.implicits._
    val h = CacheHandle(StorageLevel.MEMORY_ONLY_SER)
    val cp = h.persistTruncated((1 to 20).toDF("v").filter($"v" % 3 === 0))
    try {
      h.materialize()
      val levels = cp.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd.getStorageLevel
      }
      assert(levels.nonEmpty, "no LogicalRDD leaf behind the truncated frame")
      assert(levels.forall(l => !l.deserialized && l.useMemory), levels.mkString(","))
      assert(cp.count() == 6)
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
