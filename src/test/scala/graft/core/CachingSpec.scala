package graft.core

import graft.SparkSpec
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

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
}
