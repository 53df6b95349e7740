package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracks the intermediate frames an operator persists so the caller
  * can release them once the result has been consumed.
  *
  * Library operators that reference a subtree from several joins
  * (exploded overlap tags, dedup shingle indexes, minhash signatures)
  * persist it to avoid re-evaluating the subtree once per consumer.
  * Because the returned DataFrame is lazy, the operator itself can
  * never know when it is safe to unpersist — so it registers every
  * persisted frame on the handle the caller passed in, and the caller
  * calls `release()` after its terminal action:
  *
  * {{{
  * val handle = CacheHandle()
  * val pairs  = Dedup.minhashDupPairs(docs, "text", "id", cache = handle)
  * pairs.write.parquet(out)   // terminal action
  * handle.release()           // drop the signature cache
  * }}}
  *
  * Contract: every cache-bearing operator takes its handle as a
  * REQUIRED argument — there is no default handle (`NoDefaultHandleSpec`
  * scans for one), so nothing an operator persists is left without an
  * owner. The caller either
  * passes a `CacheHandle()` and releases it after the terminal action
  * (a production step, a test), passes [[CacheHandle.queryScope]] so a
  * shared-session harness frees it through
  * [[CacheHandle.releaseQueryScoped]] (a lazily built registered
  * query), or passes [[CacheHandle.disabled]] to opt out of caching
  * entirely (pure recomputation — the right call when the persisted
  * subtree would be larger than the cluster's storage memory, e.g. a
  * full shingle inverted index over a 100 TB corpus whose source scan
  * is cheap columnar parquet).
  *
  * No method here runs a job to fill a cache: a registered frame fills
  * in the first action that reads it (only the shuffle stages of a
  * [[persistTruncated]] frame run earlier). Under AQE a persisted frame
  * becomes a table-cache query stage that runs ahead of the stages
  * reading it.
  */
class CacheHandle(level: StorageLevel = StorageLevel.MEMORY_AND_DISK) {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val checkpointed = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` at the handle's storage level and remember it. A
    * frame whose plan computes the same result as one the handle
    * already holds is not registered again: Spark already serves it
    * from that cache entry. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val plan = df.queryExecution.analyzed
    if (!frames.exists(_.queryExecution.analyzed.sameResult(plan)))
      frames += df.persist(level)
    df
  }

  /** Persist `df` with PLAN TRUNCATION: a non-eager local checkpoint.
    *
    * [[persist]] leaves an InMemoryRelation in the logical plan, and
    * every scan site of the cached frame EMBEDS its full cached
    * subtree — a frame scanned from 6 consumers contributes its plan
    * 6 times to analysis/optimization/codegen (the q_ml_l2g_features
    * formatted plan carried 51 embedded cache subtrees over 1,856
    * lines; ~3-4 s of its ~6 s recorded cost was planning + codegen,
    * not execution). A local checkpoint replaces the subtree with a
    * leaf `LogicalRDD` (optimization guide §3: "materialising an
    * intermediate result … truncates the plan"), so each consumer
    * costs one scan-leaf node regardless of how complex the frame's
    * own plan was. Like a persisted frame, the checkpoint fills in the
    * first action that reads it.
    *
    * Jobs DO run here under AQE: `Dataset.checkpoint` executes the
    * frame's physical plan to obtain its RDD, and `AdaptiveSparkPlanExec`
    * runs every shuffle stage of that plan synchronously while doing
    * so. Only the final (post-shuffle) stage — the one whose partitions
    * the checkpoint stores — waits for the first action. A frame with
    * no exchange runs no job here.
    *
    * The trade: checkpointed partitions store row-based (vs columnar
    * cache) and are not fault-tolerant to executor loss — at cluster
    * scale a reliable checkpoint / write-and-read-back is the
    * equivalent with the same plan-truncation property. They are
    * stored at the handle's level (Spark adds disk to it, as every
    * local checkpoint does).
    *
    * Release discipline: `cacheManager.clearCache()` does NOT drop
    * checkpointed RDDs, so frames persisted this way MUST be released
    * through this handle. The checkpoint (and the shuffle stages it
    * runs) happens outside the handle's lock; only the bookkeeping
    * holds it, so concurrent callers do not serialise their stages. */
  def persistTruncated(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = false, level)
    synchronized { checkpointed += cp }
    cp
  }

  /** Take over every frame `other` holds, leaving `other` empty: this
    * handle's [[release]] now drops them. */
  def adopt(other: CacheHandle): Unit = {
    val (fs, cps) = other.synchronized {
      val taken = (other.frames.toList, other.checkpointed.toList)
      other.frames.clear()
      other.checkpointed.clear()
      taken
    }
    synchronized { frames ++= fs; checkpointed ++= cps }
  }

  /** Unpersist every frame registered since construction / last release. */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(_.unpersist(blocking))
    frames.clear()
    // checkpointed frames persist through their backing RDD, not the
    // cache manager — unpersist the RDD behind the LogicalRDD leaf
    checkpointed.foreach { cp =>
      cp.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.unpersist(blocking)
        case _ => ()
      }
    }
    checkpointed.clear()
  }
}

object CacheHandle {
  def apply(): CacheHandle = new CacheHandle()
  def apply(level: StorageLevel): CacheHandle = new CacheHandle(level)

  /** The handle of the lazily built registered queries, which have no
    * terminal-action hook of their own. A shared-session harness calls
    * [[releaseQueryScoped]] after each query's terminal action, so one
    * query's persisted intermediates stop occupying storage memory for
    * the rest of a multi-query suite. */
  private[graft] val queryScope: CacheHandle = new CacheHandle()

  /** Release the registered queries' handle (harness post-action hook).
    * Releasing an empty handle is a no-op, so harnesses may call this
    * at any cadence. */
  def releaseQueryScoped(): Unit = queryScope.release()

  /** No-op handle: `persist` passes through, nothing is cached. */
  val disabled: CacheHandle = new CacheHandle() {
    override def persist(df: DataFrame): DataFrame = df
    override def persistTruncated(df: DataFrame): DataFrame = df
    override def adopt(other: CacheHandle): Unit = ()
    override def release(blocking: Boolean): Unit = ()
  }
}
