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
  * No method here runs a job: a registered frame fills in the first
  * action that reads it. Under AQE a persisted frame becomes a
  * table-cache query stage that runs ahead of the stages reading it.
  * A persisted frame keeps its lineage, so a block lost with an
  * executor is recomputed rather than failing the job.
  */
class CacheHandle {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` at `MEMORY_AND_DISK` and remember it. A
    * frame whose plan computes the same result as one the handle
    * already holds is not registered again: Spark already serves it
    * from that cache entry. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val plan = df.queryExecution.analyzed
    if (!frames.exists(_.queryExecution.analyzed.sameResult(plan)))
      frames += df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Take over every frame `other` holds, leaving `other` empty: this
    * handle's [[release]] now drops them. */
  def adopt(other: CacheHandle): Unit = {
    val fs = other.synchronized {
      val taken = other.frames.toList
      other.frames.clear()
      taken
    }
    synchronized { frames ++= fs }
  }

  /** Unpersist every frame registered since construction / last release. */
  def release(blocking: Boolean = false): Unit = synchronized {
    frames.foreach(_.unpersist(blocking))
    frames.clear()
  }
}

object CacheHandle {
  def apply(): CacheHandle = new CacheHandle()

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
    override def adopt(other: CacheHandle): Unit = ()
    override def release(blocking: Boolean): Unit = ()
  }
}
