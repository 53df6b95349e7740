package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: the CLI, the bench and probe mains, the
  * oracle dump and the test harness all build their session here.
  *
  * Mirrors the role of the reference's `Session`
  * (reference: src/gentropy/common/session.py:16-59) without the Hail
  * config. Designed for a real cluster: AQE on (runtime coalesce + skew
  * join), Kryo, and a shuffle-partition count sized by the caller (on a
  * 1000-executor cluster this would be set to ~2-3x total cores via
  * --conf).
  *
  * Every setting is a default: a key the launcher already set
  * (spark-submit's `--master`/`--conf`, which arrive as `spark.*` system
  * properties) keeps the launcher's value.
  */
object GraftSession {

  /** Worker threads and shuffle partitions of the local-mode entry
    * points: `SPARK_GRAFT_CPUS`, default 16 (measured over the 59-query
    * bench suite at sf0.1: local[16] ran 25% under local[4], and past 16
    * GC/scheduler overhead on a 32-thread box ate the gain). */
  private val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(16)(_.toInt)

  private def defaults(master: String, shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.master" -> master,
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // AQE coalescing reasons in shuffle BYTES, but several operators
    // here are CPU-dense per byte (window sorts + logsumexp over
    // small compressed string/struct rows, per-group array kernels):
    // with the default 1m floor a few-MB exchange coalesces to 1-3
    // tasks and the downstream stage runs serial (measured: the
    // q_gx_coloc window+agg stage at 3 tasks, wall ≈ cpu ≈ 2 s; the
    // fine-mapper hit the same trap and pins an explicit repartition
    // — DistributedFineMapper.bundleLoci). A 64k floor restores
    // parallelism on exactly those small CPU-dense exchanges.
    // Production blast radius (r17, corrected): with
    // coalescePartitions.parallelismFirst=true (the default) AQE
    // targets max(totalShuffleBytes / defaultParallelism,
    // minPartitionSize) — NOT the 64m advisory target — so this
    // floor changes behaviour on any exchange totalling under
    // ~(cluster parallelism × 1 MB): those coalesce toward
    // parallelism-many tasks instead of 1 MB-sized ones. That is the
    // intended trade (more tasks on small CPU-dense exchanges);
    // exchanges past that band are governed by totalBytes /
    // parallelism either way and never see the floor. Override via
    // --conf for deployments that prefer the stock 1m floor.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Spark keeps generated classes in an LRU of this many entries
    // (stock 100) and compiles again any plan whose class was evicted.
    // A long-lived session re-runs plans that need more distinct
    // classes than that (measured as the compiles of a run with an
    // unbounded cache: a perfbench chain run 177, query_mix 170, scale
    // 300; one Verify pass at sf0.01 1718). At 100 a re-run evicts each
    // class before it comes back to it, so every lookup misses: a timed
    // pass compiled 153-175 classes on chain, 80-133 on query_mix and
    // 211-238 on scale (4-vCPU VM), and the JIT re-optimised every
    // fresh copy. At 2048 the same passes compile 0, 0-6 and 18-26
    // (plans the warm-up did not run, e.g. the noop sink where it
    // wrote parquet): query_mix wall -21%, chain -18%. 2048 is the next
    // power of two above Verify's 1718; the tier-1 test JVM compiles
    // 5051 distinct classes, mostly plans run once: at 2048 it
    // recompiles only 285 of them, and an unbounded cache would hold
    // 20 MB more metaspace to save those.
    // Cost: the retained classes' metaspace, 224 -> 239 MB after one
    // Verify pass at sf0.01. A one-shot spark-submit per step sees no
    // change: only a re-executed plan benefits. A static conf, read
    // once per JVM at the first compile, so it takes effect only
    // through this builder.
    "spark.sql.codegen.cache.maxEntries" -> "2048",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.session.timeZone" -> "UTC",
    // the events test table (TESTDATA.md) stores ns timestamps, which
    // Spark 4 otherwise refuses to read
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** What [[builder]] sets on top of `launcher`: every default whose key
    * the launcher left unset. It registers no `spark.sql.extensions`, so
    * a launcher's own list passes through untouched. */
  private[graft] def settings(master: String, shufflePartitions: Int,
                              launcher: SparkConf): Seq[(String, String)] =
    defaults(master, shufflePartitions).filterNot { case (k, _) => launcher.contains(k) }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    settings(master, shufflePartitions, new SparkConf())
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }

  /** The session of every entry point: [[builder]] plus WARN logging. */
  def getOrCreate(master: String = s"local[$cpus]",
                  shufflePartitions: Int = cpus): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
