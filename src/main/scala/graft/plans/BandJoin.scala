package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Banded genomic range join — the scale path for point-in-interval
  * joins (SURVEY §4 candidate #3; reference sites: the locus-statistics
  * and interval-containment joins, src/gentropy/dataset/study_locus.py:
  * 971-1037 and 1193-1245).
  *
  * The reference (and our J3/J4 queries) broadcasts the interval side.
  * That dies in two ways at 100 TB: the interval side outgrows the
  * broadcast threshold (→ BroadcastNestedLoopJoin, quadratic), or the
  * only equi key is the chromosome (→ a ~25-partition shuffle join,
  * unusable skew). The band rewrite fixes both with existing operators:
  * points get `band = floor(pos / width)` as an extra equi key, and
  * each interval explodes to the bands it overlaps
  * (`sequence(floor(lo/w), floor(hi/w))`) — an interval of length L
  * lands in at most L/width + 2 bands, so the blow-up is bounded and
  * chosen by the caller. The join is then a plain shuffled equi-join on
  * (keys..., band) with the range predicate as a residual filter —
  * co-partitioned, skew-free, AQE-eligible.
  *
  * One surface: [[BandJoin.bandJoin]], called explicitly; no optimizer
  * rule applies it. The engine's own range joins (locus breaker,
  * interval containment) carry a chromosome equi key, as the
  * reference's do. A caller with an equi-free range join passes
  * `pointKeys = Nil`.
  */
object BandJoin {

  /** Inner-join `points` with `intervals` on
    * `pointKeys == intervalKeys AND pos BETWEEN lo AND hi` using band
    * bucketing. All columns of both frames are preserved; `width` must
    * exceed 0 and should be of the order of the typical interval
    * length (wider = fewer duplicate interval rows, narrower = fewer
    * residual-filtered candidates).
    *
    * Both sides are repartitioned on the full equi-key set with an
    * EXPLICIT partition count (default: the session's shuffle
    * parallelism). The explicit count matters: a band join's cost is
    * the CANDIDATE pairs the residual range filter evaluates, which is
    * orders of magnitude more CPU than its shuffle bytes suggest — and
    * AQE's byte-based coalescing, seeing a sub-advisory-size shuffle,
    * collapses it to one partition and serialises the whole
    * candidate-evaluation loop onto one core (measured: 13 s
    * single-task vs ~1.5 s at 16-way on 600k×150k). A
    * `REPARTITION_BY_NUM` exchange is exempt from AQE coalescing and
    * is reused by the join (same keys), so this costs no extra
    * shuffle. */
  def bandJoin(points: DataFrame, intervals: DataFrame,
               posCol: String, loCol: String, hiCol: String,
               width: Long,
               pointKeys: Seq[String] = Nil,
               intervalKeys: Seq[String] = Nil,
               partitions: Option[Int] = None): DataFrame = {
    require(width > 0, "band width must be positive")
    require(pointKeys.length == intervalKeys.length,
      "pointKeys and intervalKeys must pair up")
    val n = partitions.getOrElse(
      points.sparkSession.sessionState.conf.numShufflePartitions)
    val p = points.withColumn("_graft_band",
        floor(col(posCol).cast("double") / width.toDouble))
      .repartition(n, (pointKeys :+ "_graft_band").map(col): _*)
    val iv = intervals.withColumn("_graft_band",
        explode(sequence(
          floor(col(loCol).cast("double") / width.toDouble),
          floor(col(hiCol).cast("double") / width.toDouble))))
      .repartition(n, (intervalKeys :+ "_graft_band").map(col): _*)
    val keyCond = pointKeys.zip(intervalKeys)
      .map { case (pk, ik) => p(pk) === iv(ik) }
    val cond = (keyCond :+ (p("_graft_band") === iv("_graft_band")) :+
      p(posCol).between(iv(loCol), iv(hiCol))).reduce(_ && _)
    p.join(iv, cond).drop("_graft_band")
  }
}
