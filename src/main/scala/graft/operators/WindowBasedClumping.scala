package graft.operators

import graft.functions.ArrayFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distance-window clumping of significant summary-statistics rows into
  * lead variants.
  *
  * Semantics match the reference
  * (reference: src/gentropy/method/window_based_clumping.py:94-258):
  *  1. gap-based sessionisation: a new cluster starts when the gap to
  *     the previous variant exceeds `distance` (lag + running
  *     last(ignoreNulls) forward fill — one shuffle on
  *     (studyId, chromosome));
  *  2. within each cluster, variants rank by significance and the
  *     rank-1 row greedily selects leads among the cluster's positions
  *     listed by p-value: a variant is a lead iff no stronger lead is
  *     within `distance`;
  *  3. non-leads get the WINDOW_CLUMPED QC flag.
  *
  * The greedy kernel STREAMS each cluster's rows in ascending-p-value
  * order through a sorted-partition `mapPartitions` (state = the lead
  * TreeSet, O(leads)); no per-cluster array is ever materialised, so a
  * mega-cluster — dense positions fusing a whole (study, chromosome)
  * into one cluster — costs a spillable sort, not an in-memory buffer.
  */
object WindowBasedClumping {

  val QcFlag = "Variant not found in LD reference" // placeholder vocab entry
  val WindowClumpedFlag = "WINDOW_CLUMPED"

  /** Session-window cluster id (W3): the cluster's boundary POSITION,
    * forward-filled — numeric and unique within (study, chromosome),
    * which is the only scope it's ever used in. (An earlier form
    * concatenated study_chromosome_position into a string id: at 58M
    * rows that built two strings per row per window evaluation for a
    * value the group keys already disambiguate.)
    * reference: src/gentropy/method/window_based_clumping.py:94-112 */
  def clusterPeaks(study: Column, chromosome: Column, position: Column,
                   windowLength: Int): Column = {
    val byPos = Window.partitionBy(study, chromosome).orderBy(position)
    val prev = lag(position, 1).over(byPos)
    val boundary = when(prev.isNull || (position - prev) > windowLength,
      position.cast("long"))
    when(boundary.isNull,
      last(boundary, ignoreNulls = true)
        .over(byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .otherwise(boundary)
  }

  /** Greedy lead selection over positions sorted by ascending p-value:
    * 1.0 = lead, 0.0 = clumped into an earlier lead.
    * reference: src/gentropy/method/window_based_clumping.py:114-153
    *
    * A lead within `window` of candidate p can only be the nearest
    * lead below or above it, so an ordered set with floor/ceiling
    * lookups decides each candidate in O(log leads) — O(n log L) per
    * cluster instead of the naive O(n·L) scan, which at dense
    * positions (one mega-cluster per chromosome, ~10⁴ leads) is the
    * difference between milliseconds and minutes in a single task. */
  private[operators] def pruneLeads(positions: Seq[Long], window: Long): Seq[Double] = {
    val leads = new java.util.TreeSet[java.lang.Long]()
    positions.map { p =>
      val lo = leads.floor(p)
      val hi = leads.ceiling(p)
      if ((lo != null && p - lo < window) || (hi != null && hi - p < window)) 0.0
      else { leads.add(p); 1.0 }
    }
  }

  /** Per-cluster lead positions, computed by STREAMING each cluster's
    * rows (pre-sorted by ascending p-value) through the greedy TreeSet
    * — state is O(leads), never O(cluster). The collect_list
    * formulation this replaces materialised one array per cluster: at
    * mega-cluster density (dense positions fusing a whole (study,
    * chromosome) into ONE cluster — 60 clusters × 1M rows on the
    * 100×-scale ChainBench) building + array_sort'ing 1M-element
    * struct arrays measured 179 s of the operator's 175 s wall; the
    * streamed kernel does the same work in the sort's output order
    * with no per-group buffer. Clusters share partitions (hash on the
    * cluster key, sort within), so parallelism is the partition
    * count, and a cluster larger than memory only costs a spillable
    * sort. Ordering parity with the old `array_sort(struct(exp, mant,
    * pos))`: SQL ascending sort on the same three columns — struct
    * comparison and column sort share null-first ascending semantics. */
  private def streamedClusterLeads(withCluster: DataFrame,
                                   distance: Long): DataFrame = {
    val spark = withCluster.sparkSession
    import spark.implicits._
    withCluster
      .select(col("studyId").cast("string"), col("chromosome").cast("string"),
        col("cluster_id").cast("long"),
        col("pValueExponent").cast("int"), col("pValueMantissa").cast("float"),
        col("position").cast("long"))
      .repartition(col("studyId"), col("chromosome"), col("cluster_id"))
      .sortWithinPartitions("studyId", "chromosome", "cluster_id",
        "pValueExponent", "pValueMantissa", "position")
      .as[(Option[String], Option[String], Option[Long],
        Option[Int], Option[Float], Option[Long])]
      .mapPartitions { rows =>
        var curKey: (Option[String], Option[String], Option[Long]) = null
        val leads = new java.util.TreeSet[java.lang.Long]()
        rows.flatMap { case (study, chrom, cluster, _, _, posOpt) =>
          val key = (study, chrom, cluster)
          if (key != curKey) { curKey = key; leads.clear() }
          // position is non-null by the documented schema contract; a
          // bare .get would surface as an opaque NoSuchElementException
          // deep in a task, so name the violated contract instead
          val p = posOpt.getOrElse(throw new IllegalArgumentException(
            s"WindowBasedClumping: null position for (studyId=$study, " +
              s"chromosome=$chrom) — the clumping input schema requires " +
              "non-null position"))
          val lo = leads.floor(p)
          val hi = leads.ceiling(p)
          if ((lo != null && p - lo < distance) ||
              (hi != null && hi - p < distance)) Iterator.empty
          else { leads.add(p); Iterator.single((study, chrom, p)) }
        }
      }
      .toDF("studyId", "chromosome", "_posL")
  }

  /** Clump pre-filtered significant associations; flags non-lead rows
    * with WINDOW_CLUMPED in `qualityControls` (initialising the column
    * when absent).
    *
    * Same semantics as the reference
    * (reference: src/gentropy/method/window_based_clumping.py:155-258)
    * but a different physical shape: the reference materialises the
    * cluster's position list per row with a shrinking
    * `rowsBetween(currentRow, unboundedFollowing)` frame, which Spark
    * recomputes per row — O(cluster²). Here the greedy kernel runs
    * once per cluster in a groupBy aggregate and the lead set joins
    * back on the cluster key — O(cluster·leads) total and one extra
    * (cluster-keyed, well-distributed) shuffle. 54s → seconds on the
    * sf0.1 bench. Rows tied on position with a cluster lead are
    * flagged as leads too (deterministic; the reference breaks such
    * ties arbitrarily by row order). */
  def clump(df: DataFrame, distance: Int = 500000): DataFrame = {
    // The sessionisation window runs in ONE branch only (the slim lead
    // aggregate, column-pruned to the 4 columns it needs). The wide
    // output branch never sees the window: final lead positions are
    // distance-separated within (study, chromosome) — pairwise ≥
    // `distance` within a cluster by the greedy invariant, and
    // clusters themselves are > `distance` apart — so position alone
    // identifies a lead there and the output side is a plain
    // scan + marker equi-join. (The earlier shape joined on
    // cluster_id too, which forced a second full sort+window over the
    // wide rows: the 100×-scale ChainBench measured that second
    // evaluation at ~3.3k CPU-seconds — more than everything else in
    // the operator combined.)
    // Both branches re-read `df` rather than a persisted copy: the wide
    // columnar cache build measured more expensive than a pushdown-
    // pruned re-scan at mega-cluster scale (26.8 vs 14.2 s at the 100×
    // rehearsal).
    val withCluster = df.withColumn("cluster_id",
      clusterPeaks(col("studyId"), col("chromosome"), col("position"), distance))

    // Lead membership via a join against the per-cluster lead set,
    // computed by the STREAMED sorted-partition kernel — deliberately
    // NOT by a window and NOT by a collect_list aggregate. Three
    // earlier shapes died at mega-cluster density (dense positions
    // fusing a whole (study, chromosome) into one 0.4-1M-row cluster,
    // caught by the 100× rehearsals): (1) `first(leads).over` carried
    // the ~10⁴-element lead array on every row with a per-row O(L)
    // array_contains; (2) `collect_list(...).over(unbounded)` once per
    // frame — WindowExec's output projection still WRITES the array
    // into every output row, O(cluster²) bytes; (3) the groupBy
    // collect_list + array_sort aggregate — one array per cluster, but
    // at 60 × 1M-row clusters just building and sorting those boxed
    // struct arrays measured 179 s of a 175 s operator wall
    // (ChainBench 100×). streamedClusterLeads keeps O(leads) state and
    // zero per-group buffers; the marker join is an equi-join the
    // planner broadcasts while the lead set is small — AQE falls back
    // to a shuffled join past the threshold.
    val clusterLeads = streamedClusterLeads(withCluster, distance.toLong)
      .withColumn("_isLead", lit(true))
    val joined = df
      .withColumn("_posL", col("position").cast("long"))
      .join(clusterLeads, Seq("studyId", "chromosome", "_posL"), "left")
      .drop("_posL")
    val notLead = col("_isLead").isNull
    val qc =
      if (df.columns.contains("qualityControls"))
        ArrayFns.updateQualityFlag(col("qualityControls"), notLead, WindowClumpedFlag)
      else
        when(notLead, array(lit(WindowClumpedFlag)))
          .otherwise(array().cast("array<string>"))

    joined
      .withColumn("studyLocusId",
        ArrayFns.generateIdentifier(Seq(col("studyId"), col("variantId"))))
      .withColumn("qualityControls", qc)
      .drop("_isLead")
  }

  /** Leads only — rows that survived clumping. */
  def leads(df: DataFrame, distance: Int = 500000): DataFrame =
    clump(df, distance)
      .filter(ArrayFns.validRows(col("qualityControls"), Seq(WindowClumpedFlag)))
}
