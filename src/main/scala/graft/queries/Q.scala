package graft.queries

import graft.functions.{ArrayFns, PValues}
import graft.operators._
import graft.plans.ArrayCumSum.array_cumsum
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The t2 correctness-gate query inventory: one query per SURVEY §2
  * operator class, each with a DuckDB oracle (`Oracles`). Queries run
  * over the driver's TPC-H-ish tables; genetics-shaped inputs are
  * synthesised deterministically from `lineitem` with the identical
  * formula on both engines.
  *
  * Cross-engine determinism rules:
  *  - every float aggregate is quantised with [[Q.q]] — floor(x·10^d +
  *    0.500000001) — the same IEEE formula both engines evaluate, so
  *    results are bit-identical unless the engines disagree by >1e-9;
  *  - raw doubles are only emitted when they are copied (or exactly
  *    derived) from parquet values, never when accumulated;
  *  - all orderings carry a total tie-break.
  */
object Q {

  /** Quantise a double to d decimal digits as a long, engine-stable. */
  def q(c: Column, d: Int): Column =
    floor(c * math.pow(10, d) + lit(0.500000001)).cast("long")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Spread a scan across cores before a CPU-bound derivation. The
    * driver's test tables are single-row-group parquet files, and
    * parquet splits only at row-group boundaries — so every
    * scan-rooted stage otherwise runs as ONE task no matter the core
    * count (measured: an 8.3 s single-task map stage in the rsID
    * mapping). Production tables arrive in many partitions and skip
    * this; the pattern itself (repartition when partitions ≪ cores
    * before expensive per-row work) is production-valid.
    *
    * r16: keyed HASH repartition over the caller-named deterministic
    * high-cardinality key columns, replacing round-robin. A keyless
    * `repartition(n)` first LOCALLY SORTS its input by full binary row
    * (`spark.sql.execution.sortBeforeRepartition`, on by default since
    * SPARK-23207, so retried tasks reproduce the row→partition map) —
    * and on a single-row-group scan that sort runs serially inside the
    * ONE scan task, exactly the stage spread() exists to shrink. Hash
    * partitioning depends only on row content, needs no sort, stays
    * retry-deterministic, and when the keys equal a downstream
    * groupBy/window key the exchange is REUSED outright (optimization
    * guide §2.4/§2.5). Keys must be (near-)unique per row for an even
    * spread.
    *
    * r17: conditional on the INPUT partitioning — a no-op when the
    * source already carries >= defaultParallelism partitions, so the
    * single-row-group rescue can never become a full-corpus reshuffle
    * (plus a parallelism clamp) on a production table that arrives in
    * thousands of input partitions. The partition count comes from the
    * physical scan split (`df.rdd.getNumPartitions` — file listing
    * only, no job). The signature requires at least one key: a
    * zero-key call would silently fall back to RoundRobinPartitioning
    * with its serial sortBeforeRepartition pass — exactly the
    * pathology r16 removed. */
  private def spread(s: SparkSession, df: DataFrame, key: Column,
                     more: Column*): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p, (key +: more): _*)
  }

  // ---------------------------------------------------------------- scans

  /** S2/P: projection + filter, pushed to the parquet scan. */
  def scanPrune(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity").cast("long").as("qty"), col("l_returnflag"))

  /** P1/F3: p-value decomposition + two-term significance filter. */
  def pvalueFilter(s: SparkSession, dir: String): DataFrame = {
    val p = col("l_discount") + 0.0015
    val e = floor(log10(p)).cast("int")
    val m = p / pow(lit(10.0), e)
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        m.as("mantissa"), e.as("exponent"))
      .filter(PValues.significanceFilter(col("mantissa"), col("exponent"), 0.05))
      .select(col("l_orderkey"), col("l_linenumber"),
        q(col("mantissa"), 6).as("m_q6"), col("exponent"))
  }

  /** P4: genomic-region-style inclusion + exclusion band predicate. */
  def regionFilter(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_partkey").between(50, 150) &&
        !col("l_partkey").between(90, 99) && col("l_returnflag") =!= "A")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_partkey"))

  // ---------------------------------------------------------------- joins

  /** J1: self equi+theta join — pairs of same-user events. */
  def selfJoinPairs(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.alias("a").join(e.alias("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_id") < col("b.event_id") &&
          col("a.event_type") =!= col("b.event_type"))
      .groupBy(col("a.user_id").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** J2: full outer alignment with null-side flags. */
  def outerAlign(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders").groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("custkey"), lit(1L).as("is_rich"))
    perCust.join(rich, Seq("custkey"), "outer")
      .select(col("custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("is_rich"), lit(0L)).as("is_rich"))
  }

  /** J3: broadcast banded range join (equi key + position band). */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val bands = t(s, dir, "nation").select(
      col("n_nationkey").cast("long").as("bandkey"),
      (col("n_regionkey") % 5).cast("long").as("chrom"),
      (col("n_nationkey") * 400L).as("lo"),
      (col("n_nationkey") * 400L + 500L).as("hi"))
    val li = t(s, dir, "lineitem").select(
      (col("l_suppkey") % 5).as("chrom"),
      ((col("l_partkey") * 97) % 10000).as("position"),
      col("l_extendedprice"))
    li.join(broadcast(bands),
        li("chrom") === bands("chrom") &&
          col("position").between(col("lo"), col("hi")))
      .groupBy("bandkey")
      .agg(count(lit(1)).as("n"), q(sum("l_extendedprice"), 0).as("revenue_q0"))
  }

  /** J4 scale path: interval-containment join where NEITHER side is
    * broadcastable — the band-bucketed equi-join (plans/BandJoin) that
    * replaces BroadcastNestedLoop when the interval table outgrows the
    * broadcast threshold. 600k points × 150k intervals resolved as a
    * plain shuffled equi-join on (chrom, band). */
  def intervalBandJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.BandJoin
    val pts = t(s, dir, "lineitem").select(
      (col("l_suppkey") % 3).as("chrom"),
      ((col("l_orderkey") * 61) % 100000).as("pos"),
      col("l_quantity"))
    val iv = t(s, dir, "orders").select(
      col("o_orderkey").as("iv_id"),
      (col("o_custkey") % 3).as("ichrom"),
      ((col("o_orderkey") * 97) % 100000).as("lo"))
      .withColumn("hi", col("lo") + 20)
    BandJoin.bandJoin(pts, iv, "pos", "lo", "hi", width = 32,
        pointKeys = Seq("chrom"), intervalKeys = Seq("ichrom"))
      .groupBy("iv_id")
      .agg(count(lit(1)).as("n"), q(sum(col("l_quantity")), 0).as("qty_q0"))
  }

  /** Salted skew join: half of lineitem lands on ONE join key — the
    * shape where a plain shuffle join serialises a TB through one
    * reducer at production scale. The salt spreads the hot key over 16
    * sub-keys; results equal the unsalted join (oracle is the plain
    * join). */
  def skewJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = t(s, dir, "lineitem").select(
      when(col("l_orderkey") % 2 === 0, 0L)
        .otherwise(col("l_orderkey") % 1000).as("k"),
      col("l_extendedprice"))
    val dim = t(s, dir, "part").filter(col("p_partkey") < 1000)
      .select(col("p_partkey").as("dk"), col("p_type"))
    SkewJoin.saltedJoin(fact, dim, "k", "dk", salts = 16)
      .groupBy("p_type")
      .agg(count(lit(1)).as("n"), q(sum("l_extendedprice"), 0).as("price_q0"))
  }

  /** A11+: rollup corpus stats (subtotals by source, grand total) —
    * the Expand-based grouping-sets operator class. */
  def rollupStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .rollup(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))

  /** J5: left-semi join (orders with any max-quantity line). */
  def semiJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").alias("o")
      .join(t(s, dir, "lineitem").filter(col("l_quantity") >= 50).alias("l"),
        col("o.o_orderkey") === col("l.l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))

  /** J7: star join over broadcast dims. */
  def starJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n"),
        q(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 0)
          .as("revenue_q0"))

  /** J8: validation left join + null-probe flag. */
  def validationJoin(s: SparkSession, dir: String): DataFrame = {
    val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), lit(1).as("hit"))
    t(s, dir, "orders")
      .join(rich, col("o_custkey") === col("c_custkey"), "left")
      .withColumn("missing", col("hit").isNull.cast("long"))
      .groupBy("o_orderstatus", "missing")
      .agg(count(lit(1)).as("n"))
  }

  // ----------------------------------------------------------------- aggs

  /** A1/A4: per-group sorted collect rendered as a string. */
  def collectSorted(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(concat_ws(",",
        sort_array(collect_list(col("l_quantity").cast("long")))).as("quantities"))

  /** A2: eCAVIAR-shaped sum of products. */
  def sumProducts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(q(sum(col("l_extendedprice") * col("l_discount")), 0).as("sp_q0"))

  /** A3: average sign. */
  def signAvg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_linestatus")
      .agg(q(avg(signum(col("l_quantity") - 25.5)), 6).as("avg_sign_q6"))

  /** A5: stats battery — count/mean/stddev/min/max. */
  def statsBattery(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        q(mean("l_discount"), 6).as("mean_q6"),
        q(stddev("l_discount"), 6).as("sd_q6"),
        col("l_returnflag").as("rf2"))
      .drop("rf2")

  /** A9: pivot long→wide (event type counts per user bucket). */
  def pivotEvents(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy((col("user_id") % 10).as("bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))

  /** A10: melt wide→long via unpivot. */
  def meltLineitem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")

  // -------------------------------------------------------------- windows

  /** W1: top-1 per group with total tie-break. */
  def top1PerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
  }

  /** W3: gap-based sessionisation of the event stream. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val events = t(s, dir, "events")
    // µs since epoch, matching DuckDB's epoch_us regardless of how the
    // parquet writer encoded ts: raw ns longs (nanosAsLong reads) get an
    // integer div; timestamp[us] (TIMESTAMP or TIMESTAMP_NTZ under the
    // UTC session) goes through unix_micros
    val tsUs = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    events
      .withColumn("ts_us", tsUs)
      .withColumn("gap", col("ts_us") - lag("ts_us", 1).over(w))
      .withColumn("is_new",
        (col("gap").isNull || col("gap") > 600L * 1000000L).cast("long"))
      .groupBy("user_id")
      .agg(sum("is_new").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  /** Per-10-minute-bucket top-3 most active users via the bounded
    * heap aggregate (no window function, no per-bucket shuffle of the
    * count rows). */
  def topkWindow(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
    val tsUs = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    val counts = events.withColumn("ts_us", tsUs)
      .withColumn("bucket", expr("ts_us div 600000000"))
      .groupBy("bucket", "user_id").agg(count(lit(1)).as("n"))
    graft.plans.TopK.rankBy(counts, Seq("bucket"), "n", "user_id", 3)
      .select(col("bucket"), col("user_id"), col("n"),
        col("rank").cast("long").as("rank"))
  }

  /** W4: rank scan + distance-to-best within group (exact doubles). */
  def rankScan(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .withColumn("gap_to_best",
        first("o_totalprice").over(w) - col("o_totalprice"))
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"), col("gap_to_best"))
  }

  /** W5: running max + lag over a per-supplier ordered frame. */
  def runningFrame(s: SparkSession, dir: String): DataFrame = {
    // full tie-break: (l_orderkey, l_linenumber) alone is not unique
    val w = Window.partitionBy("l_suppkey").orderBy("l_orderkey", "l_linenumber",
      "l_partkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
    t(s, dir, "lineitem")
      .withColumn("run_max_qty",
        max(col("l_quantity").cast("long"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_okey", lag("l_orderkey", 1).over(w))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_suppkey"), col("run_max_qty"), col("prev_okey"))
  }

  /** W7: exact per-group percentiles. */
  def medians(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_returnflag")
      .agg(
        q(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_q4"),
        q(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_q4"))

  // -------------------------------------------------------------- set ops

  /** Union-distinct of two key sets. */
  def setOps(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").cast("long").as("k"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("k")))
      .distinct()

  /** CDC snapshot upsert: a synthetic latest-wins delta (competing
    * updates, deletes, inserts) applied to the orders snapshot via
    * [[Upsert.applyDelta]] — delta-only window, single anti-join on
    * the snapshot side. */
  def upsertOrders(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val upd1 = orders.filter(col("o_orderkey") % 10 < 2)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .withColumn("__seq", lit(1L)).withColumn("__op", lit("U"))
    val upd2 = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5000.0)
      .withColumn("__seq", lit(2L)).withColumn("__op", lit("U"))
    val del = orders.filter(col("o_orderkey") % 10 === 2)
      .withColumn("__seq", lit(1L)).withColumn("__op", lit("D"))
    val ins = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", -col("o_orderkey"))
      .withColumn("__seq", lit(1L)).withColumn("__op", lit("I"))
    val delta = upd1.unionByName(upd2).unionByName(del).unionByName(ins)
    Upsert.applyDelta(orders, delta, Seq("o_orderkey"), "__seq", Some("__op"))
      .select(col("o_orderkey"), q(col("o_totalprice"), 2).as("price_q2"),
        col("o_orderstatus"))
  }

  // ------------------------------------------------------ scalar functions

  /** F9: harmonic sum over per-group score arrays. */
  def harmonicSum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(q(ArrayFns.harmonicSum(collect_list(col("l_discount"))), 6)
        .as("harmonic_q6"))

  /** F20: credible-set-style exclusive prefix sums (O(n) cumsum). */
  def cumsumFlags(s: SparkSession, dir: String): DataFrame = {
    val sorted = sort_array(collect_list(col("l_discount")), asc = false)
    t(s, dir, "lineitem").groupBy("l_orderkey")
      .agg(sorted.as("d"))
      .withColumn("cum", array_cumsum(col("d")))
      .withColumn("prev", zip_with(col("cum"), col("d"), (c, p) => c - p))
      .select(col("l_orderkey"),
        size(filter(col("prev"), p => p < 0.155)).cast("long").as("n_core"))
  }

  /** F3: p-value string codec round trip. */
  def pvalueCodec(s: SparkSession, dir: String): DataFrame = {
    val m = (col("l_partkey") % 9) + 1
    val e = (col("l_suppkey") % 30) + 2
    t(s, dir, "lineitem")
      .withColumn("pstr", concat(m, lit("e-"), e))
      .withColumn("mantissa", split(col("pstr"), "e-").getItem(0).cast("long"))
      .withColumn("exponent", -split(col("pstr"), "e-").getItem(1).cast("long"))
      .groupBy("mantissa", "exponent")
      .agg(count(lit(1)).as("n"))
  }

  // ------------------------------------------- genetics-shaped (synth)

  /** Shared synthetic StudyLocusOverlap rows from lineitem — the same
    * formula is written in SQL inside the oracles. */
  def synthOverlaps(s: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    // the full column tie-break makes the kept row engine-independent
    val w = Window
      .partitionBy(
        concat(lit("L"), col("l_orderkey") % 20),
        concat(lit("R"), col("l_partkey") % 10),
        concat(lit("v"), col("l_partkey") % 200))
      .orderBy("l_orderkey", "l_linenumber", "l_suppkey", "l_partkey",
        "l_extendedprice", "l_quantity", "l_discount", "l_tax")
    t(s, dir, "lineitem")
      // pre-partition on the window keys: without this the planner's
      // rank-limit pushdown (Sort + WindowGroupLimit) runs BELOW the
      // window exchange — i.e. a full 11-column sort of the table
      // inside the ONE task the single-row-group scan gets (measured:
      // 2.0 s wall ≈ cpu, serial, on the q_gx_coloc hot stage). The
      // explicit hash repartition is reused by the window
      // (ClusteredDistribution on the same keys), so the scan task
      // only scans + projects + writes, and the sort/window/aggregate
      // all run at full parallelism. Same exchange count; row_number
      // is order-stable under the total tie-break.
      .repartition(s.sparkContext.defaultParallelism,
        concat(lit("L"), col("l_orderkey") % 20),
        concat(lit("R"), col("l_partkey") % 10),
        concat(lit("v"), col("l_partkey") % 200))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        concat(lit("L"), col("l_orderkey") % 20).as("leftStudyLocusId"),
        concat(lit("R"), col("l_partkey") % 10).as("rightStudyLocusId"),
        lit("eqtl").as("rightStudyType"),
        (col("l_suppkey") % 3).cast("string").as("chromosome"),
        concat(lit("v"), col("l_partkey") % 200).as("tagVariantId"),
        (col("l_extendedprice") / 5000).as("left_logBF"),
        (col("l_quantity") / 10).as("right_logBF"),
        (col("l_discount") * 9).as("left_pp"),
        (col("l_tax") * 10).as("right_pp"),
        (col("l_extendedprice") / 10000 - 2).as("left_beta"),
        (col("l_tax") * 10 - 0.4).as("right_beta"))
      .select(col("leftStudyLocusId"), col("rightStudyLocusId"),
        col("rightStudyType"), col("chromosome"), col("tagVariantId"),
        struct(
          col("left_logBF"), col("right_logBF"),
          col("left_pp").as("left_posteriorProbability"),
          col("right_pp").as("right_posteriorProbability"),
          col("left_beta"), col("right_beta")).as("statistics"))
  }

  /** COLOC over the synthetic overlaps (quantised posteriors). */
  def coloc(s: SparkSession, dir: String): DataFrame =
    Coloc.colocalise(synthOverlaps(s, dir))
      .select(col("leftStudyLocusId"), col("rightStudyLocusId"), col("chromosome"),
        col("numberColocalisingVariants"),
        q(col("h0"), 4).as("h0_q4"), q(col("h1"), 4).as("h1_q4"),
        q(col("h2"), 4).as("h2_q4"), q(col("h3"), 4).as("h3_q4"),
        q(col("h4"), 4).as("h4_q4"),
        q(col("betaRatioSignAverage"), 6).as("beta_ratio_q6"))

  /** eCAVIAR over the synthetic overlaps. */
  def ecaviar(s: SparkSession, dir: String): DataFrame =
    Coloc.eCaviar(synthOverlaps(s, dir))
      .select(col("leftStudyLocusId"), col("rightStudyLocusId"), col("chromosome"),
        col("numberColocalisingVariants"),
        q(col("clpp"), 6).as("clpp_q6"),
        q(col("betaRatioSignAverage"), 6).as("beta_ratio_q6"))

  /** Synthetic summary statistics from lineitem (spread: the string
    * building + downstream window/groupBy map sides otherwise run as
    * one task off the single-row-group file). */
  def synthSumstats(s: SparkSession, dir: String): DataFrame =
    spread(s, t(s, dir, "lineitem"),
      col("l_orderkey"), col("l_linenumber")).select(
      concat(lit("s"), col("l_orderkey") % 5).as("studyId"),
      (col("l_suppkey") % 3).cast("string").as("chromosome"),
      ((col("l_partkey") * 97) % 1000000).cast("int").as("position"),
      concat(lit("v"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("variantId"),
      ((col("l_partkey") % 90) / 10.0 + 1.0).cast("float").as("pValueMantissa"),
      (-(col("l_suppkey") % 12) - 4).cast("int").as("pValueExponent"),
      (col("l_extendedprice") / 5000 - 10).as("beta"),
      (col("l_tax") + 0.01).as("standardError"),
      col("l_orderkey"), col("l_linenumber"))

  /** P2: the row-level sumstat sanity filter over a synthetic frame
    * with every malformation branch deterministically planted — null
    * components (% 83), zero beta (% 97), non-positive SE (% 89),
    * p > 1 (% 79: exponent forced to 0), NaN beta (% 73). The oracle
    * replays the mutations and the filter battery. */
  def sanityFilterQ(s: SparkSession, dir: String): DataFrame = {
    val ss = synthSumstats(s, dir)
      .withColumn("beta",
        when(col("l_orderkey") % 97 === 0, lit(0.0))
          .when(col("l_orderkey") % 73 === 0, lit(Double.NaN))
          .otherwise(col("beta")))
      .withColumn("standardError",
        when(col("l_orderkey") % 89 === 0, lit(-0.5))
          .otherwise(col("standardError")))
      .withColumn("pValueMantissa",
        when(col("l_orderkey") % 83 === 0, lit(null).cast("float"))
          .otherwise(col("pValueMantissa")))
      .withColumn("pValueExponent",
        when(col("l_orderkey") % 79 === 0, lit(0))
          .otherwise(col("pValueExponent")))
    SumstatQC.sanityFilter(ss)
      .select(col("variantId"), col("studyId"),
        q(col("beta"), 6).as("beta_q6"),
        q(col("standardError"), 6).as("se_q6"),
        q(col("pValueMantissa").cast("double"), 6).as("mantissa_q6"),
        col("pValueExponent").cast("long").as("exponent"))
  }

  /** W3+W1 on sumstats: session clusters + deterministic top-1 lead. */
  def clusterTop1(s: SparkSession, dir: String): DataFrame = {
    val byPos = Window.partitionBy("studyId", "chromosome")
      .orderBy(col("position"), col("l_orderkey"), col("l_linenumber"))
    val ss = synthSumstats(s, dir)
      .withColumn("gap", col("position") - lag("position", 1).over(byPos))
      .withColumn("is_new", (col("gap").isNull || col("gap") > 10000).cast("long"))
      .withColumn("cluster",
        sum("is_new").over(byPos.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val lead = Window.partitionBy("studyId", "chromosome", "cluster")
      .orderBy(col("pValueExponent"), col("pValueMantissa"), col("position"),
        col("l_orderkey"), col("l_linenumber"))
    ss.withColumn("rnk", row_number().over(lead))
      .withColumn("n_in_cluster",
        count(lit(1)).over(Window.partitionBy("studyId", "chromosome", "cluster")))
      .filter(col("rnk") === 1)
      .select(col("studyId"), col("chromosome"), col("cluster"),
        col("position").cast("long").as("lead_position"),
        col("pValueExponent").cast("long").as("lead_exponent"),
        col("n_in_cluster"))
  }

  /** QC subset with an exact-percentile GC lambda (oracle-friendly). */
  def qcMetrics(s: SparkSession, dir: String): DataFrame = {
    val ss = synthSumstats(s, dir)
    val beta = SumstatQC.betaCheck(ss)
      .select(col("studyId"), q(col("mean_beta"), 6).as("mean_beta_q6"))
    val counts = SumstatQC.numberOfSnps(ss, 5e-8)
    val lambda = ss
      .select(col("studyId"), pow(col("beta") / col("standardError"), 2).as("z2"))
      .groupBy("studyId")
      .agg(q(expr("percentile(z2, 0.5)") /
        graft.functions.StatMath.chi2Ppf(0.5, 1.0), 6).as("gc_lambda_q6"))
    beta.join(counts, Seq("studyId")).join(lambda, Seq("studyId"))
  }

  // --------------------------------------------- documents / embeddings

  /** Exact dedup keeping the smallest doc id per text. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** Exact n-gram Jaccard near-dup pairs. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
      shingleSize = 3, threshold = 0.4, cache = queryCache)
      .select(col("idA"), col("idB"), q(col("jaccard"), 6).as("jaccard_q6"))

  /** Directed shingle-containment pairs — near-supersets a Jaccard
    * threshold misses (short doc embedded in a long one). */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir, "documents"), "text", "doc_id",
      shingleSize = 3, threshold = 0.5, cache = queryCache)
      .select(col("idSub").as("id_sub"), col("idSuper").as("id_super"),
        q(col("containment"), 6).as("containment_q6"))

  /** Corpus-wide duplicated-span removal: every 10-token block seen
    * earlier (by (doc_id, block index)) anywhere in the corpus is cut
    * and the survivors re-joined. */
  def dedupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.spanDedup(t(s, dir, "documents"), "text", "doc_id",
      blockTokens = 10, cache = queryCache)

  /** Upper-triangle covariance entries of the embedding corpus,
    * computed from the ONE-PASS native sufficient-statistics aggregate
    * (count + sums + outer-product sums) that pcaFit consumes. */
  def pcaCov(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = 64
    val e = t(s, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
    val flat = e.agg(graft.plans.VectorStats.outerSums(col("v"), d).as("f"))
      .head().getSeq[Double](0)
    val n = flat(0)
    val mean = Array.tabulate(d)(i => flat(1 + i) / n)
    val rows = for {i <- 0 until d; j <- i until d} yield {
      val off = 1 + d + i * d - i * (i - 1) / 2 + (j - i)
      val cov = flat(off) / n - mean(i) * mean(j)
      (i.toLong, j.toLong, math.floor(cov * 1e6 + 0.500000001).toLong)
    }
    rows.toDF("i", "j", "cov_q6")
  }

  /** One distributed Lloyd update from fixed seed centroids (vec_id %
    * 100 == 0, index-ordered): per-(cell, dim) mean + population — the
    * per-iteration building block of Similarity.kmeansFit, with
    * assignment through the native NearestCells expression. */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings").select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("embedding"))
    // id < 2000 pins the centroid count independent of corpus size
    // (no-op at driver scales; see semanticDedup's rehearsal note —
    // k ∝ N makes the N×k assignment quadratic)
    val cents = e.filter(col("id") % 100 === 0 && col("id") < 2000)
      .orderBy("id")
      .select("embedding").collect().map(_.getSeq[Double](0).toArray)
    Similarity.kmeansAssign(e, cents)
      .select(col("cell").cast("long").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cell", "pos")
      .agg(count(lit(1)).as("n"), q(avg("v"), 6).as("mean_q6"))
      .select(col("cell"), col("pos").cast("long").as("pos"),
        col("n"), col("mean_q6"))
  }

  /** Gopher-style hard-filter rule battery with per-rule flags (ints
    * for the oracle) and the conjunction. */
  def textQualityRules(s: SparkSession, dir: String): DataFrame = {
    val flags = TextAnalysis.qualityRuleFlags(t(s, dir, "documents"),
      "text", "doc_id", minTokens = 30)
    flags.select(col("doc_id") +:
      (TextAnalysis.QualityRuleNames :+ "passes")
        .map(r => col(r).cast("int").as(r)): _*)
  }

  /** Sliding-window context chunks (12-token windows, 3-token
    * overlap) over the documents corpus. */
  def textChunks(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocuments(t(s, dir, "documents"), "text", "doc_id",
      maxTokens = 12, overlapTokens = 3)

  /** BM25 top-10 retrieval for a 3-query batch over the documents
    * corpus (rank ties toward the smaller doc_id). */
  def searchBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = Seq((1L, "spark window agg"), (2L, "customer order query"),
      (3L, "vector hash join")).toDF("query_id", "qtext")
    Search.bm25TopK(t(s, dir, "documents"),
        "text", "doc_id", qs, k = 10, cache = queryCache)
      .select(col("query_id"), col("rank"), col("doc_id"),
        q(col("score"), 6).as("score_q6"))
  }

  /** Reciprocal-rank fusion of two BM25 scorer variants (the hybrid-
    * search combiner) over the same 3-query batch. */
  def searchRrf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = Seq((1L, "spark window agg"), (2L, "customer order query"),
      (3L, "vector hash join")).toDF("query_id", "qtext")
    val docs = t(s, dir, "documents")
    // one index build = one corpus tokenise pass shared by both
    // systems (bm25SearchIndex ≡ bm25TopK is spec-pinned)
    val idx = Search.bm25IndexBuild(docs, "text", "doc_id", cache = queryCache)
    val sys1 = Search.bm25SearchIndex(idx, qs, k = 10, cache = queryCache)
    val sys2 = Search.bm25SearchIndex(idx, qs, k = 10,
      // b > 0 keeps sys2 length-normalised: with b = 0 the score is
      // dl-independent and same-tf docs tie EXACTLY, so the rank cut
      // hinges on float summation order (= partition count) — the
      // hash compare then flips between 4- and 8-core runs
      k1 = 0.5, b = 0.35, cache = queryCache)
    Search.rrfFuse(Seq(sys1, sys2), k = 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        q(col("score"), 6).as("score_q6"))
  }

  /** Hybrid retrieval: lexical BM25 over documents fused (RRF) with
    * dense cosine ANN over the parallel embedding space (doc_id and
    * vec_id share the item id space) for the same 3 query items. */
  def searchHybrid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = Seq((1L, "spark window agg"), (2L, "customer order query"),
      (3L, "vector hash join")).toDF("query_id", "qtext")
    val lex = Search.bm25TopK(
        spread(s, t(s, dir, "documents"), col("doc_id")), "text", "doc_id", qs,
        k = 10, cache = queryCache)
      .select("query_id", "rank", "doc_id")
    val emb = t(s, dir, "embeddings").select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("embedding"))
    val dense = Similarity.bruteForceTopKAgg(emb,
        emb.filter(col("id").isin(1L, 2L, 3L)), 10)
      .select(col("queryId").as("query_id"),
        col("rank").cast("long").as("rank"),
        col("neighbourId").as("doc_id"))
    Search.rrfFuse(Seq(lex, dense), k = 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        q(col("score"), 6).as("score_q6"))
  }

  /** Term co-occurrence + PMI over the documents corpus (stop cap at
    * df > 0.9·N, pairs seen in ≥ 5 docs). */
  /** Add-α bigram LM fluency score per document (integer nano-nat
    * sums — engine-exact). */
  def textBigramLp(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogProbScores(t(s, dir, "documents"), "text",
      "doc_id", alpha = 0.1)

  /** DSIR importance resampling: select the 100 documents whose
    * hashed-n-gram distribution best matches the English sub-corpus
    * (Gumbel-top-k over the target/corpus log-ratio weight). */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    ImportanceSampling.dsirSelect(docs, docs.filter(col("lang") === "en"),
        "text", "doc_id", k = 100, buckets = 4096, cache = queryCache)
      .select(col("doc_id"), col("lang"), col("logw_nano"),
        q(col("gumbel_key"), 6).as("gumbel_q6"))
  }

  /** c-TF-IDF cluster labelling: top-5 terms per source domain. */
  def textClusterTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.clusterTopTerms(
        t(s, dir, "documents"), "source", "text",
        k = 5, minTermCount = 2)
      .select(col("cluster"), col("rank"), col("term"), col("ctf"),
        col("f_t"), q(col("score"), 6).as("score_q6"))

  def textCooccurrence(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.termCooccurrence(
        t(s, dir, "documents"), "text", "doc_id",
        minPairCount = 5, stopDfFrac = 0.9, cache = queryCache)
      .select(col("term_a"), col("term_b"), col("n_pairs"),
        col("df_a"), col("df_b"), q(col("pmi"), 6).as("pmi_q6"))

  /** Token/stopword text statistics. */
  def textStats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      size(filter(TextAnalysis.tokens(col("text")),
        tk => tk.isin("the", "of", "and", "to", "in", "is", "that", "it"))).cast("long")
        .as("n_stopwords"))
  }

  /** Whitespace vs BPE-ish token counts per document (the two token
    * accounting modes of the packing/mixing operators). */
  def textTokens(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_ws_tokens"),
      TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_bpeish_tokens"))
  }

  /** Per-document heuristic language ID (stopword-vote argmax over
    * {en,es,fr,de}) plus two of the underlying stopword ratios. */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
      TextAnalysis.languageId(col("text")).as("language"),
      q(TextAnalysis.stopwordRatio(col("text"), "en"), 6).as("en_ratio_q6"),
      q(TextAnalysis.stopwordRatio(col("text"), "de"), 6).as("de_ratio_q6"))
  }

  /** Per-document composite quality score (length / punctuation /
    * stopword / word-length signals), q6-quantised for the oracle. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"),
      q(TextAnalysis.qualityScore(col("text")), 6).as("quality_q6"))
  }

  /** Corpus-relative unigram log-prob quality score per document,
    * q6-quantised for the oracle. */
  def textUnigramLp(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.unigramLogProbScores(t(s, dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), q(col("unigramLogProb"), 6).as("unigram_lp_q6"),
        col("nTokens").cast("long").as("n_tokens"))

  /** Gopher-style intra-document n-gram repetition signals. */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramRepetitionSignals(t(s, dir, "documents"), "text", "doc_id")
      .select(col("doc_id"), col("nBigrams").cast("long").as("n_bigrams"),
        q(col("topBigramFrac"), 6).as("top_bigram_frac_q6"),
        q(col("dupTrigramFrac"), 6).as("dup_trigram_frac_q6"))

  /** Per-document OOV rate against the corpus top-100 vocabulary. */
  def textOov(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovRates(t(s, dir, "documents"), "text", "doc_id", vocabSize = 100)
      .select(col("doc_id"), col("nTokens").cast("long").as("n_tokens"),
        q(col("oovFrac"), 6).as("oov_frac_q6"))

  /** PII redaction report over documents with deterministically
    * injected PII (every third doc gains an email + phone + IPv4
    * derived from its id — the corpus itself contains none, so the
    * injection exercises the match/replace paths on both engines). */
  def textPii(s: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" at 10.0."), (col("doc_id") % 256).cast("string"), lit(".7")))
      .otherwise(col("text"))
    PiiRedaction.report(
      t(s, dir, "documents").select(col("doc_id"), injected.as("text")),
      "text", "doc_id")
      .select(col("doc_id"), col("nEmails").as("n_emails"),
        col("nIps").as("n_ips"), col("nPhones").as("n_phones"),
        col("redactedLen").as("redacted_len"),
        col("redactedMd5").as("redacted_md5"))
  }

  /** Deterministic md5-salted train/val/test assignment. */
  def mixSplit(s: SparkSession, dir: String): DataFrame =
    Mixing.assignSplit(t(s, dir, "documents")
        .select(col("doc_id"), col("source")), "doc_id",
      valFrac = 0.1, testFrac = 0.1)

  /** Sequence packing: documents into ~2000-token shards via the
    * distributed two-level prefix sum (no global single-partition
    * window). Oracle mirrors with a plain window cumsum. */
  def packShards(s: SparkSession, dir: String): DataFrame =
    Packing.packByBudget(
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", budget = 2000L, buckets = 64)

  /** Fingerprint-style whitespace-normalised dup summary. */
  def fingerprintSummary(s: SparkSession, dir: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    t(s, dir, "documents")
      .select(norm.as("norm"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("norm")).as("n_distinct"))
  }

  /** Brute-force cosine top-k for the first five query vectors. */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.bruteForceTopK(emb, emb.filter(col("id") < 5), 5)
      .select(col("queryId"), col("neighbourId"), col("rank").cast("long").as("rank"),
        q(col("similarity"), 4).as("sim_q4"))
  }

  /** [[annTopK]] through the bounded top-k aggregate (no window, no
    * corpus shuffle) — same rows, same oracle semantics. */
  def annTopKAgg(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.bruteForceTopKAgg(emb, emb.filter(col("id") < 5), 5)
      .select(col("queryId"), col("neighbourId"), col("rank").cast("long").as("rank"),
        q(col("similarity"), 4).as("sim_q4"))
  }

  /** Multimodal metadata (payload byte length without decode). */
  def blobMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.toBlobTable(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id"), col("kind"), col("nBytes"))

  // ------------------------------------------------- rows-only queries

  /** Full greedy window clumping (iterative kernel — no SQL oracle).
    * Distance 100 over the ~25bp-dense synthetic positions keeps
    * cluster sizes bounded at every scale factor. */
  def windowClumpFull(s: SparkSession, dir: String): DataFrame =
    WindowBasedClumping.leads(synthSumstats(s, dir), distance = 100)
      .select(col("studyId"), col("chromosome"),
        col("position").cast("long").as("position"), col("variantId"),
        col("studyLocusId"))

  /** Overlaps → COLOC end-to-end over synthesised credible sets.
    *
    * Synth densities are scale-independent in BOTH directions: one
    * locus per order (constant ~4 tags each) and a tag space that
    * grows with the key range (partkey × okey parity), so per-tag join
    * buckets — and with them the overlap self-join fan-out — stay O(1)
    * as SF increases. (Earlier variants with fixed locus/tag counts
    * went quadratic at sf0.1.) */
  def overlapsColocE2E(s: SparkSession, dir: String): DataFrame =
    Coloc.colocaliseFused(e2eFusedTags(s, dir))
      .select(col("leftStudyLocusId"), col("rightStudyLocusId"),
        col("rightStudyType"), col("chromosome"),
        col("numberColocalisingVariants"),
        q(col("h0"), 4).as("h0_q4"), q(col("h1"), 4).as("h1_q4"),
        q(col("h2"), 4).as("h2_q4"), q(col("h3"), 4).as("h3_q4"),
        q(col("h4"), 4).as("h4_q4"),
        q(col("betaRatioSignAverage"), 6).as("beta_ratio_q6"))

  /** eCAVIAR end-to-end over the same synthesised credible sets, via
    * the fused intersection-only kernel the colocalisation CLI step
    * runs in production ([[Coloc.eCaviarFused]]) — CLPP and the sign
    * average hash-checked against a direct SQL replay of the tag
    * self-join (the pp/beta addends are exact decimals on both
    * engines, so the sums are order-independent). */
  def ecaviarFusedE2E(s: SparkSession, dir: String): DataFrame =
    Coloc.eCaviarFused(e2eFusedTags(s, dir))
      .select(col("leftStudyLocusId"), col("rightStudyLocusId"),
        col("rightStudyType"), col("chromosome"),
        col("numberColocalisingVariants"),
        q(col("clpp"), 6).as("clpp_q6"),
        q(col("betaRatioSignAverage"), 6).as("beta_ratio_q6"))

  /** Shared deduped flat-tag synthesis of the fused-kernel e2e
    * queries. */
  private def e2eFusedTags(s: SparkSession, dir: String): DataFrame = {
    // dedup by (order, part): credible sets hold each variant once —
    // the invariant Coloc.colocaliseFused relies on (the raw synth has
    // ~0.01% duplicate (locus, variant) pairs); min() keeps the
    // synthesis deterministic and oracle-mirrorable
    // keys = the groupBy keys below: the dedup groupBy then REUSES the
    // spread exchange (one shuffle, complete agg in parallel) instead
    // of a serial round-robin-sorted map side + a second exchange
    val cred = spread(s, t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"))
      .groupBy("l_orderkey", "l_partkey")
      .agg(min(col("l_extendedprice")).as("_price"),
        min(col("l_discount")).as("_disc"),
        min(col("l_tax")).as("_tax"))
      .select(
        concat(lit("L"), col("l_orderkey")).as("studyLocusId"),
        concat(lit("s"), col("l_orderkey") % 50).as("studyId"),
        when(col("l_orderkey") % 2 === 0, "gwas").otherwise("eqtl").as("studyType"),
        (col("l_partkey") % 24).cast("string").as("chromosome"),
        lit("r").as("region"),
        concat(lit("v"), col("l_partkey"), lit("_"), col("l_orderkey") % 2)
          .as("variantId"),
        (col("_price") / 1000).as("logBF"),
        (col("_disc") * 10).as("posteriorProbability"),
        col("_tax").as("beta"),
        lit(1.0f).as("pValueMantissa"), lit(-8).as("pValueExponent"))
    // the dedup'd rows above ARE the flat exploded tags (one per
    // (locus, variant), same schema as Overlaps.explodeLoci), so feed
    // them straight to the fused kernels — no collect_list locus
    // rebuild only to re-explode it (saves a shuffle + per-locus
    // array builds).
    // Two registered queries build this frame; a lazy registered query
    // has no terminal-action hook to unpersist at, so the persist goes
    // through an object-level handle that RELEASES the previous
    // invocation's cache first — a shared-session driver holds at most
    // one live copy (the one the query being built actually reads)
    // instead of accumulating one per invocation for the session.
    e2eTagsCache.release()
    val tags = e2eTagsCache.persist(
      cred.withColumnRenamed("variantId", "tagVariantId"))
    // materialise the cache BEFORE the fused kernel's first action: it
    // reads tags through multiple subplans (self-join sides + locus
    // aggregates), and concurrent consumers of a still-uncached frame
    // race to compute its partitions redundantly (the run-to-run 3.5 ->
    // 10 s wobble this query showed under the bench harness)
    tags.count()
    tags
  }

  /** Cache handle scoping [[e2eFusedTags]]'s persisted frame to the
    * most recent invocation (see the release-then-persist note there).
    * Also registered query-scoped: harnesses release it right after
    * each query's terminal action, so the tags frame stops occupying
    * storage memory for the remainder of a shared-session suite. */
  private val e2eTagsCache =
    graft.core.CacheHandle.queryScoped(graft.core.CacheHandle())

  /** Cache handle scoping [[l2gFullFeatures]]'s shared source frames
    * to the most recent invocation (release-then-persist, exactly the
    * [[e2eTagsCache]] discipline). Object-level + query-scoped is
    * MANDATORY here, not just tidy: the r17 plan-truncating persists
    * are backed by checkpointed RDDs that `cacheManager.clearCache()`
    * cannot see — only this handle's release() drops them. */
  private val l2gSrcCache =
    graft.core.CacheHandle.queryScoped(graft.core.CacheHandle())

  /** Cache handle of every other registered query that persists: the
    * operators' intermediates (dedup signatures, BM25 postings,
    * clumping tag frames, gold-standard expansions) and the builders'
    * own shared inputs. Query-scoped, so a shared-session harness
    * frees them through `CacheHandle.releaseQueryScoped()` after each
    * query's terminal action. */
  private val queryCache =
    graft.core.CacheHandle.queryScoped(graft.core.CacheHandle())

  /** The r12 lifecycle chain's fine-mapping locus extraction as an
    * oracle-checked query: significance-gated leads pull their ±window
    * sumstat variants via a bucketed band join — 3 bucket probes per
    * lead (bucket width 2·window guarantees any in-window variant sits
    * in the lead's bucket ±1), never a range cartesian. Mirrors
    * perfbench chain's locus-extraction glue (the hand-off feeding
    * susie_credible_sets; reference susie_finemapper.py:461-560 pulls
    * the same per-locus sumstat windows). Integer-only columns so the
    * hash oracle is engine-exact; every derived column is
    * position/parity-derived, so the (study, chrom, position) dedup
    * is DISTINCT-equivalent. */
  def locusExtraction(s: SparkSession, dir: String): DataFrame = {
    val window = 1250L
    val bw = window * 2
    val ok2 = (col("l_orderkey") / 2).cast("long")
    val sumstats = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 2 === 0)
      .select(
        concat(when(col("l_partkey") % 2 === 0, lit("g")).otherwise(lit("e")),
          ok2 % 10).as("studyId"),
        ((ok2 / 10).cast("long") % 3).as("chromosome"),
        (col("l_orderkey") * 4).cast("long").as("position"),
        (-(ok2 % 12) - 4).as("pexp"))
      .distinct()
    val leads = sumstats
      .filter(col("position") % 1000 === 0 && col("pexp") <= -10)
      .select(col("studyId").as("_l_study"),
        col("chromosome").as("_l_chrom"),
        col("position").as("_l_pos"))
      .withColumn("_lb", explode(array(
        floor(col("_l_pos") / bw) - 1, floor(col("_l_pos") / bw),
        floor(col("_l_pos") / bw) + 1)))
    sumstats
      .withColumn("_b", floor(col("position") / bw))
      .join(leads,
        col("studyId") === col("_l_study") &&
          col("chromosome") === col("_l_chrom") &&
          col("_b") === col("_lb"))
      .filter(abs(col("position") - col("_l_pos")) <= window)
      .select(col("studyId"), col("chromosome"),
        col("_l_pos").as("lead_pos"), col("position").as("tag_pos"))
  }

  /** Intra-study overlapping peaks: same-study pairs across different
    * regions sharing a tag variant (J1 intra mode). */
  def intraStudyOverlaps(s: SparkSession, dir: String): DataFrame = {
    // Flat tag rows straight off lineitem: the peaks query only needs
    // (locus, tag) keys, so the collect_list -> explode round trip the
    // COLOC queries use (two shuffles + array builds) is pure overhead
    // here. No tag-level distinct/persist either: near-duplicate tags
    // are rare in this shape, overlappingPeaks' final distinct already
    // dedupes the pairs, and recomputing the 2-column scan+project per
    // join side is cheaper than materialising a 60 MB columnar cache.
    // The stats columns matchedTagPairs projects are unused by peaks —
    // Catalyst prunes the literals away.
    val tags = spread(s, t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_partkey"))
      .select(
        concat(lit("L"), col("l_orderkey")).as("studyLocusId"),
        concat(lit("s"), col("l_orderkey") % 40).as("studyId"),
        lit("gwas").as("studyType"),
        (col("l_partkey") % 24).cast("string").as("chromosome"),
        concat(lit("r"), col("l_orderkey") % 3).as("region"),
        concat(lit("v"), col("l_partkey"), lit("_"), col("l_orderkey") % 2)
          .as("tagVariantId"))
      .withColumn("logBF", lit(1.0))
      .withColumn("posteriorProbability", lit(1.0))
      .withColumn("beta", lit(0.0))
      .withColumn("pValueMantissa", lit(1.0f))
      .withColumn("pValueExponent", lit(-8))
    Overlaps.overlappingPeaks(tags, intraStudy = true)
  }

  /** PICS fine-mapping (Gaussian sf — no SQL oracle). One locus per
    * order (~4 tags) — constant locus size at every scale factor, like
    * real credible sets. */
  def picsFinemap(s: SparkSession, dir: String): DataFrame = {
    val locus = t(s, dir, "lineitem")
      .groupBy(concat(lit("L"), col("l_orderkey")).as("studyLocusId"))
      .agg(
        first(((col("l_partkey") % 9) + 1).cast("float")).as("pValueMantissa"),
        first((-(col("l_suppkey") % 12) - 4).cast("int")).as("pValueExponent"),
        collect_list(struct(
          concat(lit("v"), col("l_partkey")).as("tagVariantId"),
          (col("l_discount") * 10).as("r2Overall"))).as("ldSet"))
    // flat variant: the query explodes the locus anyway, so skip the
    // array rebuild — codegen'd per-tag math + a window total that
    // reuses the groupBy's studyLocusId partitioning
    PICS.finemapFlat(locus)
      .select(col("studyLocusId"), col("variantId"),
        col("posteriorProbability"))
  }

  /** PICS relational wrapper under a SQL-expressible sf surrogate:
    * the REAL [[PICS.finemapFlat]] path (r² ≥ 0.5 filter, p-value
    * codec neglogp, μ/σ algebra, window normalisation, standardError
    * projection) with only the Gaussian-sf kernel swapped for
    * exp(−x²/2) — every op DuckDB computes with the same IEEE
    * arithmetic, so the full wrapper gets a value-level oracle and
    * only the erfc evaluation stays golden-locked (q_gx_pics).
    * The lead p-value is derived from the groupBy key (not `first()`
    * over lines) so the plant is partition-order independent; the ×2
    * on rel cancels exactly in the normalisation (binary scaling) but
    * is kept on both engines for op-identical evaluation. */
  def picsRelational(s: SparkSession, dir: String): DataFrame = {
    // keyed spread = the groupBy key: the collect_list partial no
    // longer runs inside the serial single-row-group scan task, and
    // the aggregation reuses the spread exchange. Unlike q_gx_pics
    // (whose lead p-value is a partition-order-dependent first()),
    // everything here derives from the groupBy KEY, so ldSet order is
    // free to change (per-tag math + a q6-quantised window sum).
    val locus = spread(s, t(s, dir, "lineitem"), col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_list(struct(
        concat(lit("v"), col("l_partkey")).as("tagVariantId"),
        (col("l_discount") * 10).as("r2Overall"))).as("ldSet"))
      .select(
        concat(lit("L"), col("l_orderkey")).as("studyLocusId"),
        ((col("l_orderkey") % 9) + 1).cast("float").as("pValueMantissa"),
        (-(col("l_orderkey") % 12) - 4).cast("int").as("pValueExponent"),
        col("ldSet"))
    PICS.finemapFlat(locus, sf = x => exp(-(x * x) / 2))
      .select(col("studyLocusId"), col("variantId"),
        q(col("r2Overall"), 6).as("r2_q6"),
        q(col("standardError"), 6).as("se_q6"),
        q(col("posteriorProbability"), 6).as("pp_q6"))
  }

  /** CARMA→RAISS→SuSiE-inf fine-mapping chain end-to-end (no SQL
    * oracle — iterative per-locus numerics; locked by a committed
    * golden digest instead, and each kernel by its own golden spec).
    * Mirrors the reference's chained run
    * (reference: src/gentropy/susie_finemapper.py:546-611): per locus,
    * CARMA expels LD-discordant outliers, RAISS imputes NULL-z
    * variants from the observed set, SuSiE-inf fine-maps the result —
    * all inside one executor task per locus via the bundled flatMap
    * mapper (the reference's per-locus driver toPandas loop never
    * exists here).
    *
    * Inputs are synthesised deterministically from lineitem: 16 loci
    * (locusId = l_orderkey % 16) over a bounded orderkey slice; every
    * 7th variant carries a NULL z
    * (the imputation candidates); LD is the Ornstein-Uhlenbeck kernel
    * exp(-|Δpos|/2e5) over synthetic positions — positive-definite by
    * construction, so the per-locus numerics are well-posed. Each
    * locus computes in ONE task: results are independent of
    * partitioning and partition count (probed: digests identical at 4
    * and 8 CPUs). */
  def finemapE2e(s: SparkSession, dir: String): DataFrame = {
    // filter BEFORE the spread: the slice keeps ~0.06% of lineitem, so
    // spreading first shuffled the full 600k rows only to drop them
    // (and l_orderkey <= 12000 / l_linenumber = 1 now push down into
    // the parquet scan); the keyed spread then moves only the
    // surviving rows
    val vars = spread(s, t(s, dir, "lineitem")
      // fixed orderkey slice: the workload is CONSTANT across scale
      // factors (a correctness anchor for the per-locus numerics, not
      // a scan benchmark — the scan cost is negligible either way)
      .filter(col("l_orderkey") % 17 === 0 && col("l_linenumber") === 1 &&
        col("l_orderkey") <= 12000), col("l_orderkey"))
      .select(
        concat(lit("L"), col("l_orderkey") % 16).as("locusId"),
        concat(lit("v"), col("l_orderkey")).as("variantId"),
        ((col("l_orderkey") * 37) % 1000000).cast("double").as("pos"),
        col("l_partkey"), col("l_extendedprice"))
    // marginal z consistent with the LD kernel by construction
    // (z = R·λ for two planted causal variants per locus — the
    // GWAS-marginal structure CARMA's discordance test expects): two
    // causal sites at the locus' min/max position with effects 6 and
    // 4, tiny deterministic noise, and a strong contradictory spike
    // on every 23rd variant — the planted outliers CARMA must expel
    val wl = Window.partitionBy("locusId")
    val withZ = vars
      .withColumn("c1", min("pos").over(wl))
      .withColumn("c2", max("pos").over(wl))
      .withColumn("z",
        when(col("l_partkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(
            lit(6.0) * exp(-abs(col("pos") - col("c1")) / 200000.0) +
              lit(4.0) * exp(-abs(col("pos") - col("c2")) / 200000.0) +
              lit(0.3) * sin(col("pos") / 50000.0) +
              when(col("l_partkey") % 23 === 0, lit(-8.0))
                .otherwise(lit(0.0))))
      .select("locusId", "variantId", "pos", "z")
    // the mapper's idx contract: row_number over (locusId, variantId)
    val w = Window.partitionBy("locusId").orderBy("variantId")
    val indexed = withZ.withColumn("idx",
      (row_number().over(w) - 1).cast("int"))
    val ld = indexed.select(col("locusId"), col("idx").as("i"),
        col("pos").as("pi"))
      .join(indexed.select(col("locusId"), col("idx").as("j"),
        col("pos").as("pj")), Seq("locusId"))
      .filter(col("i") < col("j"))
      .select(col("locusId"), col("i"), col("j"),
        exp(-abs(col("pi") - col("pj")) / 200000.0).as("r"))
    graft.finemap.DistributedFineMapper
      .finemapAll(s, withZ.select("locusId", "variantId", "z"), ld,
        n = 100000, L = 5, coverage = 0.95,
        runCarma = true, imputeMissing = true,
        imputedR2Threshold = 0.5, ldScoreThreshold = 0.5)
      .toDF()
      .select(col("locusId").as("locus_id"), col("variantId").as("variant_id"),
        q(col("pip"), 6).as("pip_q6"), q(col("logBF"), 6).as("log_bf_q6"),
        col("inCredibleSet").cast("int").as("in_credible_set"))
  }

  /** Credible-set EXTRACTION suffix over PLANTED kernel outputs — the
    * relational back half of the fine-mapper
    * ([[graft.finemap.DistributedFineMapper.assembleCredibleSets]]:
    * per-effect 99%-PIP cumsum sets, lead election, purity stats over
    * the LD block, logBF filter, lead dedup, high-LD lead removal —
    * reference: src/gentropy/susie_finemapper.py:188-456) driven by
    * deterministic fake SuSiE outputs instead of the Breeze solver, so
    * a DuckDB oracle can replay it end to end. This narrows the
    * q_gx_finemap_e2e golden blind spot: only the iterative kernels
    * (CARMA/RAISS/SuSiE-inf) stay golden-locked; the extraction logic
    * gets a full value-level SQL oracle.
    *
    * Planted per locus k (8 loci over a fixed lineitem slice), L = 2
    * effects, all integer-derived so Spark and DuckDB compute
    * bit-identical doubles: pip ∝ (((7i+3l+5k) mod 11)+1)^4 (column-
    * normalised; quartic so the 99% cut falls at varied depths),
    * lbf(l) = 1 + ((k+2l) mod 4) (exercises the keep/skip threshold at
    * exactly 2.0), mu = (i−2l)/10, z = 1 + 1.5·(i mod 5), LD(i,j) =
    * exp(−|i−j|/60) (r² ≥ 0.9 within 3 indices; the two effects'
    * leads land exactly 2 or 9 indices apart by construction, so the
    * high-LD lead removal fires on some loci and spares others). The p-value codec columns are excluded
    * from the projection (erfc has no DuckDB builtin; the codec is
    * oracle-checked by q_f3_pvalue_codec and the lead ORDER the
    * removal scan needs is replicated exactly by |z| — neglogp is
    * monotone in |z|). */
  def credsetExtraction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import breeze.linalg.{DenseMatrix, DenseVector}
    import graft.finemap.{DistributedFineMapper, SusieInf}
    val vars = t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 13 === 0 && col("l_linenumber") === 1 &&
        col("l_orderkey") <= 26000)
      .select((col("l_orderkey") % 8).cast("int").as("k"),
        concat(lit("v"), col("l_orderkey")).as("variantId"))
    val bundled = vars.groupBy("k")
      .agg(sort_array(collect_list(col("variantId"))).as("ids"))
      .as[(Int, Seq[String])]
    val rows = bundled.flatMap { case (k, ids) =>
      val p = ids.length
      val L = 2
      def raw(i: Int, l: Int): Double = {
        // quartic of a small int: exact in double, any summation order
        val r = ((i * 7 + l * 3 + k * 5) % 11 + 1).toDouble
        r * r * r * r
      }
      val colSum = Array.tabulate(L)(l => (0 until p).map(raw(_, l)).sum)
      val pip = DenseMatrix.tabulate(p, L)((i, l) => raw(i, l) / colSum(l))
      val mu = DenseMatrix.tabulate(p, L)((i, l) => (i - 2 * l) * 0.1)
      val lbfVar = DenseMatrix.tabulate(p, L)((i, l) => (i + l) * 0.01)
      val lbf = DenseVector.tabulate(L)(l => 1.0 + ((k + 2 * l) % 4))
      val z = DenseVector.tabulate(p)(i => 1.0 + (i % 5) * 1.5)
      val ld = DenseMatrix.tabulate(p, p)((a, b) =>
        math.exp(-math.abs(a - b) / 60.0))
      val res = SusieInf.Result(pip, mu, DenseMatrix.ones[Double](p, L),
        lbfVar, DenseVector.ones[Double](L), 1.0, 1.0,
        DenseVector.zeros[Double](p), lbf, 1)
      val variantsArr = ids.toArray.zipWithIndex.map { case (id, i) =>
        DistributedFineMapper.LocusVariant(s"LK$k", id, Some(z(i)), i)
      }
      DistributedFineMapper
        .assembleCredibleSets(s"LK$k", variantsArr, z, ld, res)
        .iterator
    }
    rows.toDF().select(
      col("locusId").as("locus_id"),
      col("credibleSetIndex").cast("long").as("cs_index"),
      col("variantId").as("variant_id"),
      q(col("beta"), 6).as("beta_q6"),
      q(col("credibleSetLog10BF"), 6).as("lbf_q6"),
      q(col("purityMeanR2"), 6).as("purity_mean_q6"),
      q(col("purityMinR2"), 6).as("purity_min_q6"),
      q(col("zScore"), 6).as("z_q6"),
      size(col("locus")).cast("long").as("tag_count"),
      array_join(transform(col("locus"),
        tg => tg.getField("variantId")), ",").as("tags"))
  }

  /** Embedding cosine near-dup pairs, exact (oracle-checked baseline
    * of the LSH-blocked embeddingDupPairs path). */
  def embeddingDup(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceDupPairs(
      spread(s, t(s, dir, "embeddings"), col("vec_id"))
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("embedding")),
      threshold = 0.4)
      .select(col("idA"), col("idB"), q(col("similarity"), 6).as("sim_q6"))

  /** Hard negatives for the first 5 vectors: top-5 cosine neighbours
    * excluding each query's own cosine-0.4 near-dup cluster. */
  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = spread(s, t(s, dir, "embeddings"), col("vec_id"))
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    val pairs = Similarity.bruteForceDupPairs(emb, threshold = 0.4)
    Similarity.hardNegatives(emb, emb.filter(col("id") < 5),
        pairs, k = 5, retrieveFactor = 4, cache = queryCache)
      .select(col("queryId"), col("neighbourId"), col("rank").cast("long").as("rank"),
        q(col("similarity"), 4).as("sim_q4"))
  }

  /** Chunk→document embedding pooling: synthetic chunk groups
    * (vec_id % 50), element-wise mean (bit-deterministic fixed-point)
    * and max, long format per (group, dim). */
  def simPooled(s: SparkSession, dir: String): DataFrame = {
    val chunks = t(s, dir, "embeddings")
      .select((col("vec_id") % 50).as("group_id"), col("embedding"))
    // both pools in ONE aggregate (single scan + shuffle, no join) —
    // the operator's poolEmbeddings is the one-method face
    chunks.groupBy("group_id")
      .agg(graft.plans.VectorStats.meanPool(col("embedding")).as("_mean"),
        graft.plans.VectorStats.maxPool(col("embedding")).as("_max"))
      .select(col("group_id"), posexplode(col("_mean")).as(Seq("dim", "_m")),
        col("_max"))
      .select(col("group_id"), col("dim").cast("long").as("dim"),
        q(col("_m"), 6).as("mean_q6"),
        q(element_at(col("_max"), col("dim") + 1), 6).as("max_q6"))
  }

  /** SQ8 scalar-quantised ANN: train ranges, encode the corpus to
    * uint8 codes, search 5 queries — fully deterministic, so unlike
    * the LSH/IVF/PQ tiers it is DuckDB-replayable end to end. */
  def annSq8(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    val model = Similarity.sqTrain(emb)
    val codes = Similarity.sqEncode(model, emb)
    Similarity.sqTopK(model, codes, emb.filter(col("id") < 5), k = 5)
      .select(col("queryId"), col("neighbourId"),
        col("rank").cast("long").as("rank"), q(col("score"), 4).as("score_q4"))
  }

  /** BPE tokenizer induction + model-token counts (no SQL oracle —
    * the merge loop is iterative; goldens pin the trainer). */
  def textBpe(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = Bpe.train(docs, "text", numMerges = 200,
      maxWords = 1 << 15)
    docs.select(col("doc_id"),
      Bpe.tokenCount(model, col("text")).cast("long").as("n_bpe"))
  }

  /** MinHash LSH near-dup pairs (xxhash64 — no SQL oracle). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashDupPairs(t(s, dir, "documents"), "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      cache = queryCache)

  /** SimHash near-dup pairs (no SQL oracle). */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashDupPairs(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3)

  /** LSH ANN top-k. DuckDB-hash-checked end to end: the plane
    * components are two xxhash64-of-long rounds (the oracle replays
    * them with HUGEINT mod-2⁶⁴ arithmetic) and the sign projections
    * fold integer nano-quantised addends, so bucket keys are
    * bit-exact across engines; the cosine re-rank quantises to 4 dp
    * like the other ANN tiers. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.lshTopK(emb, emb.filter(col("id") < 5), 5,
        tables = 16, planesPerTable = 3)
      .select(col("queryId"), col("neighbourId"),
        col("rank").cast("long").as("rank"),
        q(col("similarity"), 4).as("sim_q4"))
  }

  /** IVF ANN top-k. DuckDB-hash-checked end to end: the k-means
    * coarse quantiser is a pure function of (hash-ordered sample,
    * k, iters, seed) — hash-uniform draws, integer-quantised D²
    * weights and update sums — so the oracle replays the ENTIRE
    * trainer (16 k-means++ picks + 5 Lloyd rounds, unrolled SQL
    * blocks), then the cell assignment, bucket join and cosine
    * re-rank. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.ivfTopK(emb, emb.filter(col("id") < 5), 5,
        nLists = 16, nProbe = 4)
      .select(col("queryId"), col("neighbourId"),
        col("rank").cast("long").as("rank"),
        q(col("similarity"), 4).as("sim_q4"))
  }

  /** IVF-PQ top-k (residual product quantisation + exact refine).
    * DuckDB-hash-checked end to end: the deterministic lloydLocal
    * trainer (see [[annIvf]]) lets the oracle replay the coarse
    * quantiser AND all 16 subspace residual codebooks
    * (subspace-grouped unrolled SQL), then encoding, the per-query
    * LUT, the s-ordered ADC fold, the k·refineFactor shortlist and
    * the exact-dot refine. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.pqTopK(emb, emb.filter(col("id") < 5), 5,
        m = 16, kCodes = 16, nLists = 16, nProbe = 6, refineFactor = 8)
      .select(col("queryId"), col("neighbourId"),
        col("rank").cast("long").as("rank"),
        q(col("score"), 4).as("score_q4"))
  }

  /** Multimodal decode stub + feature math, quantised engine-stably.
    * The deterministic fake decode (a byte-fold mod 2⁶⁴) is replayed
    * exactly by the DuckDB oracle via HUGEINT modular arithmetic, so
    * the whole mapPartitions decode path is hash-checked end-to-end;
    * the float features are re-derived with [[Q.q]] instead of
    * emitting `features`' round(·,4) columns (engine round ties). */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decode(s,
        Multimodal.toBlobTable(t(s, dir, "documents"), "doc_id", "text")).toDF()
      .select(col("id"), col("kind"), col("width"), col("height"),
        col("channels"), col("checksum"),
        q(col("width").cast("double") / col("height"), 4).as("aspect_q4"),
        q(col("width").cast("double") * col("height") / 1e6, 4).as("mega_q4"))

  /** Resize planning over decoded blobs: fit-within-256 target
    * dimensions, aspect preserved, never upscaled. */
  def multimodalResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resize(
        Multimodal.decode(s,
          Multimodal.toBlobTable(t(s, dir, "documents"), "doc_id", "text")).toDF(),
        maxDim = 256)
      .select(col("id"), col("width"), col("height"),
        col("outWidth"), col("outHeight"),
        q(col("resizeScale"), 6).as("scale_q6"))

  /** Video frame sampling over fake blobs (kind=video): deterministic
    * frame count from the payload size, every 2nd frame up to 4 per
    * blob, per-frame dimensions + checksum mixed from the payload fold
    * and frame index — the whole mapPartitions flat-map path replayed
    * exactly by the DuckDB oracle (same HUGEINT trick as q_mm_decode). */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(s,
        Multimodal.toBlobTable(t(s, dir, "documents"), "doc_id", "text",
          kind = "video")).toDF()
      .select(col("id"), col("frameIdx"), col("width"), col("height"),
        col("checksum"))

  /** MinHash LSH pairs, md5-anchored variant (SQL oracle). */
  def minhashPairsMd5(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashDupPairsMd5(t(s, dir, "documents"), "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      cache = queryCache)
      .select(col("idA"), col("idB"), q(col("similarity"), 6).as("sim_q6"))

  /** SimHash pairs, md5-anchored 60-bit variant (SQL oracle). */
  def simhashPairsMd5(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashDupPairsMd5(t(s, dir, "documents"), "text", "doc_id",
      maxHamming = 3, cache = queryCache)

  /** Near-dup clusters: connected components over the md5-anchored
    * MinHash pair graph — (docId, componentId) with componentId = min
    * reachable doc. The DuckDB oracle recomputes the same closure with
    * a recursive CTE over the same SQL-derived pair list, pinning the
    * whole pairs→clusters path. */
  def dedupComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashDupPairsMd5(t(s, dir, "documents"), "text",
      "doc_id", shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      cache = queryCache)
    Dedup.connectedComponents(pairs, cache = queryCache)
      .select(col("id").cast("long").as("docId"),
        col("comp").cast("long").as("componentId"))
  }

  /** Unicode script-mix fractions per document (q6). */
  def textScripts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.scriptRatios(col("text")).as("_r"))
      .select(col("doc_id"),
        q(col("_r.latin"), 6).as("latin_q6"),
        q(col("_r.cjk"), 6).as("cjk_q6"),
        q(col("_r.cyrillic"), 6).as("cyrillic_q6"),
        q(col("_r.digit"), 6).as("digit_q6"))

  /** Fuzzy-exact dedup: exact dedup over the CCNet-normalised text
    * (casing/punctuation/whitespace churn collapses to one digest). */
  def dedupExactNormalized(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("_norm", TextAnalysis.normalizeForDedup(col("text")))
    Dedup.exactDedup(docs, "_norm", "doc_id")
      .select(col("doc_id"), col("n_chars"))
  }

  /** Snapshot drift report between two synthetic corpus generations:
    * docs %10==0 appear only in the new snapshot, %10==3 only in the
    * old, %5==0 survivors have their text rewritten. */
  def upsertSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val oldS = docs.filter(col("doc_id") % 10 =!= 0)
    val newS = docs.filter(col("doc_id") % 10 =!= 3)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        upper(col("text"))).otherwise(col("text")))
    Upsert.snapshotDiff(oldS, newS, Seq("doc_id"), Seq("text"))
  }

  /** Epoch-3 deterministic reshuffle of documents into 8 shards. */
  def packEpochShuffle(s: SparkSession, dir: String): DataFrame =
    Packing.epochShuffle(t(s, dir, "documents").select("doc_id"),
      "doc_id", epoch = 3, numShards = 8)

  /** Per-domain percent-rank normalisation of document length. */
  def mixQuantileNorm(s: SparkSession, dir: String): DataFrame =
    Mixing.quantileNormalize(t(s, dir, "documents"), "n_chars", "source")
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("score_pctl"))

  /** Size histogram of the minhash near-dup clusters. */
  def dedupClusterHistogram(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashDupPairsMd5(t(s, dir, "documents"), "text",
      "doc_id", shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      cache = queryCache)
    Dedup.clusterSizeHistogram(pairs, cache = queryCache)
  }

  /** Quality-aware dedup survivors: per minhash near-dup cluster keep
    * the longest document (ties → smallest id). */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashDupPairsMd5(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      cache = queryCache)
    Dedup.keepClusterBest(docs, "doc_id", "n_chars", pairs, cache = queryCache)
      .select(col("doc_id"), col("n_chars"))
  }

  /** Leakage-safe train/val/test split: the uniform draw hashes the
    * near-dup cluster representative, so dup clusters never straddle
    * a split boundary. */
  def splitLeakageSafe(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashDupPairsMd5(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      cache = queryCache)
    Mixing.assignSplitLeakageSafe(docs, "doc_id", pairs,
        valFrac = 0.2, testFrac = 0.2, cache = queryCache)
      .select(col("doc_id"), col("split"))
  }

  /** Incremental exact dedup: the corpus is `doc_id % 5 != 0`, the
    * arrival batch is `doc_id % 5 == 0`; survivors are arrivals whose
    * text digest is new to the corpus index and min-id within the
    * batch. The corpus is only read to build the (digest, canonicalId)
    * index — the production shape persists that index and never
    * re-reads corpus bytes. */
  def dedupIncrementalExact(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val index = IncrementalDedup.exactIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id")
    IncrementalDedup.incrementalExactDedup(
        docs.filter(col("doc_id") % 5 === 0), index, "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Incremental MinHash near-dup pairs (md5-anchored variant): the
    * arrival batch (`doc_id % 5 == 0`) is sketched and banded against
    * the persisted signature index of the rest; result = the full
    * corpus LSH pair set restricted to pairs touching an arrival,
    * which is exactly what the oracle computes. Cap disabled for
    * unconditional oracle parity (testdata has no hot buckets). */
  /** Incremental near-dup vs a signature-only index on the PRODUCTION
    * xxhash64 sketch — the md5 twin below predates the
    * [[Oracles]] byte-level xxhash64 replay kernel; this registers
    * the real production path under the same oracle contract (the
    * full-corpus pair set restricted to pairs with ≥1 arrival
    * side). */
  def dedupIncrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val index = IncrementalDedup.minhashIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id")
    val arrivals = IncrementalDedup.minhashIndex(
      docs.filter(col("doc_id") % 5 === 0), "text", "doc_id")
    IncrementalDedup.incrementalMinhashPairs(arrivals, index,
        numHashes = 64, bands = 16, threshold = 0.5,
        maxBandBucket = Int.MaxValue, cache = queryCache)
      .select(col("idA"), col("idB"), q(col("similarity"), 6).as("sim_q6"))
  }

  def dedupIncrementalMinhashMd5(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val index = IncrementalDedup.minhashIndex(
      docs.filter(col("doc_id") % 5 =!= 0), "text", "doc_id", md5Base = true)
    val arrivals = IncrementalDedup.minhashIndex(
      docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", md5Base = true)
    IncrementalDedup.incrementalMinhashPairs(arrivals, index,
        numHashes = 64, bands = 16, threshold = 0.5,
        maxBandBucket = Int.MaxValue, cache = queryCache)
      .select(col("idA"), col("idB"), q(col("similarity"), 6).as("sim_q6"))
  }

  /** One-pass column profile of the documents table (exact distinct so
    * the DuckDB oracle can replay it; the production default is the
    * HLL single pass). Long format (col_name, metric, value_q6). */
  def profileDocuments(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"), approxDistinct = false)
      .select(col("col_name"), col("metric"), q(col("value"), 6).as("value_q6"))

  /** One-pass equi-width histogram of lineitem extended price: 20 bins
    * over [0, 100000) with edge clamping — the profiling companion of
    * [[profileDocuments]]. */
  def profileHistogram(s: SparkSession, dir: String): DataFrame =
    Profiler.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        bins = 20, lo = 0.0, hi = 100000.0)
      .select(col("bin"), q(col("lo"), 2).as("lo_q2"),
        q(col("hi"), 2).as("hi_q2"), col("n"))

  /** Z-order cell census over lineitem (l_partkey, l_suppkey): the
    * interleaved-bit z-value collapsed to coarse cells, counted. Pins
    * the bit-interleave expression exactly against the SQL replay —
    * the layout operator [[graft.core.ZOrder.clusterByZ]] orders by
    * this value. */
  def zorderCells(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(graft.core.ZOrder.zvalue(
        Seq(col("l_partkey"), col("l_suppkey")), 16).as("z"))
      .groupBy(shiftright(col("z"), 12).as("cell"))
      .agg(count(lit(1)).as("n"))

  /** Domain-mix sampling: four weighted sources against a 2000-token
    * budget (src3's target exceeds its supply, exercising the
    * keep-everything cap; unweighted sources drop). Acceptance is the
    * deterministic md5 uniform, replayed exactly by the oracle. */
  def mixSample(s: SparkSession, dir: String): DataFrame = {
    val weights = Map("src0" -> 0.05, "src1" -> 0.15, "src2" -> 0.3,
      "src3" -> 0.8)
    val docs = t(s, dir, "documents")
      .withColumn("tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    Mixing.sampleToMix(docs, "doc_id", "source", "tokens", weights,
        totalTokenBudget = 2000L)
      .select(col("doc_id"), col("source"), col("tokens"))
  }

  /** Upsampling mix: scarce sources repeat for full epochs plus a
    * thinned partial epoch (src0 ≈ 2.4 epochs, src1 ≈ 1.6). */
  def mixRepeats(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    Mixing.sampleToMixWithRepeats(docs, "doc_id", "source", "tokens",
        Map("src0" -> 0.6, "src1" -> 0.4), totalTokenBudget = 5000L)
      .select(col("doc_id"), col("source"), col("tokens"),
        col("copy").cast("long").as("copy"))
  }

  /** Temperature-flattened mix at α = 0.5 over the source domains,
    * 1500-token budget. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("tokens",
        graft.operators.TextAnalysis.tokenCount(col("text")).cast("long"))
    Mixing.temperatureMix(docs, "doc_id", "source", "tokens", alpha = 0.5,
        totalTokenBudget = 1500L)
      .select(col("doc_id"), col("source"), col("tokens"))
  }

  /** Curriculum bins: quality-score quartiles per source domain. */
  def mixCurriculum(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
    Mixing.curriculumBins(docs, "quality", "doc_id", nBins = 4,
        byCol = Some("source"))
      .select(col("doc_id"), col("source"), col("bin").cast("long").as("bin"))
  }

  /** Exact-count stratified sample: 10 documents per source, chosen
    * by the deterministic md5 draw. */
  def mixStratified(s: SparkSession, dir: String): DataFrame =
    Mixing.stratifiedTake(t(s, dir, "documents"), "source", "doc_id", n = 10)
      .select(col("doc_id"), col("source"))

  /** Benchmark decontamination: corpus documents covering ≥ 60% of a
    * benchmark document's distinct 3-gram shingles (benchmark = the
    * deterministic doc_id % 37 subset; self-matches excluded). */
  def decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Decontamination.contaminationPairs(
      spread(s, docs, col("doc_id")),
      docs.filter(col("doc_id") % 37 === 0), "text", "doc_id")
      .filter(col("corpusId") =!= col("benchId") && col("coverage") >= 0.6)
      .select(col("corpusId"), col("benchId"), col("overlap"),
        col("benchShingles"), q(col("coverage"), 6).as("coverage_q6"))
  }

  /** Bloom-prefiltered decontamination: same oracle as
    * [[decontamination]] — the Bloom prefilter has no false negatives
    * and the exact join removes its false positives, so the result set
    * is identical; the query pins that equivalence end-to-end. */
  def decontaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Decontamination.contaminationPairsBloom(
      docs,
      docs.filter(col("doc_id") % 37 === 0), "text", "doc_id",
      cache = queryCache)
      .filter(col("corpusId") =!= col("benchId") && col("coverage") >= 0.6)
      .select(col("corpusId"), col("benchId"), col("overlap"),
        col("benchShingles"), q(col("coverage"), 6).as("coverage_q6"))
  }

  /** Top-3 TF-IDF terms per document (smoothed sklearn idf,
    * deterministic (tfidf desc, term asc) ranking). */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfIdfTopTerms(t(s, dir, "documents"), "text", "doc_id", k = 3)
      .select(col("docId"), col("rank").cast("long").as("rank"), col("term"),
        col("tf"), col("df"), q(col("tfidf"), 6).as("tfidf_q6"))

  /** SemDeDup-style semantic near-dup pairs: nearest-seed-centroid
    * cells (seeds = vec_id % 100 = 0, i.e. k ∝ N keeping cells ~100
    * rows — the SemDeDup operating point: cluster count scales with
    * the corpus so the within-cell pair search stays linear),
    * within-cell cosine ≥ 0.4. The r9 scale rehearsal measured the
    * cost split: pair search linear, assignment = N×k in-row dot
    * products (pure map-side compute, zero shuffle growth) — 18.6×
    * over the sf1→sf10 decade from FLOPs alone, vs 51× when seeds
    * were pinned and cells went quadratic. At real scale k is a fixed
    * design parameter (~5e4), making assignment linear in N. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    Similarity.semanticDupPairs(emb, emb.filter(col("id") % 100 === 0),
      threshold = 0.4, cache = queryCache)
      .select(col("cell"), col("idA"), col("idB"),
        q(col("similarity"), 6).as("sim_q6"))
  }

  /** Full QC battery incl. chi2 (no SQL oracle). Exact percentiles so
    * the committed golden digest is partition-count-invariant (the
    * library default is the reference's percentile_approx; see
    * SumstatQC.gcLambdaCheck). */
  def qcBatteryFull(s: SparkSession, dir: String): DataFrame =
    SumstatQC.qualityControlMetrics(synthSumstats(s, dir),
      exactPercentiles = true)

  /** Locus-breaker clumping (no SQL oracle; overlapping window specs). */
  def locusBreaker(s: SparkSession, dir: String): DataFrame =
    LocusBreakerClumping.clump(synthSumstats(s, dir),
      baselinePValueCutoff = 1e-4, distanceCutoff = 20000,
      pValueCutoff = 1e-8, flankingDistance = 5000)
      // flat oracle-friendly projection (qualityControls is a constant
      // null array; the driver's row-sorter cannot handle array cells)
      .select(col("studyId"), col("chromosome"),
        col("position").cast("long").as("position"), col("variantId"),
        col("pValueMantissa"), col("pValueExponent"), col("beta"),
        col("standardError"), col("l_orderkey"), col("l_linenumber"),
        col("locusStart").cast("long").as("locusStart"),
        col("locusEnd").cast("long").as("locusEnd"), col("studyLocusId"))

  /** F-variant-hash: OTVAR md5 hashing of over-long variant ids
    * (oracle-checked — md5 hex matches across engines). */
  def variantHash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        concat(lit("1_"), col("l_partkey"), lit("_"),
          expr("repeat('A', CAST(l_quantity AS INT))"), lit("_T"))
          .as("variantId"),
        when(col("l_suppkey") % 7 === 0, lit(null))
          .otherwise(col("l_suppkey") % 22 + 1).cast("string").as("chromosome"),
        col("l_partkey").as("position"))
      .select(col("l_orderkey"), col("l_linenumber"),
        VariantOps.hashLongVariantIds(col("variantId"), col("chromosome"),
          col("position"), threshold = 30).as("hashedVariantId"))

  /** Ancestry → LD population aggregation (rows-only). */
  def ancestryAggregation(s: SparkSession, dir: String): DataFrame = {
    val ancestries = array(lit("European"), lit("Finnish"), lit("East Asian"),
      lit("South Asian"), lit("African unspecified"), lit("NR"))
    t(s, dir, "orders")
      .groupBy((col("o_custkey") % 100).as("studyKey"))
      .agg(collect_list(struct(
        element_at(ancestries, (col("o_orderkey") % 6 + 1).cast("int"))
          .as("ancestry"),
        (col("o_totalprice") / 100).as("sampleSize"))).as("discoverySamples"))
      .select(col("studyKey"),
        explode(StudyIndexOps.aggregateAndMapAncestries(col("discoverySamples")))
          .as("ld"))
      .select(col("studyKey"), col("ld.ldPopulation"),
        q(col("ld.relativeSampleSize"), 6).as("rel_q6"))
  }

  /** LD clumping over synthesised loci with ldSets.
    *
    * Takes [[LDClumping.clump]]'s gated single-pass WINDOW path (the
    * input is persisted, so the gate's count is free): at verify/bench
    * SFs the join plan's 12+ sequential AQE stage barriers cost ~3× the
    * actual work. The production JOIN path keeps its own oracle via
    * [[ldClumpJoin]] (identical synthesis + SQL, default path) and its
    * scale number via the r_gx_ld_clump rehearsal. */
  def ldClump(s: SparkSession, dir: String): DataFrame =
    ldClumpShared(s, dir, windowPathMaxRows = 100000L)

  /** The SAME query forced onto the production join plan (default
    * [[LDClumping.clump]] path) — keeps the scale shape hash-checked
    * against DuckDB while [[ldClump]] measures the small-input gate. */
  def ldClumpJoin(s: SparkSession, dir: String): DataFrame =
    ldClumpShared(s, dir, windowPathMaxRows = 0L)

  private def ldClumpShared(s: SparkSession, dir: String,
                            windowPathMaxRows: Long): DataFrame = {
    // deterministic synthesis: p-value injective in the variant key so
    // the running-window tie order cannot differ between engines
    val synth = t(s, dir, "lineitem")
      // pre-partition on the groupBy keys so the synthesis aggregation
      // runs in parallel off one reused exchange instead of a partial
      // agg inside the serial single-row-group scan task (max() only —
      // partition-order free)
      .repartition(s.sparkContext.defaultParallelism,
        col("l_partkey") % 2000, concat(lit("s"), col("l_orderkey") % 5),
        (col("l_suppkey") % 3).cast("string"))
      .groupBy((col("l_partkey") % 2000).as("vKey"),
        concat(lit("s"), col("l_orderkey") % 5).as("studyId"),
        (col("l_suppkey") % 3).cast("string").as("chromosome"))
      .agg(max(col("l_discount") * 10).as("maxR2"))
      .select(
        concat(lit("v"), col("vKey")).as("variantId"),
        col("studyId"), col("chromosome"),
        (col("vKey") / 2000.0 + 1.0).cast("float").as("pValueMantissa"),
        (-(col("vKey") % 12) - 4).cast("int").as("pValueExponent"),
        array(struct(concat(lit("v"), col("vKey") + 1).as("tagVariantId"),
          col("maxR2").as("r2Overall"))).as("ldSet"))
    // clump reads its input twice (slim tag frame + output back-join);
    // on a parquet-backed StudyLocus the second pass is a pruned scan,
    // but this query's input is an expensive synthesis groupBy. Persist
    // the SLIM synthesized columns and derive the wide arrays after the
    // cache point — the columnar cache then stores only scalars + the
    // 1-element ldSet, mirroring what parquet column pruning gives a
    // real caller (caching the full wide rows measured SLOWER than the
    // double recompute: array-of-struct decode ≈ the synthesis itself)
    val slim = queryCache.persist(synth)
    val assoc = slim
      .withColumn("locus", array(struct(col("variantId"),
        lit(1.0).as("posteriorProbability"))))
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    LDClumping.clump(assoc, cache = queryCache,
        windowPathMaxRows = windowPathMaxRows)
      .select(col("studyId"), col("chromosome"), col("variantId"),
        array_contains(coalesce(col("qualityControls"), array()),
          LDClumping.LdClumpedFlag).as("ldClumped"))
  }

  /** Shared synthetic credible sets for the L2G queries. */
  private def l2gCredSets(s: SparkSession, dir: String): DataFrame =
    // spread key = the groupBy key: the aggregation reuses the spread
    // exchange (one shuffle, complete agg in parallel)
    spread(s, t(s, dir, "lineitem"), col("l_orderkey"))
      // min/deterministic aggregates so the lead variant (sentinel) is
      // reproducible across engines. Aggregate NUMERIC keys and build
      // the strings afterwards: min(string) has no mutable agg buffer,
      // so it demotes the whole groupBy to a SortAggregate (two sorts
      // of the fact table); numeric mins keep it a HashAggregate.
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_partkey")).as("_leadPart"),
        min(col("l_suppkey") % 3).as("_chrom"),
        min((col("l_partkey") * 97) % 1000000).as("position"),
        collect_list(struct(
          concat(lit("v"), col("l_partkey")).as("variantId"),
          (col("l_discount") * 10).as("posteriorProbability"))).as("locus"))
      .select(
        concat(lit("L"), col("l_orderkey")).as("studyLocusId"),
        concat(lit("v"), col("_leadPart")).as("variantId"),
        concat(lit("gwas_s"), col("l_orderkey") % 5).as("studyId"),
        col("_chrom").cast("string").as("chromosome"),
        col("position"), col("locus"))

  private def l2gDistances(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(concat(lit("v"), col("p_partkey")).as("variantId"),
        concat(lit("g"), col("p_partkey") % 50).as("geneId"),
        (col("p_partkey") * 37 % 400000).as("distanceFromTss"),
        (col("p_partkey") * 53 % 400000).as("distanceFromFootprint"))

  /** L2G distance feature matrix over synthesised credible sets and
    * gene distances — all four distance features from one join + one
    * groupBy, quantised for the oracle (zero-PP groups log to −∞ and
    * are nulled identically on both engines). */
  def l2gDistanceFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.L2GFeatures
    def qf(c: String) =
      when(col(c) === Double.NegativeInfinity, lit(null))
        .otherwise(q(col(c), 6)).as(s"${c}_q6")
    L2GFeatures.distanceFeatures(l2gCredSets(s, dir), l2gDistances(s, dir))
      .select(col("studyLocusId"), col("geneId"),
        qf("distanceTssMean"), qf("distanceSentinelTss"),
        qf("distanceFootprintMean"), qf("distanceSentinelFootprint"))
  }

  /** Full L2G feature matrix: distance + colocalisation + VEP + gene
    * count families, local and neighbourhood variants (rows-only).
    *
    * Dictionary-encoded keys: every id that exists only to be joined,
    * grouped, or windowed on — locus, variant, gene, study — rides
    * through the factory as a LONG surrogate and is rendered to its
    * string form ONCE in the final projection. The factory is
    * key-type agnostic (it names columns, never types), and the ~7
    * shuffle stages over the 2M-pair matrix hash/compare/serialise
    * 8-byte longs instead of UTF8Strings (measured 11.9 → ~8 s at
    * sf0.1). Surrogate ranges are disjoint where ids share a column:
    * QTL loci are negative (−rk−1 vs GWAS l_orderkey ≥ 1), QTL
    * studies offset by 1000 (vs GWAS 0–4). This is the production
    * shape at 100 TB: integer surrogate keys in the engine,
    * human-readable ids only at the serving edge. */
  def l2gFullFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.L2GFeatures
    // ONE cached flat credible-set frame (no locus array) feeds every
    // locus-keyed consumer: the factory's flatCred, the studyLoci
    // union, and the study-id distinct. The original shape re-ran the
    // lineitem groupBy once per persisted consumer — at bench scale
    // those duplicated source aggregations and their serial
    // materialisation jobs cost more than the feature math itself.
    // r17: persists are plan-truncating (local checkpoint — see
    // CacheHandle.persistTruncated): every scan site of
    // a shared frame is then a LogicalRDD leaf instead of an embedded
    // InMemoryRelation subtree, collapsing the 1,856-line / 51-cache-
    // subtree formatted plan whose planning+codegen dominated this
    // query's recorded cost. Checkpointed RDDs are NOT dropped by
    // cacheManager.clearCache(), so the handle is object-level and
    // query-scoped (release-then-persist, same discipline as
    // e2eTagsCache).
    l2gSrcCache.release()
    val srcCache = l2gSrcCache
    val flatCred = srcCache.persistTruncated(
      spread(s, t(s, dir, "lineitem"), col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_partkey")).as("_leadPart"),
        min(col("l_suppkey") % 3).as("_chrom"),
        min((col("l_partkey") * 97) % 1000000).as("position"))
      .select(
        col("l_orderkey").as("studyLocusId"),
        col("_leadPart").as("variantId"),
        (col("l_orderkey") % 5).as("studyId"),
        col("_chrom").as("chromosome"),
        col("position")))
    val genes = s.range(50).toDF("gid")
      .select(col("gid").as("id"),
        when(col("gid") % 2 === 0, "protein_coding").otherwise("lncRNA")
          .as("biotype"),
        (col("gid") % 3).as("chromosome"),
        (col("gid") * 19777 % 1000000).as("tss"))
    val variantIndex = t(s, dir, "part")
      .select(col("p_partkey").cast("long").as("variantId"),
        array(
          struct(
            (col("p_partkey") % 50).cast("long").as("targetId"),
            ((col("p_partkey") % 10) / 10.0).as("consequenceScore"),
            when(col("p_partkey") % 2 === 0, "protein_coding")
              .otherwise("lncRNA").as("biotype"),
            (col("p_partkey") * 13 % 600000).as("distanceFromFootprint")),
          struct(
            ((col("p_partkey") + 1) % 50).cast("long").as("targetId"),
            ((col("p_partkey") % 7) / 10.0).as("consequenceScore"),
            lit("protein_coding").as("biotype"),
            (col("p_partkey") * 29 % 600000).as("distanceFromFootprint")))
          .as("transcriptConsequences"))
    // QTL-side loci + study metadata for the colocalisation family;
    // negative locus surrogates / +1000 study surrogates keep the
    // unions collision-free against the GWAS key space
    val qtlLoci = t(s, dir, "orders")
      .groupBy((col("o_orderkey") % 500).as("_rk"))
      .agg(min(col("o_custkey") % 50).as("_sk"))
      .select((-col("_rk") - 1).as("studyLocusId"),
        (col("_sk") + 1000).as("studyId"))
    // tiny (500 rows) but read by the studyLoci union AND the study
    // index — persist so the orders aggregation runs once
    val qtlLociP = srcCache.persistTruncated(qtlLoci)
    // both studyLoci and studyIndex now derive from the two caches
    // above — no separate persists or counts; each consumer pays a
    // cache scan plus a 500-row union
    val studyLoci = flatCred.select("studyLocusId", "studyId", "variantId")
      .unionByName(qtlLociP.withColumn("variantId", lit(null).cast("long")))
    // study metadata derived from the numeric surrogate (engine-neutral,
    // unlike hash()) so the query admits a DuckDB oracle
    val qtlKey = col("studyId") - 1000
    val studyIndex = qtlLociP.select("studyId").distinct()
      .withColumn("studyType",
        element_at(array(lit("eqtl"), lit("pqtl"), lit("sqtl")),
          (qtlKey % 3 + 1).cast("int")))
      .withColumn("geneId", qtlKey % 50)
      .unionByName(flatCred.select(col("studyId")).distinct()
        .withColumn("studyType", lit("gwas"))
        .withColumn("geneId", lit(null).cast("long")))
    // the source frames materialise together with the factory's own
    // shared caches in ONE concurrent batch (srcCache is passed through
    // as the factory cache below): parents were registered first, so
    // they get the pool head start, and the second serial wave of
    // materialisation jobs the old two-handle shape paid disappears
    val coloc = t(s, dir, "orders")
      .select(col("o_orderkey").as("leftStudyLocusId"),
        (-(col("o_custkey") % 500) - 1).as("rightStudyLocusId"),
        when(col("o_orderkey") % 2 === 0, "eCAVIAR").otherwise("COLOC")
          .as("colocalisationMethod"),
        ((col("o_orderkey") % 100) / 100.0).as("clpp"),
        ((col("o_custkey") % 100) / 100.0).as("h4"))
    // numeric-key twin of l2gDistances (which q_ml_l2g_distance still
    // consumes in string form)
    val distances = t(s, dir, "part")
      .select(col("p_partkey").cast("long").as("variantId"),
        (col("p_partkey") % 50).cast("long").as("geneId"),
        (col("p_partkey") * 37 % 400000).as("distanceFromTss"),
        (col("p_partkey") * 53 % 400000).as("distanceFromFootprint"))
    // flat tags straight off lineitem: same rows explodedTags(credSets)
    // yields, minus the collect_list locus rebuild it would immediately
    // re-explode (the costliest input materialisation at sf0.1); the
    // sentinel is a numeric window-min, one shuffle on the order key
    val tagW = Window.partitionBy(col("l_orderkey"))
    // spread key = the window partition key: the sentinel window
    // reuses the spread exchange
    val tags = spread(s, t(s, dir, "lineitem"), col("l_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"),
        (col("l_discount") * 10).as("posteriorProbability"),
        min(col("l_partkey")).over(tagW).as("_leadPart"))
      .select(
        col("l_orderkey").as("studyLocusId"),
        col("l_partkey").as("tagVariantId"),
        col("posteriorProbability"),
        (col("l_partkey") === col("_leadPart")).as("isSentinel"))
    val matrix = L2GFeatures.computeFeatureMatrix(L2GFeatures.Inputs(
      credSets = flatCred,
      variantIndex = Some(variantIndex),
      genes = Some(genes),
      distances = Some(distances),
      coloc = Some(coloc),
      studyIndex = Some(studyIndex),
      studyLoci = Some(studyLoci),
      tags = Some(tags),
      flatCred = Some(flatCred)), cache = srcCache)
    // quantised projection for the oracle: every double feature q6,
    // window gene counts as raw longs; surrogate keys rendered to the
    // original string ids HERE, once
    val countCols = Seq("geneCount500kb", "proteinGeneCount500kb")
    val doubleCols = matrix.columns.toSeq
      .filterNot(Seq("studyLocusId", "geneId").contains)
      .filterNot(countCols.contains)
    matrix.select(
      concat(lit("L"), col("studyLocusId")).as("studyLocusId") +:
        concat(lit("g"), col("geneId")).as("geneId") +:
      (doubleCols.map(c => q(col(c), 6).as(s"${c}_q6")) ++
        countCols.map(c => col(c).cast("long").as(c))): _*)
  }

  /** L2G gold standard end-to-end: curated positives (nested-struct
    * parse) → window negatives via TSS distances → overlap-dedup →
    * interaction false-negative cleanup (the full
    * ml.L2GGoldStandard.fromOtgCuration chain, oracle-checked). */
  def l2gGoldStandard(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.L2GGoldStandard
    val o = t(s, dir, "orders")
    val variantId = concat_ws("_",
      (col("o_custkey") % 5).cast("string"),
      (col("o_orderkey") * 7 % 100000).cast("string"), lit("A"), lit("T"))
    val studyId = concat(lit("GCST"), col("o_orderkey") % 300)
    val curation = o.select(
      struct(studyId.as("otg_id")).as("association_info"),
      struct(concat(lit("g"), col("o_custkey") % 60).as("gene_id"),
        element_at(array(lit("High"), lit("Medium"), lit("Low")),
          (col("o_orderkey") % 3 + 1).cast("int")).as("highest_confidence"))
        .as("gold_standard_info"),
      struct(
        struct((col("o_custkey") % 5).cast("string").as("chromosome"),
          (col("o_orderkey") * 7 % 100000).as("position")).as("locus_GRCh38"),
        struct(lit("A").as("reference"), lit("T").as("alternative"))
          .as("alleles")).as("sentinel_variant"),
      struct(element_at(array(lit("ProGeM"), lit("OTG")),
        (col("o_orderkey") % 2 + 1).cast("int")).as("set_label"))
        .as("metadata"))
    val distances = o.select(variantId.as("variantId"),
      explode(array(
        struct(concat(lit("g"), col("o_custkey") % 60).as("targetId"),
          (col("o_orderkey") * 13 % 800000).as("distanceFromTss")),
        struct(concat(lit("g"), (col("o_custkey") + 7) % 60).as("targetId"),
          (col("o_orderkey") * 17 % 800000).as("distanceFromTss")),
        struct(concat(lit("g"), (col("o_custkey") + 21) % 60).as("targetId"),
          (col("o_orderkey") * 23 % 800000).as("distanceFromTss")))).as("d"))
      .select(col("variantId"), col("d.targetId"), col("d.distanceFromTss"))
    val overlaps = o.filter(col("o_orderkey") % 5 === 0).select(
      md5(concat_ws("_", studyId, variantId)).as("leftStudyLocusId"),
      concat(lit("x"), col("o_orderkey")).as("rightStudyLocusId"),
      variantId.as("tagVariantId"))
    val interactions = t(s, dir, "part").select(
      concat(lit("g"), col("p_partkey") % 60).as("targetA"),
      concat(lit("g"), (col("p_partkey") * 7 + 1) % 60).as("targetB"),
      ((col("p_partkey") % 100) / 100.0).as("scoring"))
    L2GGoldStandard.fromOtgCuration(curation, distances, overlaps,
        interactions, cache = queryCache)
      .select(col("studyLocusId"), col("studyId"), col("variantId"),
        col("geneId"), col("goldStandardSet"),
        array_join(array_sort(col("sources")), ",").as("sources_str"))
  }

  /** GWAS Catalog study-table parse + discovery-sample-size
    * extraction (S4 study flow): EFO/cohort parsing and free-text
    * case/control extraction, oracle-checked. */
  def gwasCatalogStudyParse(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GwasCatalogStudyIndex
    val o = t(s, dir, "orders")
    val raw = o.select(
      concat(lit("GCST"), col("o_orderkey")).as("STUDY ACCESSION"),
      (col("o_custkey") % 100000).cast("string").as("PUBMED ID"),
      lit("Doe J").as("FIRST AUTHOR"),
      lit("2020-01-01").as("DATE"),
      lit("Nat Genet").as("JOURNAL"),
      concat(lit("Title "), col("o_orderkey") % 7).as("STUDY"),
      when(col("o_orderkey") % 11 === 0, lit(null))
        .otherwise(concat(lit("trait "), col("o_orderkey") % 100))
        .as("DISEASE/TRAIT"),
      // three sample-description shapes: cases+controls, individuals
      // only (no case/control hit), and a digit-free fragment
      when(col("o_orderkey") % 3 === 0,
        concat(lit("1,"), (col("o_custkey") % 900 + 100),
          lit(" European cases, "), col("o_orderkey") % 5000,
          lit(" European controls")))
        .when(col("o_orderkey") % 3 === 1,
          concat(col("o_custkey") % 10000, lit(" European individuals")))
        .otherwise(lit("unknown ancestry individuals"))
        .as("INITIAL SAMPLE SIZE"),
      when(col("o_orderkey") % 4 =!= 0, concat(
        lit("http://www.ebi.ac.uk/efo/EFO_"), col("o_orderkey") % 500,
        lit(",http://purl.obolibrary.org/obo/MONDO_"), col("o_custkey") % 300))
        .as("MAPPED_TRAIT_URI"),
      lit(null).cast("string").as("MAPPED BACKGROUND TRAIT URI"),
      when(col("o_orderkey") % 5 =!= 0,
        concat(lit("UKB|FHS|GERA|UKB|C"), col("o_custkey") % 9))
        .as("COHORT"))
    GwasCatalogStudyIndex.annotateDiscoverySampleSizes(
      GwasCatalogStudyIndex.parseStudyTable(raw))
      .select(col("studyId"), col("pubmedId"), col("traitFromSource"),
        coalesce(array_join(col("traitFromSourceMappedIds"), ","), lit(""))
          .as("efos_str"),
        coalesce(array_join(array_sort(col("cohorts")), ","), lit(""))
          .as("cohorts_str"),
        col("nCases").cast("long").as("nCases"),
        col("nControls").cast("long").as("nControls"),
        col("nSamples").cast("long").as("nSamples"))
  }

  /** rsID→GnomAD variant mapping over synthesised curated associations
    * and a synthetic variant index: array-overlap concordance join,
    * retain-flag windows, max-MAF top-1 (J11/S4). */
  def rsidGnomadMapping(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GwasCatalogAssociations
    val alleles = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val assoc = spread(s, t(s, dir, "orders"), col("o_orderkey")).select(
      concat(lit("a"), col("o_orderkey")).as("rowId"),
      (col("o_custkey") % 3).cast("string").as("CHR_ID"),
      ((col("o_orderkey") * 61) % 100000).cast("string").as("CHR_POS"),
      concat(lit("rs"), col("o_orderkey") % 5000).as("SNPS"),
      (col("o_orderkey") % 5000).cast("string").as("SNP_ID_CURRENT"),
      concat(lit("rs"), col("o_orderkey") % 5000, lit("-"),
        element_at(alleles, (col("o_orderkey") % 4 + 1).cast("int")))
        .as("STRONGEST SNP-RISK ALLELE"))
    val vi = spread(s, t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_linenumber")).select(
      concat(lit("v"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("variantId"),
      (col("l_suppkey") % 3).cast("string").as("chromosome"),
      ((col("l_orderkey") * 61) % 100000).cast("int").as("position"),
      when(col("l_partkey") % 7 === 0, lit("AT"))
        .otherwise(element_at(alleles, (col("l_partkey") % 4 + 1).cast("int")))
        .as("referenceAllele"),
      element_at(alleles, (col("l_partkey") % 3 + 1).cast("int"))
        .as("alternateAllele"),
      array(concat(lit("rs"), col("l_partkey") % 5000)).as("rsIds"),
      array(struct(((col("l_orderkey") * 8 + col("l_linenumber")) / 1e9)
        .as("alleleFrequency"))).as("alleleFrequencies"))
    GwasCatalogAssociations.mapVariantsToGnomadVariants(assoc, vi)
      .select(col("rowId"), col("variantId"),
        col("position").cast("long").as("position"))
  }

  /** J6: LD annotation over synthesised associations, a 5-study
    * population-structure table (unsorted arrays — exercises the
    * desc sort + nfe tie rule: s2 ties {eas, nfe} at 0.5), and an LD
    * index whose tags carry per-population r values. Covered cases:
    * missing variants (vKey % 11 = 0 → UNRESOLVED + lead rescue),
    * tags missing the major population (vKey % 5 = 0 drops nfe →
    * r2 = 0, filtered), self-tags (vKey % 7 = 0 → forced r² = 1 when
    * they survive the threshold), and studies whose major population
    * (eas, s3) no tag carries → whole set filtered → rescue. Output
    * flattened (explode) for the driver's row-sorter; all r values are
    * 2-decimal rationals so r² stays q6-safe across engines. */
  def ldAnnotateQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "lineitem")
      .select((col("l_partkey") % 500).as("vKey"),
        concat(lit("s"), col("l_orderkey") % 5).as("studyId"),
        (col("l_suppkey") % 3).cast("string").as("chromosome"))
      .distinct()
    val assoc = base.select(
      concat(lit("v"), col("vKey")).as("variantId"),
      col("studyId"), col("chromosome"))
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    val studies = Seq(
      ("s0", Seq(("afr", 0.4), ("nfe", 0.6))),
      ("s1", Seq(("nfe", 0.3), ("afr", 0.7))),
      ("s2", Seq(("eas", 0.5), ("nfe", 0.5))),
      ("s3", Seq(("csa", 0.2), ("eas", 0.8))),
      ("s4", Seq(("nfe", 0.25), ("afr", 0.5), ("eas", 0.25)))
    ).toDF("studyId", "pops")
      .select(col("studyId"), transform(col("pops"),
        p => struct(p.getField("_1").as("ldPopulation"),
          p.getField("_2").as("relativeSampleSize")))
        .as("ldPopulationStructure"))
    val r = (m: Int) => ((col("vKey") * m) % 100) / 100.0
    val ldIdx = base.select("vKey", "chromosome").distinct()
      .filter(col("vKey") % 11 =!= 0)
      .select(
        concat(lit("v"), col("vKey")).as("variantId"),
        col("chromosome"),
        array(
          struct(
            when(col("vKey") % 7 === 0, concat(lit("v"), col("vKey")))
              .otherwise(concat(lit("v"), col("vKey") + 1)).as("tagVariantId"),
            array(
              struct(lit("nfe").as("population"), r(7).as("r")),
              struct(lit("afr").as("population"), r(13).as("r"))).as("rValues")),
          struct(
            concat(lit("v"), col("vKey") + 2).as("tagVariantId"),
            when(col("vKey") % 5 === 0,
              array(struct(lit("afr").as("population"), r(17).as("r"))))
              .otherwise(array(
                struct(lit("nfe").as("population"), r(17).as("r")),
                struct(lit("afr").as("population"), r(19).as("r"))))
              .as("rValues"))).as("ldSet"))
    LDAnnotator.ldAnnotate(assoc, studies, ldIdx, r2Threshold = 0.5)
      .select(col("studyId"), col("chromosome"), col("variantId"),
        array_contains(coalesce(col("qualityControls"), array()),
          LDAnnotator.UnresolvedLdFlag).as("unresolved"),
        explode_outer(col("ldSet")).as("tag"))
      .select(col("studyId"), col("chromosome"), col("variantId"),
        col("unresolved"),
        col("tag.tagVariantId").as("tagVariantId"),
        q(col("tag.r2Overall"), 6).as("r2_q6"))
  }

  /** J9: variant-annotation merge over two synthesised VariantIndex
    * sides (lineitem- and part-derived) with deliberately overlapping
    * variant ranges and source vocabularies. Covers every
    * safeArrayUnion branch (both arrays, left-only, right-only, both
    * null via the % 11 / % 13 nulling) and the scalar coalesce
    * (left-null % 5, right-null % 7, absent rows). Output flattened:
    * one row per merged source (array_union dedups; the exploded SET
    * is order-free, so the oracle replays it as a relational DISTINCT
    * union), plus the merged-set size and coalesced scalar. */
  def variantMergeQuery(s: SparkSession, dir: String): DataFrame = {
    val left = t(s, dir, "lineitem")
      .select((col("l_partkey") % 800).as("vKey"),
        concat(lit("src"), col("l_suppkey") % 10).as("src"),
        col("l_quantity"))
      .filter(col("vKey") % 3 =!= 0)
      .groupBy("vKey")
      .agg(collect_set(col("src")).as("srcs"), max(col("l_quantity")).as("qty"))
      .select(concat(lit("v"), col("vKey")).as("variantId"),
        when(col("vKey") % 5 === 0, lit(null))
          .otherwise(col("qty")).cast("double").as("maf"),
        when(col("vKey") % 11 === 0, lit(null).cast("array<string>"))
          .otherwise(col("srcs")).as("sources"))
    val right = t(s, dir, "part")
      .select((col("p_partkey") % 800).as("vKey"),
        concat(lit("src"), col("p_size") % 13).as("src"))
      .filter(col("vKey") % 2 === 0)
      .groupBy("vKey")
      .agg(collect_set(col("src")).as("srcs"))
      .select(concat(lit("v"), col("vKey")).as("variantId"),
        when(col("vKey") % 7 === 0, lit(null))
          .otherwise(col("vKey") / 1000.0).cast("double").as("maf"),
        when(col("vKey") % 13 === 0, lit(null).cast("array<string>"))
          .otherwise(col("srcs")).as("sources"))
    VariantOps.mergeAnnotations(left, right, Seq("sources"))
      .select(col("variantId"), q(col("maf"), 3).as("maf_q3"),
        size(col("sources")).cast("long").as("n_src"),
        explode_outer(col("sources")).as("src"))
  }

  /** S14: ontology ancestor closure over a synthesised DAG (node k
    * links to k/3, plus a second parent k/3+1 for k % 4 = 0 — parents
    * always have smaller ids, so the graph is acyclic with genuine
    * multi-parent diamonds). Exercises the broadcast-adjacency DFS
    * closure; the oracle replays it with a recursive CTE. Output
    * flattened to (node, ancestor) set rows; roots emit the single
    * null row explode_outer produces. */
  def ontologyClosureQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.BiosampleOntology
    val nodes = t(s, dir, "lineitem")
      .select((col("l_partkey") % 300).as("k")).distinct()
    val p1 = nodes.filter(col("k") > 0)
      .select(col("k").as("child"), floor(col("k") / 3).cast("int").as("parent"))
    val p2 = nodes.filter(col("k") % 4 === 0 && col("k") >= 2)
      .select(col("k").as("child"),
        (floor(col("k") / 3) + 1).cast("int").as("parent"))
    val parents = p1.union(p2)
      .groupBy("child")
      .agg(collect_set(concat(lit("n"), col("parent"))).as("parents"))
    val df = nodes
      .select(concat(lit("n"), col("k")).as("biosampleId"), col("k"))
      .join(parents, col("k") === col("child"), "left")
      .select(col("biosampleId"), coalesce(col("parents"), array()).as("parents"))
    BiosampleOntology.graphTraversal(s, df, "biosampleId", "parents", "ancestors")
      .select(col("biosampleId"), explode_outer(col("ancestors")).as("ancestorId"))
  }

  /** F23: chain-file liftover over a literal block index — forward
    * blocks, a cross-chromosome block, a strand-flipped block, gap
    * regions and an unindexed chromosome (dropped). The engine runs
    * the broadcast binary-search UDF; the oracle replays the (sorted,
    * non-overlapping) blocks as a containment join with the same
    * 0-based shift and flip arithmetic. */
  def liftoverQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Liftover
    val index: Liftover.ChainIndex = Map(
      "1" -> Array(
        Liftover.Block(0, 1000, 10000, "1", flipped = false, 50000),
        Liftover.Block(2000, 3000, 500, "5", flipped = false, 50000),
        Liftover.Block(5000, 8000, 20000, "1", flipped = true, 50000)),
      "2" -> Array(
        Liftover.Block(100, 4000, 7, "2", flipped = false, 100000)))
    val df = t(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      (col("l_suppkey") % 3).cast("string").as("chromosome"),
      ((col("l_partkey") * 37) % 10000 + 1).cast("int").as("position"))
    Liftover.liftPositions(s, df, index)
      .select(col("l_orderkey"), col("l_linenumber"), col("chromosome"),
        col("position").cast("long").as("position"))
  }

  /** F25 + F24: in-silico predictor score normalisation (per-method
    * piecewise-linear maps incl. the SIFT inversion and the LOFTEE
    * step) and most-severe-consequence selection over synthesised
    * transcript arrays (severity ranks injective per variant — the
    * stable-sort tie rule never engages, so the oracle's argmax is
    * exact). */
  def effectNormQuery(s: SparkSession, dir: String): DataFrame = {
    val methods = array(lit("AlphaMissense"), lit("CADD"), lit("SIFT"),
      lit("PolyPhen"), lit("GERP"), lit("FoldX"), lit("Pangolin"),
      lit("LOFTEE"), lit("NoSuchMethod"))
    val terms = array(lit("missense_variant"), lit("stop_gained"),
      lit("synonymous_variant"), lit("intron_variant"))
    val severity = map(
      lit("stop_gained"), lit(4.0), lit("missense_variant"), lit(3.0),
      lit("synonymous_variant"), lit(2.0), lit("intron_variant"), lit(1.0))
    val base = t(s, dir, "part").select(
      col("p_partkey"),
      element_at(methods, (col("p_partkey") % 9 + 1).cast("int")).as("method"),
      // raw scores straddle each method's range (negatives for GERP,
      // >1 overflow clamps, exact rationals for q6 safety)
      ((col("p_partkey") % 47) - 5.0).as("score"),
      transform(sequence(lit(1), (col("p_partkey") % 3 + 1).cast("int")),
        i => struct(
          element_at(terms, ((col("p_partkey") + i) % 4 + 1).cast("int"))
            .as("consequenceTerm"),
          concat(lit("t"), i).as("transcriptId"))).as("transcripts"))
    base.select(
      col("p_partkey"),
      col("method"),
      q(VariantOps.normalisedEffectScore(col("method"), col("score") / 10.0), 6)
        .as("norm_q6"),
      VariantOps.mostSevereConsequence(col("transcripts"), severity)
        .getField("consequenceTerm").as("worst_term"))
  }

  /** Study-index validation battery: unique-id, study-type, target and
    * biosample validators chained, flags serialised sorted. */
  def studyValidation(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Validators
    val studies = t(s, dir, "orders")
      .select((col("o_orderkey") % 300).as("sk"))
      .select(
        concat(lit("s"), col("sk")).as("studyId"),
        element_at(array(lit("gwas"), lit("eqtl"), lit("pqtl"), lit("weird")),
          (col("sk") % 4 + 1).cast("int")).as("studyType"),
        when(col("sk") % 5 === 0, lit("gX"))
          .otherwise(concat(lit("g"), col("sk") % 50)).as("geneId"),
        concat(lit("b"), col("sk") % 20).as("biosampleFromSourceId"))
    val targets = s.range(50).select(concat(lit("g"), col("id")).as("id"))
    val biosamples = s.range(10)
      .select(concat(lit("b"), col("id")).as("biosampleId"))
    Validators.validateBiosample(
      Validators.validateTarget(
        Validators.validateStudyType(
          Validators.validateUniqueStudyId(studies)), targets), biosamples)
      .select(col("studyId"), col("studyType"), col("geneId"),
        col("biosampleFromSourceId"),
        concat_ws(",", array_sort(col("qualityControls"))).as("qcFlags"))
  }

  /** Multi-source study deconvolution. Metadata is functionally
    * determined by the dedup source column (projectId) so the
    * first-non-null window is deterministic under ordering ties; the
    * flag union serialises sorted. */
  def studyDeconvolution(s: SparkSession, dir: String): DataFrame =
    StudyIndexOps.deconvolveStudies(
      t(s, dir, "orders").select(
        concat(lit("s"), col("o_custkey") % 200).as("studyId"),
        col("o_orderpriority").as("projectId"),
        when(col("o_orderstatus") === "F", array(lit("FLAG_F")))
          .otherwise(lit(null).cast("array<string>")).as("qualityControls"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          length(col("o_orderpriority")) * 1000)
          .otherwise(lit(null)).cast("int").as("nSamples")))
      // Flatten the array so the driver's pandas row-sorter (which cannot
      // hash numpy arrays) can order rows deterministically.
      .withColumn("qualityControls",
        concat_ws(",", array_sort(coalesce(col("qualityControls"),
          array().cast("array<string>")))))

  // --------------------------------------- scale-rehearsal variants
  // Rehearsal-only (registered in SparkEntry.rehearsalQueries, never
  // run by Verify): scaled-workload versions of registered queries
  // whose synthesis moduli PIN the group space — on key-shifted clones
  // those queries only grow per-group row counts, so they cannot
  // answer "does the operator scale with group COUNT". These variants
  // derive their keys from RAW (shifted) columns instead.

  /** LD clumping with raw part keys: leads scale with the clones while
    * the 15 (study, chromosome) partitions stay fixed — every
    * partition becomes a mega-partition at 100x, the worst case for
    * the clump join (and the shape that killed the old running
    * collect_set window). */
  def ldClumpScaled(s: SparkSession, dir: String): DataFrame = {
    val slim = t(s, dir, "lineitem")
      .groupBy(col("l_partkey").as("vKey"),
        concat(lit("s"), col("l_orderkey") % 5).as("studyId"),
        (col("l_suppkey") % 3).cast("string").as("chromosome"))
      .agg(max(col("l_discount") * 10).as("maxR2"))
      .select(
        concat(lit("v"), col("vKey")).as("variantId"),
        col("studyId"), col("chromosome"),
        // double (not the registered float) so mantissa stays
        // injective in vKey at any clone factor
        (col("vKey") / 2000.0 + 1.0).as("pValueMantissa"),
        (-(col("vKey") % 12) - 4).cast("int").as("pValueExponent"),
        array(struct(concat(lit("v"), col("vKey") + 1).as("tagVariantId"),
          col("maxR2").as("r2Overall"))).as("ldSet"))
    // NO persist here, deliberately: at 100x the columnar cache of the
    // 6M-row synthesized frame measured 35.0 s vs 6.2 s for plain
    // double recompute (the same persist-worse-than-recompute trap as
    // the r10 window-clump cache) — at mega-partition density the
    // cache build+decode dwarfs the synthesis groupBy it saves. The
    // registered sf-scale ldClump DOES persist: there the cache feeds
    // the windowPathMaxRows count gate plus a single window pass.
    val assoc = slim
      .withColumn("locus", array(struct(col("variantId"),
        lit(1.0).as("posteriorProbability"))))
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    LDClumping.clump(assoc, cache = queryCache)
      .select(col("studyId"), col("chromosome"), col("variantId"),
        array_contains(coalesce(col("qualityControls"), array()),
          LDClumping.LdClumpedFlag).as("ldClumped"))
  }

  /** Ancestry aggregation with RAW customer keys: the study COUNT
    * scales with the clones (~1.5k/15k/150k studies at 1×/10×/100×)
    * while per-study discovery-sample lists stay O(10) rows — the real
    * scale axis for [[StudyIndexOps.aggregateAndMapAncestries]]
    * (registered q_gx_ancestry_agg pins 100 studies and only grows
    * per-study row counts under clones). */
  def ancestryAggScaled(s: SparkSession, dir: String): DataFrame = {
    val ancestries = array(lit("European"), lit("Finnish"), lit("East Asian"),
      lit("South Asian"), lit("African unspecified"), lit("NR"))
    t(s, dir, "orders")
      .groupBy(col("o_custkey").as("studyKey"))
      .agg(collect_list(struct(
        element_at(ancestries, (col("o_orderkey") % 6 + 1).cast("int"))
          .as("ancestry"),
        (col("o_totalprice") / 100).as("sampleSize"))).as("discoverySamples"))
      .select(col("studyKey"),
        explode(StudyIndexOps.aggregateAndMapAncestries(col("discoverySamples")))
          .as("ld"))
      .select(col("studyKey"), col("ld.ldPopulation"),
        q(col("ld.relativeSampleSize"), 6).as("rel_q6"))
  }

  /** Study deconvolution with RAW customer keys — study count scales
    * linearly, per-study (project, flag) deconvolution groups stay
    * O(1) (registered q_gx_study_deconvolution pins 200 studies). */
  def studyDeconvolutionScaled(s: SparkSession, dir: String): DataFrame =
    StudyIndexOps.deconvolveStudies(
      t(s, dir, "orders").select(
        concat(lit("s"), col("o_custkey")).as("studyId"),
        col("o_orderpriority").as("projectId"),
        when(col("o_orderstatus") === "F", array(lit("FLAG_F")))
          .otherwise(lit(null).cast("array<string>")).as("qualityControls"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          length(col("o_orderpriority")) * 1000)
          .otherwise(lit(null)).cast("int").as("nSamples")))

  /** L2G gold standard with RAW order keys: study-locus count and the
    * distance/overlap index scale with the clones while the gene
    * universe (60) and per-variant candidate density (3 genes) stay
    * fixed — genomes don't grow with data (registered
    * q_ml_l2g_gold_standard pins studies % 300 and positions % 1e5). */
  def l2gGoldStandardScaled(s: SparkSession, dir: String): DataFrame = {
    import graft.ml.L2GGoldStandard
    val o = t(s, dir, "orders")
    val variantId = concat_ws("_",
      (col("o_custkey") % 5).cast("string"),
      (col("o_orderkey") * 7).cast("string"), lit("A"), lit("T"))
    val studyId = concat(lit("GCST"), col("o_orderkey"))
    val curation = o.select(
      struct(studyId.as("otg_id")).as("association_info"),
      struct(concat(lit("g"), col("o_custkey") % 60).as("gene_id"),
        element_at(array(lit("High"), lit("Medium"), lit("Low")),
          (col("o_orderkey") % 3 + 1).cast("int")).as("highest_confidence"))
        .as("gold_standard_info"),
      struct(
        struct((col("o_custkey") % 5).cast("string").as("chromosome"),
          (col("o_orderkey") * 7).as("position")).as("locus_GRCh38"),
        struct(lit("A").as("reference"), lit("T").as("alternative"))
          .as("alleles")).as("sentinel_variant"),
      struct(element_at(array(lit("ProGeM"), lit("OTG")),
        (col("o_orderkey") % 2 + 1).cast("int")).as("set_label"))
        .as("metadata"))
    val distances = o.select(variantId.as("variantId"),
      explode(array(
        struct(concat(lit("g"), col("o_custkey") % 60).as("targetId"),
          (col("o_orderkey") * 13 % 800000).as("distanceFromTss")),
        struct(concat(lit("g"), (col("o_custkey") + 7) % 60).as("targetId"),
          (col("o_orderkey") * 17 % 800000).as("distanceFromTss")),
        struct(concat(lit("g"), (col("o_custkey") + 21) % 60).as("targetId"),
          (col("o_orderkey") * 23 % 800000).as("distanceFromTss")))).as("d"))
      .select(col("variantId"), col("d.targetId"), col("d.distanceFromTss"))
    val overlaps = o.filter(col("o_orderkey") % 5 === 0).select(
      md5(concat_ws("_", studyId, variantId)).as("leftStudyLocusId"),
      concat(lit("x"), col("o_orderkey")).as("rightStudyLocusId"),
      variantId.as("tagVariantId"))
    val interactions = t(s, dir, "part").select(
      concat(lit("g"), col("p_partkey") % 60).as("targetA"),
      concat(lit("g"), (col("p_partkey") * 7 + 1) % 60).as("targetB"),
      ((col("p_partkey") % 100) / 100.0).as("scoring"))
    L2GGoldStandard.fromOtgCuration(curation, distances, overlaps,
        interactions, cache = queryCache)
      .select(col("studyLocusId"), col("studyId"), col("variantId"),
        col("geneId"), col("goldStandardSet"),
        array_join(array_sort(col("sources")), ",").as("sources_str"))
  }

  /** Fine-mapping e2e whose LOCUS COUNT scales with the clones: the
    * registered q_gx_finemap_e2e pins a fixed 16-locus portfolio (a
    * numerics anchor), so it cannot answer "do loci fine-map
    * executor-parallel at 10×/100× the loci". Here each 1000-wide raw
    * orderkey block is one locus (~33 qualifying variants per block —
    * per-locus cost constant by construction), so key-shifted clones
    * grow the locus count linearly: ~15/150/1500 at 1×/10×/100×. The
    * planted-spike recipe (two causal sites, NULL-z imputation
    * candidates, contradictory CARMA outliers) and the
    * CARMA→RAISS→SuSiE-inf chain are identical to the registered
    * query. */
  def finemapScaled(s: SparkSession, dir: String): DataFrame = {
    val vars = spread(s, t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 17 === 0 && col("l_linenumber") === 1),
      col("l_orderkey"))
      .select(
        concat(lit("L"), floor(col("l_orderkey") / 1000)).as("locusId"),
        concat(lit("v"), col("l_orderkey")).as("variantId"),
        ((col("l_orderkey") * 37) % 1000000).cast("double").as("pos"),
        col("l_partkey"))
    val wl = Window.partitionBy("locusId")
    val withZ = vars
      .withColumn("c1", min("pos").over(wl))
      .withColumn("c2", max("pos").over(wl))
      .withColumn("z",
        when(col("l_partkey") % 7 === 0, lit(null).cast("double"))
          .otherwise(
            lit(6.0) * exp(-abs(col("pos") - col("c1")) / 200000.0) +
              lit(4.0) * exp(-abs(col("pos") - col("c2")) / 200000.0) +
              lit(0.3) * sin(col("pos") / 50000.0) +
              when(col("l_partkey") % 23 === 0, lit(-8.0))
                .otherwise(lit(0.0))))
      .select("locusId", "variantId", "pos", "z")
    val w = Window.partitionBy("locusId").orderBy("variantId")
    val indexed = withZ.withColumn("idx",
      (row_number().over(w) - 1).cast("int"))
    val ld = indexed.select(col("locusId"), col("idx").as("i"),
        col("pos").as("pi"))
      .join(indexed.select(col("locusId"), col("idx").as("j"),
        col("pos").as("pj")), Seq("locusId"))
      .filter(col("i") < col("j"))
      .select(col("locusId"), col("i"), col("j"),
        exp(-abs(col("pi") - col("pj")) / 200000.0).as("r"))
    graft.finemap.DistributedFineMapper
      .finemapAll(s, withZ.select("locusId", "variantId", "z"), ld,
        n = 100000, L = 5, coverage = 0.95,
        runCarma = true, imputeMissing = true,
        imputedR2Threshold = 0.5, ldScoreThreshold = 0.5)
      .toDF()
      .select(col("locusId").as("locus_id"), col("variantId").as("variant_id"),
        q(col("pip"), 6).as("pip_q6"), q(col("logBF"), 6).as("log_bf_q6"),
        col("inCredibleSet").cast("int").as("in_credible_set"))
  }

  /** Overlaps whose locus-pair count scales with RAW order keys (the
    * registered synthesis pins 20×10 pairs); each GWAS locus pairs
    * with one QTL locus and carries the order's 1–7 line tags —
    * N pairs × O(1) tags, the 100 TB COLOC shape. */
  private def synthOverlapsScaled(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select(
      concat(lit("L"), col("l_orderkey")).as("leftStudyLocusId"),
      concat(lit("R"), col("l_orderkey")).as("rightStudyLocusId"),
      lit("eqtl").as("rightStudyType"),
      (col("l_suppkey") % 3).cast("string").as("chromosome"),
      concat(lit("v"), col("l_linenumber")).as("tagVariantId"),
      struct(
        (col("l_extendedprice") / 5000).as("left_logBF"),
        (col("l_quantity") / 10).as("right_logBF"),
        (col("l_discount") * 9).as("left_posteriorProbability"),
        (col("l_tax") * 10).as("right_posteriorProbability"),
        (col("l_extendedprice") / 10000 - 2).as("left_beta"),
        (col("l_tax") * 10 - 0.4).as("right_beta")).as("statistics"))

  /** Classic (non-fused) COLOC over N-scaling locus pairs. */
  def colocClassicScaled(s: SparkSession, dir: String): DataFrame =
    Coloc.colocalise(synthOverlapsScaled(s, dir))
      .select(col("leftStudyLocusId"), col("rightStudyLocusId"),
        col("chromosome"), col("numberColocalisingVariants"),
        q(col("h4"), 4).as("h4_q4"))

  /** Classic eCAVIAR over N-scaling locus pairs. */
  def ecaviarClassicScaled(s: SparkSession, dir: String): DataFrame =
    Coloc.eCaviar(synthOverlapsScaled(s, dir))
      .select(col("leftStudyLocusId"), col("rightStudyLocusId"),
        col("chromosome"), col("numberColocalisingVariants"),
        q(col("clpp"), 6).as("clpp_q6"))

  /** rsID↔GnomAD mapping with position/rs spaces proportional to the
    * key space, keeping per-position candidate density CONSTANT across
    * clone factors (genomes grow with the variant universe, not with
    * row count — a fixed 1e5 position space at 100x would measure a
    * quadratically-degenerate join, not the operator). */
  def rsidGnomadMapScaled(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.GwasCatalogAssociations
    val maxKey = t(s, dir, "orders").agg(max("o_orderkey")).head().getLong(0)
    val f = math.max(1L, (maxKey + 60000L) / 60001L) // clone factor
    val posSpace = 100000L * f
    val rsSpace = 5000L * f
    val alleles = array(lit("A"), lit("C"), lit("G"), lit("T"))
    val assoc = spread(s, t(s, dir, "orders"), col("o_orderkey")).select(
      concat(lit("a"), col("o_orderkey")).as("rowId"),
      (col("o_custkey") % 3).cast("string").as("CHR_ID"),
      ((col("o_orderkey") * 61) % posSpace).cast("string").as("CHR_POS"),
      concat(lit("rs"), col("o_orderkey") % rsSpace).as("SNPS"),
      (col("o_orderkey") % rsSpace).cast("string").as("SNP_ID_CURRENT"),
      concat(lit("rs"), col("o_orderkey") % rsSpace, lit("-"),
        element_at(alleles, (col("o_orderkey") % 4 + 1).cast("int")))
        .as("STRONGEST SNP-RISK ALLELE"))
    val vi = spread(s, t(s, dir, "lineitem"),
        col("l_orderkey"), col("l_linenumber")).select(
      concat(lit("v"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("variantId"),
      (col("l_suppkey") % 3).cast("string").as("chromosome"),
      ((col("l_orderkey") * 61) % posSpace).cast("int").as("position"),
      when(col("l_partkey") % 7 === 0, lit("AT"))
        .otherwise(element_at(alleles, (col("l_partkey") % 4 + 1).cast("int")))
        .as("referenceAllele"),
      element_at(alleles, (col("l_partkey") % 3 + 1).cast("int"))
        .as("alternateAllele"),
      array(concat(lit("rs"), col("l_partkey") % rsSpace)).as("rsIds"),
      array(struct(((col("l_orderkey") * 8 + col("l_linenumber")) / 1e9)
        .as("alleleFrequency"))).as("alleleFrequencies"))
    GwasCatalogAssociations.mapVariantsToGnomadVariants(assoc, vi)
      .select(col("rowId"), col("variantId"),
        col("position").cast("long").as("position"))
  }
}
