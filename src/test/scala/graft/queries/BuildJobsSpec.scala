package graft.queries

import graft.{Bench, SparkEntry, SparkSpec}
import graft.core.CacheHandle
import org.apache.commons.io.FileUtils
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Building a registered query's frame runs no Spark job: every job
  * belongs to the caller's terminal action. Checked on the six
  * queries of perfbench's query_mix, over tiny TPC-H-ish tables
  * generated here (the columns those queries read), and on every
  * registered query over the sf0.001 test data, where the queries that
  * still run a driver loop while they are built are listed with their
  * exact job count. */
class BuildJobsSpec extends SparkSpec {

  private val queryMix = Seq("q_ml_l2g_gold_standard", "q_gx_ld_clump",
    "q_j6_ld_annotate", "q_j9_variant_merge", "q_gx_coloc",
    "q_f3_pvalue_codec")

  private lazy val dir: String = {
    val d = Files.createTempDirectory("build_jobs").toFile
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.repartition(2).write.parquet(s"$d/$name.parquet")
    val id = col("id")
    save(spark.range(800).select(
      (id / 4).cast("long").as("l_orderkey"),
      (id * 7919 % 200).as("l_partkey"),
      (id * 31 % 10).as("l_suppkey"),
      (id % 4 + 1).cast("int").as("l_linenumber"),
      (id % 50 + 1).cast("double").as("l_quantity"),
      (id * 137 % 90000 + 900).cast("double").as("l_extendedprice"),
      ((id % 11) / 100.0).as("l_discount"),
      ((id % 9) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (id % 3 + 1).cast("int"))
        .as("l_returnflag"),
      when(id % 2 === 0, lit("F")).otherwise(lit("O")).as("l_linestatus"),
      timestamp_seconds(id * 86400 + 788918400L).as("l_shipdate")), "lineitem")
    save(spark.range(200).select(
      id.as("o_orderkey"),
      (id * 17 % 150).as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (id % 3 + 1).cast("int"))
        .as("o_orderstatus"),
      (id * 2711 % 500000 + 1000).cast("double").as("o_totalprice"),
      timestamp_seconds(id * 86400 + 788918400L).as("o_orderdate"),
      concat((id % 5 + 1).cast("string"), lit("-PRIORITY")).as("o_orderpriority")),
      "orders")
    save(spark.range(200).select(
      id.as("p_partkey"),
      concat(lit("part "), id.cast("string")).as("p_name"),
      concat(lit("Brand#"), (id % 25 + 1).cast("string")).as("p_brand"),
      element_at(array(lit("ECONOMY"), lit("STANDARD"), lit("PROMO")),
        (id % 3 + 1).cast("int")).as("p_type"),
      (id % 50 + 1).cast("int").as("p_size"),
      (id % 1000 * 0.1 + 900.0).as("p_retailprice")), "part")
    d.getAbsolutePath
  }

  /** Build-time jobs of the queries that still run some, exactly: a
    * count that drops must drop here too, so the list only shrinks. */
  private val buildJobs = Map(
    "q_ann_ivf" -> 1, "q_ann_pq" -> 1, "q_ann_sq8" -> 2,
    "q_dedup_cluster_histogram" -> 10, "q_dedup_components" -> 10,
    "q_dedup_decontaminate_bloom" -> 3, "q_dedup_keep_best" -> 10,
    "q_dedup_semantic" -> 2, "q_kmeans_step" -> 2,
    "q_pack_shards" -> 2, "q_pca_cov" -> 2,
    "q_s14_ontology_closure" -> 7, "q_search_rrf" -> 7,
    "q_sim_hard_negatives" -> 5, "q_split_leakage_safe" -> 10,
    "q_text_bpe" -> 2)

  override def afterAll(): Unit = {
    FileUtils.deleteDirectory(new java.io.File(dir))
    super.afterAll()
  }

  for (name <- queryMix)
    test(s"building $name runs no Spark job") {
      val tables = dir // written before the count starts
      val (df, jobs) = JobCount(spark)(SparkEntry.queries(name)(spark, tables))
      try {
        assert(jobs == 0)
        Bench.consume(df) // the frame still runs
      } finally CacheHandle.releaseQueryScoped()
    }

  test("building every registered query runs only its listed jobs") {
    val sf = "/root/testdata/sf0.001"
    val mismatches = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val (_, jobs) =
          try JobCount(spark)(build(spark, sf))
          finally {
            CacheHandle.releaseQueryScoped()
            spark.sharedState.cacheManager.clearCache()
          }
        val want = buildJobs.getOrElse(name, 0)
        if (jobs == want) None else Some(s"$name: $jobs jobs, listed $want")
    }
    assert(mismatches.isEmpty, mismatches.mkString("\n"))
    assert(buildJobs.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
