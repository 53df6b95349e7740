package perfbench

import graft.steps.Steps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.io.File

/** The genetics lifecycle chain: seven `Steps.runFromArgs` calls (the CLI
  * surface) joined by glue stages, every stage writing parquet that the
  * next one reads. Inputs are derived from the seeded `lineitem` exactly
  * as the engine's chain benchmark derives them: 10 GWAS + 10 eQTL
  * studies over 3 chromosomes, positions from the order keys, a causal
  * z-spike at the centre of every 50 kb block, ~11% null betas (RAISS
  * candidates) and ~2.4% sign-discordant outliers (CARMA bait).
  *
  * Each pass writes under its own directory; the previous pass's tree is
  * deleted between passes, outside the timed region. */
final class Chain(ctx: Ctx, dir: String, root: String) extends Workload {
  private val spark = ctx.spark
  private var last = ""

  private def glue(name: String)(body: => Unit): Op =
    ctx.op("glue", name) { body; 0.0 }

  private def step(name: String, args: String*): Op =
    ctx.op("step", name) { Steps.runFromArgs(spark, name +: args); 0.0 }

  def warmup(): Seq[Op] = run(s"$root/warm")

  def pass(k: Int): Seq[Op] = run(s"$root/p$k")

  override def afterPass(k: Int): Unit = {
    if (k > 0) deleteTree(new File(s"$root/p${k - 1}"))
    deleteTree(new File(s"$root/warm"))
  }

  def outputs: Map[String, String] = Map("chain" -> last)

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def run(work: String): Seq[Op] = {
    last = work
    val sumstats = s"$work/sumstats"
    val clumped = s"$work/clumped"
    val leads = s"$work/leads"
    val ldIndex = s"$work/ld_index"
    val studies = s"$work/studies"
    val annotated = s"$work/annotated"
    val loci = s"$work/finemap_loci"
    val ldBlocks = s"$work/finemap_ld"
    val credRaw = s"$work/susie_credsets"
    val credOut = s"$work/credible_sets"
    val coloc = s"$work/coloc"
    val distances = s"$work/distances"
    val matrix = s"$work/l2g_matrix"
    val labelled = s"$work/l2g_labelled"
    val model = s"$work/l2g_model"
    val scores = s"$work/l2g_scores"
    val rd = spark.read

    Seq(
      glue("synthesize_sumstats") {
        val li = rd.parquet(s"$dir/lineitem.parquet")
        val ok2 = (col("l_orderkey") / 2).cast("long")
        val pos = (col("l_orderkey") * 4).cast("long")
        val d = abs(pos % 50000L - 25000L)
        val zSig = lit(7.0) * exp(-(d * d) / lit(2.0 * 2000.0 * 2000.0)) +
          lit(0.4) * sin(pos / lit(977.0)) +
          when(ok2 % 41 === 0, lit(-9.0)).otherwise(lit(0.0))
        li.filter(col("l_orderkey") % 2 === 0)
          .select(
            concat(when(col("l_partkey") % 2 === 0, lit("g")).otherwise(lit("e")),
              ok2 % 10).as("studyId"),
            ((ok2 / 10).cast("long") % 3).cast("string").as("chromosome"),
            pos.as("position"),
            (lit(1.0) + (ok2 % 89) / 10.0).cast("float").as("pValueMantissa"),
            (-(ok2 % 12) - 4).cast("int").as("pValueExponent"),
            when(ok2 % 9 === 0, lit(null).cast("double"))
              .otherwise(zSig * 0.1).as("beta"),
            when(ok2 % 9 === 0, lit(null).cast("double"))
              .otherwise(lit(0.1)).as("standardError"))
          .withColumn("variantId", concat(col("chromosome"), lit("_"),
            col("position"), lit("_A_T")))
          .dropDuplicates("studyId", "chromosome", "position")
          .write.mode("overwrite").parquet(sumstats)
      },
      step("window_based_clumping", s"in=$sumstats", s"out=$clumped",
        "distance=1000"),
      glue("lead_filter") {
        rd.parquet(clumped)
          .filter(!array_contains(col("qualityControls"), "WINDOW_CLUMPED"))
          .write.mode("overwrite").parquet(leads)
      },
      glue("ld_index_build") {
        rd.parquet(leads).select("variantId", "chromosome", "position").distinct()
          .select(col("variantId"), col("chromosome"),
            array(
              struct(col("variantId").as("tagVariantId"),
                array(struct(lit("nfe").as("population"), lit(1.0).as("r")))
                  .as("rValues")),
              struct(concat(col("chromosome"), lit("_b"),
                col("position") - col("position") % 5000, lit("_A_T"))
                .as("tagVariantId"),
                array(struct(lit("nfe").as("population"), lit(0.9).as("r")))
                  .as("rValues"))).as("ldSet"))
          .write.mode("overwrite").parquet(ldIndex)
        rd.parquet(sumstats).select("studyId").distinct()
          .withColumn("ldPopulationStructure",
            array(struct(lit("nfe").as("ldPopulation"),
              lit(1.0).as("relativeSampleSize"))))
          .write.mode("overwrite").parquet(studies)
      },
      step("ld_annotation", s"in=$leads", s"studies=$studies",
        s"ld_index=$ldIndex", s"out=$annotated"),
      glue("locus_extraction") {
        val window = 1250L
        val bw = window * 2
        val leadB = rd.parquet(annotated)
          .filter(col("pValueExponent") <= -14)
          .select(concat_ws("|", col("studyId"), col("chromosome"),
            col("studyLocusId")).as("locusId"),
            col("studyId").as("_l_study"), col("chromosome").as("_l_chrom"),
            col("position").cast("long").as("_l_pos"))
          .withColumn("_lb", explode(array(
            floor(col("_l_pos") / bw) - 1, floor(col("_l_pos") / bw),
            floor(col("_l_pos") / bw) + 1)))
        rd.parquet(sumstats)
          .select(col("studyId"), col("chromosome"),
            col("position").cast("long").as("position"), col("variantId"),
            (col("beta") / col("standardError")).as("z"))
          .withColumn("_b", floor(col("position") / bw))
          .join(leadB, col("studyId") === col("_l_study") &&
            col("chromosome") === col("_l_chrom") && col("_b") === col("_lb"))
          .filter(abs(col("position") - col("_l_pos")) <= window)
          .select(col("locusId"), col("variantId"), col("z"), col("position"))
          .write.mode("overwrite").parquet(loci)
      },
      glue("ld_block_build") {
        val wIdx = Window.partitionBy("locusId").orderBy("variantId")
        val idx = rd.parquet(loci)
          .select(col("locusId"), col("variantId"), col("position"))
          .withColumn("idx", (row_number().over(wIdx) - 1).cast("int"))
        idx.select(col("locusId"), col("idx").as("i"), col("position").as("_pi"))
          .join(idx.select(col("locusId"), col("idx").as("j"),
            col("position").as("_pj")), Seq("locusId"))
          .filter(col("i") < col("j"))
          .select(col("locusId"), col("i"), col("j"),
            exp(-abs(col("_pi") - col("_pj")) / lit(500.0)).as("r"))
          .write.mode("overwrite").parquet(ldBlocks)
      },
      step("susie_credible_sets", s"in=$loci", s"ld=$ldBlocks",
        s"out=$credRaw", "l=5", "run_carma=true",
        "run_sumstat_imputation=true", "imputed_r2_threshold=0.5",
        "ld_score_threshold=0.5", "dedup_perfect_ld=true"),
      glue("credset_projection") {
        val parts = split(col("locusId"), "\\|")
        rd.parquet(credRaw).select(
            concat(parts.getItem(2), lit("_cs"), col("credibleSetIndex"))
              .as("studyLocusId"),
            parts.getItem(0).as("studyId"),
            when(parts.getItem(0).startsWith("g"), "gwas").otherwise("eqtl")
              .as("studyType"),
            parts.getItem(1).as("chromosome"),
            concat(lit("r"), parts.getItem(1)).as("region"),
            col("variantId"),
            split(col("variantId"), "_").getItem(1).cast("long").as("position"),
            transform(col("locus"), t => struct(
              t.getField("variantId").as("variantId"),
              t.getField("logBF").as("logBF"),
              t.getField("posteriorProbability").as("posteriorProbability"),
              t.getField("beta").as("beta"),
              lit(null).cast("float").as("pValueMantissa"),
              lit(null).cast("int").as("pValueExponent"))).as("locus"))
          .write.mode("overwrite").parquet(credOut)
      },
      step("colocalisation", s"in=$credOut", s"out=$coloc", "method=ecaviar"),
      glue("distance_index_build") {
        rd.parquet(credOut).select("variantId").distinct()
          .select(col("variantId"), explode(array(
            struct(concat(lit("gn_"), col("variantId")).as("geneId"),
              lit(5000L).as("distanceFromTss")),
            struct(concat(lit("gf_"), col("variantId")).as("geneId"),
              lit(250000L).as("distanceFromTss")))).as("g"))
          .select(col("variantId"), col("g.geneId"), col("g.distanceFromTss"))
          .write.mode("overwrite").parquet(distances)
      },
      step("l2g_feature_matrix", s"credible_sets=$credOut",
        s"distances=$distances", s"out=$matrix"),
      glue("l2g_labelling") {
        rd.parquet(matrix)
          .withColumn("goldStandardSet",
            when(col("geneId").startsWith("gn_"), "positive").otherwise("negative"))
          .write.mode("overwrite").parquet(labelled)
      },
      step("l2g_train", s"in=$labelled", s"out=$model",
        "cross_validate=false", "max_iter=10", "max_depth=3"),
      step("l2g_score", s"model=$model", s"in=$matrix", s"out=$scores"))
  }
}
