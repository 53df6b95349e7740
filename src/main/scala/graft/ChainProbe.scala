package graft

import graft.steps.Steps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 1000×-decade probe of the lifecycle chain's two super-linear
  * stages. CHAIN_r12 measured the full chain at 1×/10×/100× and two
  * stages grew faster than linear in the last decade —
  * susie_credible_sets (×1.9 wall per ×10 rows) and l2g_train (×4.1)
  * — so this main pins where the NEXT decade's ceiling is before a
  * real cluster finds it, without paying a full 1000× chain run.
  *
  * Method: take a completed 100× chain work dir and clone each
  * stage's INPUT 10× by key suffix (locusId for fine-mapping,
  * studyLocusId for training) — per-locus/per-row content stays
  * identical, the independent-work-unit COUNT grows 10×, which is
  * exactly the chain's own scaling law (fixed study/chromosome space,
  * O(1) per-group density, 10×/decade units). Both the 100× baseline
  * and the 1000× point are re-run in THIS session's JVM, baseline
  * first and again last (the JIT-cold first run is discarded for the
  * ratio), so the decade ratio is machine-state- and
  * JIT-warmup-controlled rather than stitched from different runs.
  *
  * Usage:
  * {{{
  * /opt/spark/bin/spark-submit --class graft.ChainProbe \
  *   --master local[32] --driver-memory 100g <jar> \
  *   <chainWorkDir100x> <probeWorkDir> [factor=10]
  * }}}
  * Prints one JSON line:
  * {"probe":"chain_1000x","stages":{name:{"runs":[...],"ratio":r}},
  *  "canary":{...}}
  */
object ChainProbe {

  private def timed[T](body: => T): (T, Double) = ChainBench.timed(body)

  /** Clone `in` `factor`× by suffixing `keyCol` with the clone index
    * (factor 1 = pass-through rewrite, so both scales pay identical
    * write/layout costs). */
  private def cloneBy(spark: SparkSession, in: String, out: String,
                      keyCol: String, factor: Int): Unit = {
    val df = spark.read.parquet(in)
    val cloned =
      if (factor <= 1) df
      else (0 until factor).map(k =>
        df.withColumn(keyCol, concat(col(keyCol), lit("#"), lit(k))))
        .reduce(_ union _)
    cloned.write.mode("overwrite").parquet(out)
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("target/chain_r13_x100")
    val work = args.lift(1).getOrElse("target/chainprobe")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.getOrCreate()

    // same input-sized shuffle sizing as ChainBench, against the
    // LARGEST input this probe will shuffle (the cloned loci)
    val nLoci = spark.read.parquet(s"$src/finemap_loci").count()
    val shufflePartitions = math.min(1024L,
      math.max(spark.sparkContext.defaultParallelism.toLong,
        nLoci * factor / 500000L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    System.err.println(s"[probe] base loci=$nLoci rows -> " +
      s"shuffle.partitions=$shufflePartitions")

    val canaryRatio = MachineCanary.gatedRatio(spark)

    val runs = scala.collection.mutable.LinkedHashMap
      .empty[String, List[(Int, Double, Long)]]
    def record(stage: String, f: Int, sec: Double, rows: Long): Unit = {
      runs(stage) = runs.getOrElse(stage, Nil) :+ ((f, sec, rows))
      System.err.println(f"[probe] $stage%-22s x$f%-4d $sec%8.2f s  rows=$rows")
    }

    def susieAt(f: Int, tag: String): Unit = {
      val loci = s"$work/loci_$tag"
      val ld = s"$work/ld_$tag"
      cloneBy(spark, s"$src/finemap_loci", loci, "locusId", f)
      cloneBy(spark, s"$src/finemap_ld", ld, "locusId", f)
      val outP = s"$work/credsets_$tag"
      val (_, sec) = timed(Steps.runFromArgs(spark, Seq(
        "susie_credible_sets", s"in=$loci", s"ld=$ld", s"out=$outP",
        "l=5", "run_carma=true", "run_sumstat_imputation=true",
        "imputed_r2_threshold=0.5", "ld_score_threshold=0.5")))
      record("susie_credible_sets", f, sec,
        spark.read.parquet(outP).count())
    }

    def trainAt(f: Int, tag: String): Unit = {
      val labelled = s"$work/labelled_$tag"
      cloneBy(spark, s"$src/l2g_labelled", labelled, "studyLocusId", f)
      val outP = s"$work/model_$tag"
      val (_, sec) = timed(Steps.runFromArgs(spark, Seq("l2g_train",
        s"in=$labelled", s"out=$outP", "cross_validate=false",
        "max_iter=10", "max_depth=3")))
      record("l2g_train", f, sec,
        spark.read.parquet(labelled).count())
    }

    // baseline (JIT-cold; kept for the record, excluded from the
    // ratio) → 10× point → baseline again (JIT-warm — the honest
    // denominator: ChainBench's own stages run JIT-warm too)
    susieAt(1, "x1a"); trainAt(1, "x1a")
    susieAt(factor, s"x$factor"); trainAt(factor, s"x$factor")
    susieAt(1, "x1b"); trainAt(1, "x1b")

    val js = runs.map { case (stage, rs) =>
      val runsJson = rs.map { case (f, s, n) =>
        f"""{"factor":$f,"sec":$s%.2f,"rows":$n}"""
      }.mkString("[", ",", "]")
      // ratio = 10×-point wall / warm-baseline wall. findLast: with
      // factor=1 every run matches, and the FIRST is the deliberately
      // discarded JIT-cold one — the last matching run is the honest
      // numerator (for factor=1 it equals the warm baseline, ratio 1).
      val warmBase = rs.last._2
      val big = rs.findLast(_._1 == factor).map(_._2).getOrElse(-1.0)
      val ratio = if (warmBase > 0 && big > 0) big / warmBase else -1.0
      "\"" + stage + "\":{\"runs\":" + runsJson +
        f""","decade_ratio":$ratio%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"probe":"chain_1000x","src":"$src","factor":$factor,""" +
      s""""stages":$js,""" +
      f""""canary":{"ref_sec":${MachineCanary.refSec}%.2f,""" +
      f""""ratio":$canaryRatio%.2f}}""")
    spark.stop()
  }
}
