package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-query timing main over the registered queries. Prints ONE JSON
  * line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"nq":N,
  * "detail":"BENCH_full.json","sf":...}
  *
  * `SPARK_GRAFT_SF_DIR` picks the input tables (default sf0.1) and
  * `SPARK_GRAFT_QUERIES` (comma-separated registered names; an unknown
  * name fails the run) narrows it. Everything runs in one JVM on the
  * production session; each query is consumed in full through the
  * `noop` sink [[Reps]] times and its fastest rep recorded. A failed
  * query records -1 and stays out of the total. The layered,
  * interleaved A/B benchmark is `perfbench/` (see BENCHMARK.json).
  */
object Bench {
  val Reps = 2

  /** Run every column and operator of `df`; `count()` would let
    * Catalyst prune the plan down to a scan. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds (build + plan + execute) of each query's fastest rep, or
    * -1 when any rep failed. Caches are released after every rep, so
    * each rep re-executes the full plan. */
  def timeQueries(spark: SparkSession, sfDir: String,
                  names: Seq[String]): Seq[(String, Double)] = {
    val reps = Seq.fill(Reps)(SparkEntry.runEach(spark, sfDir, names) {
      (name, build) =>
        val t0 = System.nanoTime()
        consume(build())
        val sec = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name%-28s $sec%8.2f s")
        sec
    } { (_, _) => -1.0 }.toMap)
    names.map { n =>
      val secs = reps.map(_(n))
      n -> (if (secs.exists(_ < 0)) -1.0 else secs.min)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
    val spark = GraftSession.getOrCreate()
    val results = timeQueries(spark, sfDir, SparkEntry.selected(only))
    spark.stop()
    val total = results.map(_._2).filter(_ >= 0).sum

    // The full-precision map goes to BENCH_full.json; a filtered run
    // must not clobber the committed full-suite artifact.
    if (only.isEmpty) {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_full.json"),
        s"""{"metric":"total","value":$total,"unit":"sec",""" +
          s""""queries":$qs,"sf":"$sfDir"}""" + "\n")
    }

    // The stdout line must survive a ~2000-char tail capture: queries in
    // descending cost at 2 decimals, cut off at 1800 chars; `nq` and
    // `detail` point at the complete map.
    def f2(v: Double): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    val tail = s"""},"nq":${results.size},"detail":"BENCH_full.json","sf":"$sfDir"}"""
    val sb = new StringBuilder(
      s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":{""")
    results.sortBy(-_._2).iterator
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }
      .zipWithIndex.map { case (e, i) => if (i == 0) e else "," + e }
      .takeWhile(e => sb.length + e.length + tail.length <= 1800)
      .foreach(sb.append)
    println(sb.append(tail).toString)
  }
}
