package graft

import java.nio.file.{Files, Paths}

/** Measurement tooling (optimization rounds): dump
  * `explain("formatted")` for registered queries to files, one per
  * query, so plan-shape claims (Exchange counts, join strategies,
  * PushedFilters) are checkable without running Spark.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [name1,name2,...]
  * (no filter = every registered query). Plans are captured on the
  * bench children's session ([[GraftSession.getOrCreate]]) so the
  * dumped plan is the benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.lift(2).map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"$name.txt"), txt)
          // summary line: Exchange count + join operators, for a quick
          // registry-wide scan of plan shapes. Count only the
          // FormattedMode detail-section operator headers
          // "(n) Exchange" / "(n) BroadcastExchange" (r17): the old
          // substring count double-counted each exchange (tree line +
          // detail line) and swept in ReusedExchange / AQEShuffleRead
          // lines, so absolute counts read ~2x the real shuffle count.
          val exchangeHdr = """^\(\d+\) (Exchange|BroadcastExchange)""".r
          val exchanges = txt.linesIterator
            .count(l => exchangeHdr.findFirstIn(l.trim).isDefined)
          val joins = txt.linesIterator
            .filter(l => l.contains("Join") && l.trim.startsWith("+-") ||
              l.contains("Join") && l.trim.startsWith(":") ||
              l.contains("Join") && l.trim.startsWith("*"))
            .size
          println(s"PLAN $name exchanges=$exchanges joins=$joins")
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
        graft.core.CacheHandle.releaseQueryScoped()
        spark.sharedState.cacheManager.clearCache()
      }
    spark.stop()
  }
}
