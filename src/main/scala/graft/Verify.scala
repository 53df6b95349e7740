package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.getOrCreate()
    new java.io.File(outDir).mkdirs()
    // optional filter (comma-separated names) for focused re-checks;
    // the driver sets no filter and dumps everything
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def jq(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // engine-side golden digests for the no-DuckDB-oracle queries:
    // enforced unconditionally (every digest is partition-count
    // invariant — see Goldens.expected)
    val sfTag = new java.io.File(sfDir).getName
    val goldenRows = scala.collection.mutable.ArrayBuffer.empty[String]
    import spark.implicits._
    SparkEntry.runEach(spark, sfDir, SparkEntry.selected(only)) { (name, build) =>
      build().coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      for {
        bySf <- queries.Goldens.expected.get(name)
        if !SparkEntry.oracleSql.contains(name)
        exp <- bySf.get(sfTag)
      } {
        val got = queries.Goldens.canonicalDigest(
          spark.read.parquet(s"$outDir/$name"))
        val ok = got == exp
        goldenRows += s"""{"query": ${jq(name)}, "expected": ${jq(exp)},
          | "actual": ${jq(got)}, "match": $ok,
          | "enforced": true}""".stripMargin.replace("\n", "")
        if (!ok) {
          System.err.println(
            s"[verify] $name GOLDEN MISMATCH: expected $exp got $got")
          Seq(s"golden digest mismatch: expected $exp got $got")
            .toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        }
      }
    } { (name, e) =>
      // still write a marker result so the driver's dir enumeration
      // records a VISIBLE failure row (schema/row mismatch) — a query
      // that throws must never silently vanish from the artifact
      try Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
        .toDF("__verify_error")
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e2: Throwable =>
        System.err.println(s"[verify] $name marker failed: ${e2.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // golden digest report — the engine-side correctness record for
    // the no-oracle queries (the driver's check on those is rows-only).
    // Also echoed to stdout so the value check is visible in the
    // driver's log even when only artifacts are read; a per-round
    // snapshot of this file is committed as GOLDENS_r{N}.json.
    Files.writeString(Paths.get(s"$outDir/goldens.json"),
      goldenRows.mkString("[", ",", "]"))
    // Per-round continuity: mirror the golden report into the repo root
    // as GOLDENS_r<N>.json (N = 1 + highest CORRECTNESS_r* round on
    // disk — the driver's round-R verify runs with round R-1's artifact
    // committed), so every round leaves a committed expected/actual/
    // match record for the golden-locked queries without anyone
    // remembering to copy it. Filtered runs skip the mirror (a partial
    // report must not shadow a full one).
    if (only.isEmpty && goldenRows.nonEmpty) try {
      val repo = new java.io.File(
        sys.env.getOrElse("SPARK_GRAFT_REPO", "/root/repo"))
      // SPARK_GRAFT_ROUND wins over the directory scan — a full verify
      // re-run AFTER the current round's CORRECTNESS_rN.json landed
      // would otherwise infer N+1 and leave the real rN report stale.
      // toIntOption: a malformed override must fall through to the
      // scan, not throw and silently skip the whole mirror
      val round = sys.env.get("SPARK_GRAFT_ROUND")
        .flatMap(_.trim.toIntOption).orElse {
        val rx = "CORRECTNESS_r(\\d+)\\.json".r
        val rounds = Option(repo.list()).toSeq.flatten
          .flatMap(n => rx.findFirstMatchIn(n).map(_.group(1).toInt))
        if (rounds.nonEmpty) Some(rounds.max + 1) else None
      }
      round.foreach { n =>
        // unpadded to match the existing artifact names (GOLDENS_r12)
        val tgt = new java.io.File(repo, s"GOLDENS_r$n.json")
        Files.writeString(tgt.toPath,
          s"""{"sf": ${jq(sfTag)}, "goldens": ${goldenRows.mkString("[", ",", "]")}}""")
        println(s"[verify] golden report mirrored to ${tgt.getPath}")
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] golden mirror skipped: ${e.getMessage}")
    }
    goldenRows.foreach(r => println(s"[verify] golden $r"))
    spark.stop()
  }
}
