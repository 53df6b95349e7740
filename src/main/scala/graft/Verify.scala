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
          Tables.read(spark, s"$outDir/$name"))
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
    // driver's log even when only artifacts are read. Nothing is
    // written outside `outDir`.
    Files.writeString(Paths.get(s"$outDir/goldens.json"),
      goldenRows.mkString("[", ",", "]"))
    goldenRows.foreach(r => println(s"[verify] golden $r"))
    spark.stop()
  }
}
