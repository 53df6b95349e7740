package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** No source file reads an environment variable or JVM system property
  * outside an exact allow-list: a knob forks the code path the tests,
  * the oracle gate and the benchmark measure from the one a caller
  * runs. The scan covers the library packages and the entry points
  * (the top-level files of `src/main/scala/graft`). The library takes its
  * configuration as arguments; the entry points keep only the reads
  * listed in [[allowed]].
  */
class NoKnobsSpec extends AnyFunSuite {

  private val scanned = Seq("core", "operators", "ml", "finemap", "plans",
    "queries", "steps", "sources", "streaming")

  private val read =
    """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r

  /** (file under src/main/scala/graft, variable) reads still allowed.
    * The stage profiler's switch goes when the run-metrics path
    * replaces the profiler (ROADMAP item 3). */
  private val allowed = Set(
    "GraftSession.scala" -> "SPARK_GRAFT_CPUS",
    "Bench.scala" -> "SPARK_GRAFT_SF_DIR",
    "Bench.scala" -> "SPARK_GRAFT_QUERIES",
    "Verify.scala" -> "SPARK_GRAFT_QUERIES",
    "Verify.scala" -> "SPARK_GRAFT_ROUND",
    "Verify.scala" -> "SPARK_GRAFT_REPO",
    "StreamBench.scala" -> "SPARK_GRAFT_STREAM_ONLY",
    "core/StageProfiler.scala" -> "SPARK_GRAFT_PROFILE")

  private def scalaFiles(dir: Path, depth: Int): List[Path] = {
    val files = Files.walk(dir, depth)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally files.close()
  }

  private val root = Paths.get(sys.props("user.dir"), "src/main/scala/graft")

  /** Fails on any read in `files` that `allowed` does not name, and on
    * any entry of `allowed` under `scope` that is no longer read. */
  private def check(files: Seq[Path], scope: String => Boolean): Unit = {
    val hits = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if read.findFirstIn(line).isDefined =>
          (root.relativize(f).toString, i + 1, line.trim)
      }
    }
    val inScope = allowed.filter { case (file, _) => scope(file) }
    assert(hits.nonEmpty || inScope.isEmpty,
      s"scan found nothing under $root — wrong working directory?")
    val allowedHit = (h: (String, Int, String)) =>
      inScope.exists { case (file, v) => h._1 == file && h._3.contains(v) }
    val bad = hits.filterNot(allowedHit)
    assert(bad.isEmpty, "env/property reads outside the allow-list:\n" +
      bad.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n"))
    val stale = inScope.filterNot { case (file, v) =>
      hits.exists(h => h._1 == file && h._3.contains(v))
    }
    assert(stale.isEmpty, s"allow-list entries no longer read: $stale")
  }

  test("library packages read no env vars or system properties outside " +
    "the allow-list") {
    check(scanned.map(root.resolve).filter(Files.isDirectory(_))
      .flatMap(scalaFiles(_, Int.MaxValue)), _.contains('/'))
  }

  test("entry points read only their allow-listed env vars") {
    check(scalaFiles(root, 1), !_.contains('/'))
  }
}
