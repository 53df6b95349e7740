package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The library packages read no environment variables or JVM system
  * properties: a knob there forks the code path the tests, the oracle
  * gate and the benchmark measure from the one a caller runs. Entry
  * points (`graft.Bench`, `graft.Verify`, ...) sit outside the scanned
  * packages; configuration reaches the library as arguments.
  */
class NoKnobsSpec extends AnyFunSuite {

  private val scanned = Seq("core", "operators", "ml", "finemap", "plans",
    "queries", "steps", "sources", "streaming")

  private val read =
    """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r

  /** (file under src/main/scala/graft, variable) reads still allowed.
    * The stage profiler's switch goes when the run-metrics path
    * replaces the profiler (ROADMAP item 3). */
  private val allowed = Set("core/StageProfiler.scala" -> "SPARK_GRAFT_PROFILE")

  test("library packages read no env vars or system properties outside " +
    "the allow-list") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala/graft")
    val hits = scanned.map(root.resolve).filter(Files.isDirectory(_))
      .flatMap { dir =>
        val files = Files.walk(dir)
        try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
        finally files.close()
      }
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if read.findFirstIn(line).isDefined =>
            (root.relativize(f).toString, i + 1, line.trim)
        }
      }
    assert(hits.nonEmpty || allowed.isEmpty,
      s"scan found nothing under $root — wrong working directory?")
    val allowedHit = (h: (String, Int, String)) =>
      allowed.exists { case (file, v) => h._1 == file && h._3.contains(v) }
    val bad = hits.filterNot(allowedHit)
    assert(bad.isEmpty, "new env/property reads in library code:\n" +
      bad.map { case (f, n, l) => s"  $f:$n: $l" }.mkString("\n"))
    val stale = allowed.filterNot { case (file, v) =>
      hits.exists(h => h._1 == file && h._3.contains(v))
    }
    assert(stale.isEmpty, s"allow-list entries no longer read: $stale")
  }
}
