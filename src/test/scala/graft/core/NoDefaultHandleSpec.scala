package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** No `CacheHandle` parameter in `src/main` has a default value: a
  * default handle lets a caller persist frames without owning them,
  * and a disabled default silently turns the operator's caching off.
  * Every cache-bearing operator takes its handle as a required
  * argument (the contract in [[CacheHandle]]'s scaladoc). Nor does
  * `src/main` checkpoint a frame: `CacheHandle.persist` is the one way
  * to share one, and a checkpoint drops the lineage that recomputes a
  * block lost with an executor.
  */
class NoDefaultHandleSpec extends AnyFunSuite {

  /** A parameter (after `(` or `,`, with optional modifiers) typed
    * `CacheHandle`, qualified or not, followed by `=` — also when split
    * over lines. `=>` (a function type) is not a default. */
  private val defaulted =
    ("""[(,]\s*(?:(?:implicit|override|private|protected|final|val|var)\s+)*""" +
      """\w+\s*:\s*(?:[\w.]+\.)?CacheHandle\s*=(?!>)""").r

  /** A local or reliable checkpoint call. */
  private val checkpointed = """localCheckpoint\(|\.checkpoint\(""".r

  /** `file:line` of every match of `pattern` in `src/main`. */
  private def hits(pattern: Regex): Seq[String] = {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    val files = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty, s"scan found nothing under $root — wrong working directory?")
    def in(f: Path): Seq[String] = {
      val text = Files.readString(f)
      pattern.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.end).count(_ == '\n') + 1
        s"${root.relativize(f)}:$line"
      }.toSeq
    }
    files.flatMap(in)
  }

  test("no CacheHandle parameter in src/main has a default value") {
    val bad = hits(defaulted)
    assert(bad.isEmpty, "CacheHandle parameters with a default value:\n  " +
      bad.mkString("\n  "))
  }

  test("no frame in src/main is checkpointed") {
    val bad = hits(checkpointed)
    assert(bad.isEmpty, "checkpoint calls:\n  " + bad.mkString("\n  "))
  }
}
