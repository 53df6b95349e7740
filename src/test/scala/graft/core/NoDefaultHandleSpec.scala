package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** No `CacheHandle` parameter in `src/main` has a default value: a
  * default handle lets a caller persist frames without owning them,
  * and a disabled default silently turns the operator's caching off.
  * Every cache-bearing operator takes its handle as a required
  * argument (the contract in [[CacheHandle]]'s scaladoc).
  */
class NoDefaultHandleSpec extends AnyFunSuite {

  /** A parameter (after `(` or `,`, with optional modifiers) typed
    * `CacheHandle`, qualified or not, followed by `=` — also when split
    * over lines. `=>` (a function type) is not a default. */
  private val defaulted =
    ("""[(,]\s*(?:(?:implicit|override|private|protected|final|val|var)\s+)*""" +
      """\w+\s*:\s*(?:[\w.]+\.)?CacheHandle\s*=(?!>)""").r

  test("no CacheHandle parameter in src/main has a default value") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala/graft")
    val files = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty, s"scan found nothing under $root — wrong working directory?")
    def hits(f: Path): Seq[String] = {
      val text = Files.readString(f)
      defaulted.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.end).count(_ == '\n') + 1
        s"${root.relativize(f)}:$line"
      }.toSeq
    }
    val bad = files.flatMap(hits)
    assert(bad.isEmpty, "CacheHandle parameters with a default value:\n  " +
      bad.mkString("\n  "))
  }
}
