package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every by-path parquet load in `src/main` goes through
  * `graft.Tables.read`: a direct `spark.read.parquet(path)` infers the
  * schema with a Spark job while the plan is being built. The one
  * allowed call is the stock fallback inside `Tables.read` itself.
  */
class OneReaderSpec extends AnyFunSuite {

  /** `read.parquet(`, also when split over lines. */
  private val stockRead = """\bread\s*\.\s*parquet\s*\(""".r

  private val allowed = Set("Tables.scala")

  test("no read.parquet( in src/main outside Tables.read") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala/graft")
    val files = {
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.nonEmpty, s"scan found nothing under $root — wrong working directory?")
    def hits(f: Path): Seq[String] = {
      val text = Files.readString(f)
      stockRead.findAllMatchIn(text).map { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        s"${root.relativize(f)}:$line"
      }.toSeq
    }
    val bad = files.filterNot(f => allowed(root.relativize(f).toString)).flatMap(hits)
    assert(bad.isEmpty, "by-path parquet reads outside Tables.read:\n  " +
      bad.mkString("\n  "))
  }
}
