package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** L2G training runs on the driver through one bridge,
  * `org.apache.spark.ml.tree.graft.TreeBridge`, the only file under
  * `src/main` that reaches into Spark ML's private tree API. Spark's
  * distributed `GBTClassifier` and `BinaryClassificationEvaluator`
  * stay out of `src/main`, so the job-per-tree-level trainer cannot
  * come back as a second path; the specs use them as the oracle. Model
  * files are saved and loaded through the bridge too: Spark ML's
  * `PipelineModel.load` and `write.overwrite().save`, a Spark job per
  * file, are reached only through its fallback for other pipelines.
  */
class OneTreeBridgeSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"), "src/main/scala")
  private val bridge = Paths.get("org/apache/spark/ml/tree/graft/TreeBridge.scala")

  private def files: List[Path] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .map(root.relativize).toList
    finally walk.close()
  }

  /** `file:line: match` for each match of `pattern` outside the bridge. */
  private def outsideBridge(pattern: scala.util.matching.Regex): List[String] = {
    assert(files.contains(bridge), s"scan found no $bridge under $root")
    files.filterNot(_ == bridge).flatMap { f =>
      val text = Files.readString(root.resolve(f))
      pattern.findAllMatchIn(text).map { m =>
        s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
  }

  test("no GBTClassifier or BinaryClassificationEvaluator in src/main outside the bridge") {
    val bad = outsideBridge("""\b(GBTClassifier|BinaryClassificationEvaluator)\b""".r)
    assert(bad.isEmpty, "distributed GBT training outside the bridge:\n  " +
      bad.mkString("\n  "))
  }

  test("no PipelineModel.load or ML writer save in src/main outside the bridge") {
    val bad = outsideBridge(("""PipelineModel\s*\.\s*(load|read)\b|""" +
      """\.write\s*\.\s*overwrite\s*\(\s*\)\s*\.\s*save\s*\(""").r)
    assert(bad.isEmpty, "ML model files read or written outside the bridge:\n  " +
      bad.mkString("\n  "))
  }

  test("the bridge is the only source under org.apache.spark.ml") {
    val ml = files.filter(_.startsWith(Paths.get("org/apache/spark/ml")))
    assert(ml == List(bridge))
  }
}
