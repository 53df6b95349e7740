package graft.core

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** L2G training runs on the driver through one bridge,
  * `org.apache.spark.ml.tree.graft.TreeBridge`, the only file under
  * `src/main` that reaches into Spark ML's private tree API. Spark's
  * distributed `GBTClassifier` and `BinaryClassificationEvaluator`
  * stay out of `src/main`, so the job-per-tree-level trainer cannot
  * come back as a second path; the specs use them as the oracle.
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

  test("no GBTClassifier or BinaryClassificationEvaluator in src/main outside the bridge") {
    assert(files.contains(bridge), s"scan found no $bridge under $root")
    val distributed = """\b(GBTClassifier|BinaryClassificationEvaluator)\b""".r
    val bad = files.filterNot(_ == bridge).flatMap { f =>
      val text = Files.readString(root.resolve(f))
      distributed.findAllMatchIn(text).map { m =>
        s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(bad.isEmpty, "distributed GBT training outside the bridge:\n  " +
      bad.mkString("\n  "))
  }

  test("the bridge is the only source under org.apache.spark.ml") {
    val ml = files.filter(_.startsWith(Paths.get("org/apache/spark/ml")))
    assert(ml == List(bridge))
  }
}
