package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.SessionRules

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private val Rule = "graft.plans.BandJoinRewrite"
  private val Kryo = "org.apache.spark.serializer.KryoSerializer"

  test("the shared test session carries the band-join rule, UTC, Kryo and the 64k floor") {
    assert(SessionRules.optimizerRules(spark) == Seq(Rule))
    val df = Seq(1L, 50L).toDF("pos")
      .join(Seq((0L, 60L)).toDF("lo", "hi"), col("pos").between(col("lo"), col("hi")))
    assert(df.queryExecution.optimizedPlan.toString.contains("_graft_band"))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.serializer") == Kryo)
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(spark.sparkContext.master == "local[2]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "1")
  }

  test("keys the launcher set win; unset keys get the defaults") {
    val launcher = new SparkConf(false)
      .set("spark.master", "yarn")
      .set("spark.sql.shuffle.partitions", "6000")
    val effective = launcher.getAll.toMap ++ GraftSession.settings("local[2]", 1, launcher)
    assert(effective("spark.master") == "yarn")
    assert(effective("spark.sql.shuffle.partitions") == "6000")
    assert(effective("spark.serializer") == Kryo)
    assert(effective("spark.sql.session.timeZone") == "UTC")
    assert(effective("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(effective("spark.sql.extensions") == "graft.plans.GraftExtensions")
  }

  test("the extension is listed once, after any the launcher registers") {
    def extensions(listed: String): String = GraftSession.settings("local[2]", 1,
      new SparkConf(false).set("spark.sql.extensions", listed)).toMap.apply("spark.sql.extensions")
    assert(extensions("graft.plans.GraftExtensions") == "graft.plans.GraftExtensions")
    assert(extensions("com.example.Ext, graft.plans.GraftExtensions") ==
      "com.example.Ext,graft.plans.GraftExtensions")
    assert(extensions("com.example.Ext") == "com.example.Ext,graft.plans.GraftExtensions")
  }

  test("a session launched with --master/--conf keeps them and registers the rule once") {
    // a fresh JVM, because the launcher's settings arrive as spark.*
    // system properties before the first session of the process
    val jvm = ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++
      jvm.getInputArguments.asScala.filter(_.startsWith("--add-opens")) ++
      Seq("-Xmx512m", "-Dspark.master=local[1]", "-Dspark.sql.shuffle.partitions=6000",
        "-Dspark.sql.extensions=graft.plans.GraftExtensions",
        "-cp", sys.props("java.class.path"), GraftSessionProbe.getClass.getName.stripSuffix("$"))
    val out = java.nio.file.Files.createTempFile("graft-session", ".out")
    out.toFile.deleteOnExit()
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(out.toFile).start()
    if (!p.waitFor(300, TimeUnit.SECONDS)) {
      p.destroyForcibly()
      fail("probe JVM timed out")
    }
    val lines = java.nio.file.Files.readAllLines(out).asScala.toList
    val probe = lines.find(_.startsWith("PROBE ")).getOrElse(
      fail(s"no PROBE line (exit ${p.exitValue}):\n${lines.takeRight(30).mkString("\n")}"))
    assert(probe == s"PROBE local[1] 6000 $Kryo $Rule")
  }
}

/** Child main of the launcher test: builds the session with arguments the
  * launcher's settings must beat, and prints what took effect. */
object GraftSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("local[3]", 32)
    println(Seq("PROBE", spark.sparkContext.master,
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.sparkContext.getConf.get("spark.serializer"),
      SessionRules.optimizerRules(spark).mkString(",")).mkString(" "))
    spark.stop()
  }
}
