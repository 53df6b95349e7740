package graft

import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.SessionRules

import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  private val Kryo = "org.apache.spark.serializer.KryoSerializer"

  // the name predates the band-join rule's removal: the session now
  // registers no optimizer rule, and plans range joins as written
  test("the shared test session carries the band-join rule, UTC, Kryo and the 64k floor") {
    assert(SessionRules.optimizerRules(spark) == Nil)
    val df = Seq(1L, 50L).toDF("pos")
      .join(Seq((0L, 60L)).toDF("lo", "hi"), col("pos").between(col("lo"), col("hi")))
    assert(!df.queryExecution.optimizedPlan.toString.contains("_graft_band"))
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
    assert(!effective.contains("spark.sql.extensions"))
    assert(effective("spark.sql.codegen.cache.maxEntries") == "2048")
    val sized = new SparkConf(false).set("spark.sql.codegen.cache.maxEntries", "7")
    assert((sized.getAll.toMap ++ GraftSession.settings("local[2]", 1, sized))
      .apply("spark.sql.codegen.cache.maxEntries") == "7")
  }

  test("a re-executed plan reuses its generated classes past Spark's stock 100-entry cache") {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    // every plan's generated code is distinct: the literals are inlined
    def round(): Long = {
      val before = compiles.getCount
      (1 to 150).foreach { i =>
        spark.range(3).selectExpr(s"id * 7919 + ${i}L AS x")
          .write.format("noop").mode("overwrite").save()
      }
      compiles.getCount - before
    }
    val first = round()
    assert(first > 100, s"the first round compiled $first classes, no more than the stock cache holds")
    assert(round() == 0)
  }

  // settings never sets spark.sql.extensions: a launcher's list,
  // the retired graft.plans.GraftExtensions included, passes through
  test("the extension is listed once, after any the launcher registers") {
    for (listed <- Seq("graft.plans.GraftExtensions",
        "com.example.Ext, graft.plans.GraftExtensions", "com.example.Ext")) {
      val launcher = new SparkConf(false).set("spark.sql.extensions", listed)
      val set = GraftSession.settings("local[2]", 1, launcher)
      assert(!set.exists(_._1 == "spark.sql.extensions"), listed)
      assert((launcher.getAll.toMap ++ set).apply("spark.sql.extensions") == listed)
    }
  }

  test("a session launched with --master/--conf keeps them and registers the rule once") {
    // a fresh JVM, because the launcher's settings arrive as spark.*
    // system properties before the first session of the process. The
    // launcher still lists the removed extension class: Spark logs a
    // warning, builds the session, and registers no rule.
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
    assert(probe == s"PROBE local[1] 6000 $Kryo")
  }
}

/** Child main of the launcher test: builds the session with arguments the
  * launcher's settings must beat, and prints what took effect. */
object GraftSessionProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate("local[3]", 32)
    println((Seq("PROBE", spark.sparkContext.master,
      spark.conf.get("spark.sql.shuffle.partitions"),
      spark.sparkContext.getConf.get("spark.serializer")) ++
      SessionRules.optimizerRules(spark)).mkString(" "))
    spark.stop()
  }
}
