package perfbench

import graft.core.CacheHandle
import graft.{GraftSession, ScaleUp, SparkEntry}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.max
import org.apache.spark.sql.perfbench.Probe
import org.apache.spark.sql.{DataFrame, SparkSession}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation: a catalogue query or a chain stage. */
final case class Op(id: Int, kind: String, name: String, seconds: Double,
                    buildS: Double, error: Option[String],
                    cache: (Double, Double, Double) = (0.0, 0.0, 0.0))

/** Runs one workload in one JVM and writes its raw record as JSON.
  *
  * Set-up (session, then one untimed warm-up pass) is timed on its own;
  * then `--passes` whole passes run back to back, closed loop. Every pass is measured as a whole and per operation;
  * with `--trace 1` every pass also carries its spans, jobs, planning
  * phases and per-span task metrics. perfbench/run.py turns the record
  * into metrics and checks the outputs. */
object Main {

  /** Genetics/L2G catalogue queries the `query_mix` workload runs. */
  val QueryMix: Seq[String] = Seq(
    "q_ml_l2g_gold_standard", "q_gx_ld_clump", "q_j6_ld_annotate",
    "q_j9_variant_merge", "q_gx_coloc", "q_f3_pvalue_codec")

  /** Execution-bound queries the `scale` workload runs on the clone. */
  val ScaleQueries: Seq[String] = Seq("q_gx_overlaps_coloc_e2e",
    "q_ml_l2g_features", "q_gx_rsid_gnomad_map", "q_dedup_containment")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val nPasses = a("passes").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = a("work")
    val clone = a.getOrElse("clone", "1").toInt

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()
    val probe = new Probe(trace)
    spark.sparkContext.addSparkListener(probe)
    val ctx = new Ctx(spark, probe, new Tracer(spark.sparkContext, trace))

    val w: Workload = workload match {
      case "chain" => new Chain(ctx, a("data"), s"$work/chain")
      case "query_mix" => new Queries(ctx, a("data"), QueryMix, seed, s"$work/outputs")
      case "scale" =>
        val dir = s"$work/scaled"
        cloneInputs(spark, a("data"), dir, clone, cores)
        new Queries(ctx, dir, ScaleQueries, seed, s"$work/outputs")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val warmOps = w.warmup()
    val settled = mutable.ArrayBuffer(settle())
    val warmupS = (System.nanoTime() - t0) / 1e9
    val sessionS = (sessionReady - jvmStart) / 1e3

    val passes = (0 until nPasses).map { k =>
      if (k > 0) settled += settle()
      val p = ctx.measurePass(k)(w.pass(k))
      w.afterPass(k)
      p
    }

    val record = Map(
      "config" -> config(spark, workload, seed, clone, trace),
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "setup_s" -> (sessionS + warmupS),
      "settle_s" -> settled,
      "peak_rss_mb" -> peakRssMb(),
      "warmup_ops" -> warmOps.map(ctx.opRecord),
      "passes" -> passes,
      "oracles" -> w.checked.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
      "outputs" -> w.outputs)
    Files.writeString(Paths.get(a("out")), JsonMapper.builder()
      .addModule(DefaultScalaModule).build().writeValueAsString(record))
    spark.stop()
  }

  /** Lets the set-up's lazy work finish before anything is timed: a full
    * GC, then a wait (at most 8 s) until the JIT compilers have been idle
    * for two consecutive 200 ms ticks. */
  def settle(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var quiet = 0
    var waited = 0
    while (quiet < 2 && waited < 8000) {
      Thread.sleep(200)
      waited += 200
      val now = jit.getTotalCompilationTime
      quiet = if (now - last < 20) quiet + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Key-shifted clone of the seeded base tables, `factor` times over. */
  def cloneInputs(spark: SparkSession, src: String, dest: String,
                  factor: Int, cores: Int): Unit = {
    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def stride(df: DataFrame, c: String) = df.agg(max(c)).head().getLong(0) + 1L
    val (li, orders, part) = (t("lineitem"), t("orders"), t("part"))
    val strideO = stride(orders, "o_orderkey")
    val strideP = stride(part, "p_partkey")
    val strideC = stride(orders, "o_custkey")
    def save(df: DataFrame, n: String): Unit =
      df.repartition(cores).write.mode("overwrite").parquet(s"$dest/$n.parquet")
    save(ScaleUp.shiftClone(li, factor,
      Map("l_orderkey" -> strideO, "l_partkey" -> strideP)), "lineitem")
    save(ScaleUp.shiftClone(orders, factor,
      Map("o_orderkey" -> strideO, "o_custkey" -> strideC)), "orders")
    save(ScaleUp.shiftClone(part, factor, Map("p_partkey" -> strideP)), "part")
    save(ScaleUp.scaleDocuments(t("documents"), factor), "documents")
  }

  /** The configuration actually in effect for this run. */
  def config(spark: SparkSession, workload: String, seed: Long, clone: Int,
             trace: Boolean): Map[String, Any] = {
    val c = spark.conf
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "workload" -> workload,
      "seed" -> seed,
      "clone_factor" -> clone,
      "trace" -> trace,
      "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism,
      "host_cpus" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "aqe" -> c.get("spark.sql.adaptive.enabled"),
      "aqe_min_partition_size" ->
        c.getOption("spark.sql.adaptive.coalescePartitions.minPartitionSize").orNull,
      "extensions" -> Probe.extensionRules(spark),
      "serializer" -> spark.sparkContext.getConf.get("spark.serializer", "java"),
      "session_time_zone" -> c.get("spark.sql.session.timeZone"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "jvm_flags" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")),
      "spark_version" -> spark.version)
  }

  /** High-water mark of this process's resident set, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

/** A workload: an untimed warm-up pass, then repeatable timed passes. */
trait Workload {
  /** One untimed pass; also leaves the outputs the checks read. */
  def warmup(): Seq[Op]
  def pass(k: Int): Seq[Op]
  def afterPass(k: Int): Unit = ()
  /** Queries whose outputs are checked against an oracle. */
  def checked: Seq[String] = Nil
  /** Where the outputs to check are, by name. */
  def outputs: Map[String, String]
}

/** State shared by the workloads of one run. */
final class Ctx(val spark: SparkSession, val probe: Probe, val tracer: Tracer) {
  val sc = spark.sparkContext
  private var nextOp = 0
  /** Output columns and top operator of each query op's DataFrame. */
  private val shape = mutable.Map.empty[Int, (Seq[String], String)]
  private val errors = mutable.Map.empty[Int, String]

  private def now = System.nanoTime()

  /** Runs `body` as one op: job group, span and timing around it. */
  def op(kind: String, name: String)(body: => Double): Op = {
    val id = nextOp
    nextOp += 1
    sc.setJobGroup(s"perfbench-$id", name)
    val t0 = now
    val (buildS, err) =
      try (tracer(kind, name)(body), None)
      catch { case e: Throwable => (0.0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))) }
    val s = (now - t0) / 1e9
    sc.clearJobGroup()
    Op(id, kind, name, s, buildS, err)
  }

  /** A catalogue query: build the DataFrame, then consume it in `sink`. */
  def query(name: String, fn: (SparkSession, String) => DataFrame, dir: String)
           (sink: DataFrame => Unit): Op = {
    val o = op("query", name) {
      val t0 = now
      val df = tracer("build", name)(fn(spark, dir))
      val buildS = (now - t0) / 1e9
      shape(nextOp - 1) = (df.columns.toSeq, Ctx.topKind(df.queryExecution.analyzed))
      tracer("sink", name)(sink(df))
      buildS
    }
    val held = if (tracer.enabled) storageMb() else (0.0, 0.0)
    tracer("cache", name) {
      CacheHandle.releaseQueryScoped()
      spark.sharedState.cacheManager.clearCache()
    }
    val residual = if (tracer.enabled) { val (m, d) = storageMb(); m + d } else 0.0
    o.copy(cache = (held._1, held._2, residual))
  }

  private def storageMb(): (Double, Double) = {
    val info = sc.getRDDStorageInfo
    (info.map(_.memSize).sum / 1e6, info.map(_.diskSize).sum / 1e6)
  }

  /** Full-consumption check of a query op whose sink was the noop
    * writer: the written plan must output every column of the query and
    * keep its top operator, not a pruned count-style scan. */
  def consumption(o: Op): Option[String] =
    shape.get(o.id).flatMap { case (cols, top) =>
      probe.sinkPlan(o.id) match {
        case None => Some("no sink plan observed for the noop write")
        case Some(p) if p.output.map(_.name) != cols =>
          Some(s"noop plan outputs ${p.output.map(_.name).mkString(",")}, query has ${cols.mkString(",")}")
        case Some(p) if top.nonEmpty && !p.exists(n => Ctx.kind(n) == top) =>
          Some(s"noop plan lost the query's top operator $top")
        case _ => None
      }
    }

  def opRecord(o: Op): Map[String, Any] = Map(
    "id" -> o.id, "kind" -> o.kind, "name" -> o.name, "s" -> o.seconds,
    "build_s" -> o.buildS, "rows" -> probe.rowsWritten(o.id),
    "error" -> o.error.orElse(errors.get(o.id)),
    "cache_mem_mb" -> o.cache._1, "cache_disk_mb" -> o.cache._2,
    "cache_residual_mb" -> o.cache._3)

  private def procCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  private def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(g => math.max(0L, g.getCollectionTime)).sum / 1e3

  private def jitS(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Runs one timed pass and returns its record. */
  def measurePass(k: Int)(body: => Seq[Op]): Map[String, Any] = {
    Probe.drain(sc)
    tracer.spans.clear()
    probe.clearTrace()
    val cg = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val (cpu0, gc0, jit0, cg0, cc0) = (procCpuS(), gcS(), jitS(),
      cg.compileTime, compiles.getCount)
    val t0 = now
    val ops = tracer("pass", s"pass$k")(body)
    val wall = (now - t0) / 1e9
    val (cpu1, gc1, jit1, cg1, cc1) = (procCpuS(), gcS(), jitS(),
      cg.compileTime, compiles.getCount)
    Probe.drain(sc)
    ops.foreach(o => if (o.kind == "query" && o.error.isEmpty)
      consumption(o).foreach(e => errors(o.id) = e))
    val base = Map[String, Any](
      "wall_s" -> wall, "cpu_s" -> (cpu1 - cpu0), "jvm_gc_s" -> (gc1 - gc0),
      "jvm_jit_s" -> (jit1 - jit0), "codegen_compiles" -> (cc1 - cc0),
      "codegen_s" -> (cg1 - cg0) / 1e9, "ops" -> ops.map(opRecord))
    if (!tracer.enabled) base
    else base ++ Map(
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> probe.jobs.map { case (sp, a, b) => Map("span" -> sp, "start" -> a, "end" -> b) },
      "phases" -> probe.phases.map { case (n, a, b) => Map("phase" -> n, "start" -> a, "end" -> b) },
      "exec" -> probe.spanMetrics.map { case (sp, v) =>
        sp.toString -> Probe.Fields.zip(v).toMap })
  }
}

object Ctx {
  /** Operator kind, with the optimizer's rewrites of the same operator
    * folded together. */
  def kind(p: LogicalPlan): String = p match {
    case _: Distinct | _: Deduplicate => "Aggregate"
    case _: Intersect | _: Except => "Join"
    case _: GlobalLimit | _: LocalLimit => "Limit"
    case _ => p.nodeName
  }

  /** The first operator under the projections and aliases at the top of
    * an analyzed plan; empty when that is a leaf or a plain filter. */
  def topKind(p: LogicalPlan): String = p match {
    case _: Project | _: SubqueryAlias | _: View | _: ResolvedHint =>
      p.children.headOption.map(topKind).getOrElse("")
    case _: LeafNode | _: Filter => ""
    case _ => kind(p)
  }
}

/** Catalogue queries in a seeded order, each consumed through `noop`. */
final class Queries(ctx: Ctx, dir: String, names: Seq[String], seed: Long,
                    outDir: String) extends Workload {
  private def fn(q: String) = SparkEntry.queries(q)

  def warmup(): Seq[Op] = names.map(q => ctx.query(q, fn(q), dir)(
    _.write.mode("overwrite").parquet(s"$outDir/$q")))

  def pass(k: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + k).shuffle(names)
      .map(q => ctx.query(q, fn(q), dir)(
        _.write.format("noop").mode("overwrite").save()))

  override def checked: Seq[String] = names
  def outputs: Map[String, String] = names.map(q => q -> s"$outDir/$q").toMap
}
