package graft

import org.apache.spark.sql.functions.{col, udf}

class BenchSpec extends SparkSpec {

  test("the bench consumes every column, not just the row count") {
    // count() prunes a column nothing filters on; the sink must run it
    val touched = spark.sparkContext.longAccumulator("bench_touched")
    val touch = udf { (x: Long) => touched.add(1); x }
    val n = 500L
    Bench.consume(spark.range(n).select(col("id"), touch(col("id")).as("t")))
    assert(touched.value == n)
  }

  test("the shared query loop times each rep and leaves no storage behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val names = Seq("q_dedup_components", "q_search_rrf")
    val secs = Bench.timeQueries(spark, "/root/testdata/sf0.001", names)
    assert(secs.map(_._1) == names)
    assert(secs.forall(_._2 >= 0), s"a query failed: $secs")
    // the ContextCleaner may drop older RDDs meanwhile; none may be added
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs still persisted after the loop: $left")
  }
}
