package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

class SessionSpec extends SparkSuite {

  test("resolve takes the exact key or the one name_ prefix, never a longer number") {
    val keys = Seq("q100_pagerank", "q10_join_multiway", "q101_louvain")
    assert(SparkEntry.resolve("q10", keys) == "q10_join_multiway")
    assert(SparkEntry.resolve("q10", keys.reverse) == "q10_join_multiway")
    assert(SparkEntry.resolve("q100_pagerank", keys) == "q100_pagerank")
    assert(SparkEntry.resolve("q101", keys) == "q101_louvain")
    val none = intercept[IllegalArgumentException](SparkEntry.resolve("q1", keys))
    assert(none.getMessage.contains("q100_pagerank, q101_louvain, q10_join_multiway"))
    assert(intercept[IllegalArgumentException](SparkEntry.resolve("q9", keys))
      .getMessage.endsWith("candidates: none"))
    val twice = Seq("q7_a", "q7_b")
    assert(intercept[IllegalArgumentException](SparkEntry.resolve("q7", twice))
      .getMessage.contains("q7_a, q7_b"))
  }

  test("every registry key resolves from its number alone") {
    val keys = SparkEntry.queries.keys
    keys.foreach(k => assert(SparkEntry.resolve(k.takeWhile(_ != '_'), keys) == k))
  }

  test("generated classes outlive Spark's default cache bound: a re-run compiles nothing") {
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.streams.active.isEmpty)
    val names = Seq("q07_agg_full", "q11_window")
    def consume(name: String): Unit =
      SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.foreach(_ => ())
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    names.foreach(consume)
    // more fresh classes than Spark's default bound (100) holds: planning
    // a projection compiles it, and each literal is new source text
    val before = compiles
    (1 to 200).foreach { i =>
      spark.range(1).select((col("id") + lit(7919000000L + i)).as("x"))
        .queryExecution.toRdd
    }
    assert(compiles - before >= 200)
    val rerun = compiles
    names.foreach(consume)
    assert(compiles - rerun == 0)
  }
}
