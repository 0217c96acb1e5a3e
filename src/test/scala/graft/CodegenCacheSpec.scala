package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The session's codegen cache holds more distinct generated classes than
  * Spark's default of 100, so a long-lived JVM that re-runs the same plans
  * (Bench over the registry, a job harness serving repeated jobs) compiles
  * each class once instead of on every pass.
  */
class CodegenCacheSpec extends SparkSpec {
  test("a second pass over 150 distinct generated classes compiles nothing") {
    // each Long literal is inlined into the generated source, so every
    // projection is its own whole-stage class
    def pass(): Unit = (1 to 150).foreach { i =>
      spark.range(3).selectExpr(s"id * $i + $i").collect()
    }
    pass()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(recompiled == 0,
      s"the second pass recompiled $recompiled generated classes")
  }
}
