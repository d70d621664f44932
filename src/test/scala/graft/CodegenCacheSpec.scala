package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm working set larger than Spark's default 100-entry generated-class
  * cache must stay compiled: the second pass over the same queries compiles
  * nothing. */
class CodegenCacheSpec extends GraftSuite {

  test("a repeated sweep of 150 distinct queries compiles no class twice") {
    // inlined literals make each query's generated class distinct
    def sweep(): Unit = (1 to 150).foreach { i =>
      spark.range(8).selectExpr(s"id * $i + 1 AS x").filter(s"x > $i").collect()
    }
    sweep()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sweep()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
      "the second sweep recompiled classes the first one compiled")
  }
}
