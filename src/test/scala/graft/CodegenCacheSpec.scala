package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The generated-class cache that [[GraftSession.builder]] sizes holds a
  * multi-model working set: a second pass over ~150 distinct plans
  * compiles nothing. Spark's 100-entry default misses on every plan of a
  * cyclic pass over 150 classes.
  */
class CodegenCacheSpec extends SparkSpec {

  test("a second pass over 150 distinct plans compiles no class") {
    // the cache is JVM-wide and sized by the conf of the session alive at
    // the first compile, so the shared session must exist before any
    // plan of this spec compiles
    val s = spark
    // a per-run salt keeps every class new to the JVM whichever specs ran
    // before; each literal pair is inlined, so each plan is its own class
    val salt = 1000L + (System.nanoTime() & 0xffffffL)
    def pass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (0 until 150).foreach { i =>
        s.range(2).selectExpr(s"id * ${salt}L + ${i}L AS v").collect()
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = pass()
    val second = pass()
    assert(first >= 150, s"first pass compiled only $first classes")
    assert(second == 0, s"second pass recompiled $second of $first classes")
  }
}
