package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The session's code-generation cache holds a working set larger
  * than Spark's default of 100 compiled classes. Each plan below
  * inlines its own long literal, so it is its own generated class, and
  * local mode caches it twice (the driver-side compile check and the
  * task). 64 plans are 128 entries: past the default, inside
  * `GraftSession.CodegenCacheEntries`. Under the default every
  * second-pass plan is a miss and compiles again.
  */
class GraftSessionSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a repeated batch of 64 distinct plans compiles once: the codegen cache outgrows 100 entries") {
    val base = 7000000000L
    def pass(): Unit = (0 until 64).foreach { i =>
      val got = spark.range(1).select(col("id") + lit(base + i)).collect()
      assert(got.head.getLong(0) === base + i)
    }
    pass()
    val before = compiles()
    pass()
    val again = compiles() - before
    assert(again <= 5, s"second pass recompiled $again classes")
  }
}
