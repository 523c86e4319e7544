package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Pins the codegen-cache size [[Graft.configure]] ships: a repeated
  * sweep wider than Spark's 100-entry default compiles nothing the
  * second time.
  */
class CodegenCacheSpec extends SparkSpec {

  test("the live session carries graft's codegen-cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Graft.CodegenCacheEntries.toString)
  }

  test("a second sweep of 150 distinct generated classes compiles none") {
    // each query inlines its own literal, so each generates its own
    // class; the sweep is wider than the 100-entry default, which an
    // LRU cycled in order misses on every lookup
    val ks = 1000L until 1150L
    def sweep(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (k <- ks) {
        val got = spark.range(4).selectExpr(s"id * $k AS v").collect().map(_.getLong(0))
        assert(got.toSeq == (0L until 4L).map(_ * k))
      }
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = sweep()
    assert(first >= ks.size, "each query should compile its own class")
    assert(sweep() == 0)
  }
}
