package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit, sum}

/** The generated-class cache holds the engine's working set: a warm pass over
  * more distinct whole-stage-codegen'd plans than Spark's default 100-entry
  * LRU cache compiles nothing new (`spark.sql.codegen.cache.maxEntries`, set in
  * [[graft.GraftSession.configure]]). With the default, the second pass
  * recompiles every plan.
  */
class CodegenCacheSpec extends SparkSpec {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass over 320 distinct codegen'd plans compiles no class") {
    // each literal is inlined into its stage's generated code, so every
    // query is a distinct class; each pass plans afresh, so every stage goes
    // back to the cache; one range partition keeps the pass short
    val n = 320
    def pass(): Long = {
      val before = compiles
      for (i <- 1 to n) {
        val df = spark.range(0, 10, 1, 1).select((col("id") * lit(i)).as("x")).agg(sum("x"))
        assert(df.collect().head.getLong(0) == 45L * i)
      }
      compiles - before
    }
    val first = pass()
    assert(first >= n, s"first pass compiled only $first classes")
    assert(pass() == 0)
  }
}
