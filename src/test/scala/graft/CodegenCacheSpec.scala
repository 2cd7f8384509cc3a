package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark keeps generated classes in one JVM-wide LRU keyed by source text.
  * At Spark's default size (100 entries) a workload that interleaves a
  * few queries evicts each query's classes before it runs again, so every
  * statement recompiles. [[Graft.codegenCache]] sizes the cache to the
  * engine's working set; this spec pins that a steady-state pass over an
  * interleaved query set compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  /** The `queries` workload of the benchmark: eight relational queries
    * and three corpus queries. */
  private val names = Seq(
    "q01_scan_filter", "q14_rollup", "q25_join_anti", "q40_math_fns",
    "q54_range_join", "q67_regression_aggs", "q78_tpch_large_orders",
    "q89_tpch_dormant_accounts", "d87_dedup_components",
    "d101_incremental_near_dup", "s100_pq_adc_search")

  /** Classes compiled by one pass over `order`. */
  private def pass(order: Seq[String]): Long = {
    val c0 = Graft.compiledClasses
    order.foreach { n =>
      SparkEntry.queries(n)(spark, d).write.format("noop")
        .mode("overwrite").save()
      spark.catalog.clearCache()
    }
    Graft.compiledClasses - c0
  }

  /** Empties `CodeGenerator`'s class cache (a private member), so the
    * first pass compiles the whole class set of the pass whatever the
    * specs before this one left cached. The session comes first: the
    * cache takes its size when `CodeGenerator` initializes, and without
    * a session that is Spark's default. */
  private def emptyCodegenCache(): Unit = {
    spark.sparkContext
    val gen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val m = gen.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(gen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    ()
  }

  test("a second pass over the interleaved query set, in another order, " +
      "compiles no generated class") {
    emptyCodegenCache()
    val first = pass(names)
    // more classes than Spark's default cache holds: at that size the
    // second pass would recompile
    assert(first > 100, s"the pass compiled only $first classes")
    val second = pass(names.reverse)
    assert(second == 0,
      s"the second pass recompiled $second of the first pass's $first classes")
  }
}
