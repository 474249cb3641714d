package graft

import graft.operators.Catalog
import org.apache.spark.metrics.source.CodegenMetrics

/** A warm session compiles no generated class twice: the classes a mix of
  * catalog queries needs all stay in Spark's JVM-wide codegen cache
  * ([[GraftConf.CodegenCacheEntries]]). At Spark's default of 100 entries
  * LRU eviction drops them between uses, and the second cycle below
  * recompiles ~90 of the slice's ~120 classes.
  */
class CodegenCacheSpec extends SparkSpec {

  /** perfbench's `catalog_sf01` slice: the cheapest query of each family. */
  private val queries = Seq("q09_topk_orders", "q88_chunk_docs",
    "q60_repeat_scrub", "q56_source_stats", "q94_range_shard_plan",
    "q102_surprisal", "q77_pq_audit").map(Catalog.byName)

  /** Classes compiled (codegen cache misses) while running every query once. */
  private def cycle(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queries.foreach { q =>
      spark.catalog.clearCache()
      q.run(spark, sf0001).write.format("noop").mode("overwrite").save()
    }
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second cycle of the catalog_sf01 queries compiles no class") {
    assert(spark.conf.get(GraftConf.CodegenCacheConf) ===
      GraftConf.CodegenCacheEntries.toString)
    cycle()
    assert(cycle() === 0L)
  }
}
