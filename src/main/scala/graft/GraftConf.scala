package graft

import org.apache.spark.sql.SparkSession

/** Session-level tuning the graft operators are designed for. Applied at
  * session CONSTRUCTION by every entry point (Bench/Verify/PlanDump,
  * the test fixture) — never mutated from inside a query builder, so
  * building a graft query has no side effect on unrelated work sharing
  * the session. Queries stay correct without these; they only run the
  * packed-index aggregates through the sort-based fallback path.
  */
object GraftConf {

  /** The packed inverted indexes (band → doc list, shingle → doc list)
    * hold far more than the default 128 in-memory keys per partition;
    * the default threshold would sort-spill nearly every partition of an
    * aggregate whose whole point is to stay hash-shaped. 2^21 keys of
    * packed lists is well inside executor memory at 32 shuffle
    * partitions per core-32 host.
    */
  val PackedIndexFallbackThreshold: Int = 1 << 21

  /** Scan-split open-cost floor. The corpus operators run CPU-dense text
    * kernels (tokenize, rolling window hashes, MD5 shingles) whose work
    * per parquet BYTE is 10-100x a plain relational scan, so the default
    * 4 MiB floor — sized for IO-bound scans — leaves a compressed text
    * table of a few dozen MB in a handful of splits and most cores idle.
    * With the floor at 128 KiB the split size is governed by
    * totalBytes / defaultParallelism (the `minPartitionNum` term), i.e.
    * every core gets a slice of even a small corpus file; large corpora
    * are unaffected (their size/parallelism term already dominates).
    * The trade — fewer small files packed per partition — costs only
    * task-launch overhead, which local[32] and any real cluster absorb.
    * Parallelism stays bounded by the file's row-group count; the scale
    * fixture writer (tools/make_scale.py) writes 8192-row groups for the
    * same reason.
    */
  val ScanOpenCostBytes: Long = 128L * 1024

  /** DSv2 join pushdown is opt-in in Spark 4.1 (the rule only fires for
    * sources implementing SupportsPushDownJoin — here the graftserver
    * source's `$lookup` pipeline); turning the OPTIMIZER RULE on is an
    * engine default, each scan still refuses joins it cannot spell
    * exactly (GraftServerScanBuilder.pushDownJoin's eligibility gates).
    */
  val JoinPushdownConf = "spark.sql.optimizer.datasourceV2JoinPushdown"

  /** Entries in Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is
    * keyed by the generated source text, so it holds compiled code, never
    * data or results, and `clearCache` leaves it alone. At the default a
    * session serving a mix of catalog queries recompiles nearly every
    * class it reuses: seven queries already need ~121 classes, so LRU
    * eviction drops each one before its next use and every warm pass
    * re-runs Janino on ~107 classes. The bound is at least twice the
    * measured working set: one cold cycle of the whole 183-query catalog
    * at sf0.001 compiles ~1,650 distinct classes, and the next cycle
    * 36-48 (2,260 at the default). A cached class holds ~37 KB of heap
    * after GC, plus ~10 KB of metaspace, so a full cache is ~190 MB.
    */
  val CodegenCacheEntries: Int = 4096

  /** Static SQL conf: it only takes effect at session construction, and
    * the one JVM-wide cache is sized by whichever session compiles first.
    */
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      PackedIndexFallbackThreshold.toString)
      .config("spark.sql.files.openCostInBytes", ScanOpenCostBytes.toString)
      .config(JoinPushdownConf, "true")
      .config(CodegenCacheConf, CodegenCacheEntries.toString)
      // the engine's optimizer rules + SQL functions (includes
      // PrepareJoinLegs, which must run in the operator-optimization
      // batch — experimental.extraOptimizations would be too late, it
      // executes after the V2 pushdown)
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)

  /** For sessions built elsewhere (e.g. a user session passed straight
    * into the query registry): apply the same tuning explicitly, by
    * choice rather than as a hidden side effect of building a query.
    * The runtime confs only: [[CodegenCacheConf]] is static, so a live
    * session cannot take it (Spark refuses the set). Give it to the
    * builder of such a session yourself, before it is first created.
    */
  def tune(s: SparkSession): Unit = {
    s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      PackedIndexFallbackThreshold.toString)
    s.conf.set("spark.sql.files.openCostInBytes", ScanOpenCostBytes.toString)
    s.conf.set(JoinPushdownConf, "true")
  }
}
