package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Range-shard layout planning over a LONG sort key: derive R boundaries,
  * assign every row a shard, never globally sort the corpus — the
  * planning step behind `repartitionByRange`-style ordered output.
  *
  * Two paths behind [[assign]], picked by one probe of the key: its
  * histogram `v.groupBy(key).count()`, collected with a limit of
  * `maxExactKeys + 1` rows.
  *
  *  - EXACT (the probe came back whole): the probe IS the exact
  *    histogram, so the driver computes
  *    shard(v) = floor(R · cum_before(v) / N) per key with the same
  *    integer arithmetic the oracle uses, and assignment is row-local:
  *    a comparison against ≤ R (lower bound, shard id) pairs, no join.
  *    Bit-deterministic at any parallelism — the oracle-pinned q94 path.
  *  - SAMPLED (more distinct keys than the cap, where the histogram
  *    would itself be data-scale): the shape of Spark's RangePartitioner
  *    reservoir, made DETERMINISTIC — a hash-threshold row sample
  *    (md5 of the row id, the q79 sampling convention: reproducible
  *    across runs, partitionings, and engines) whose sorted quantiles
  *    become the boundaries, compared row-locally the same way. Balance
  *    is approximate (sampling error ~ 1/√sample per shard) but the
  *    invariants — identical keys co-locate, every row assigned exactly
  *    once, shards contiguous — hold unconditionally.
  *
  * Scale trade: the probe shuffles each partition's distinct keys
  * (map-side combined), where an approx-distinct probe would write one
  * sketch per partition; in exchange the exact arm needs no second pass
  * over the corpus, no window over an unpartitioned frame and no join.
  * The probe's driver side stays capped at `maxExactKeys + 1` rows.
  */
object RangeShard {

  /** Deterministic sampled boundaries: ≤ r−1 ascending distinct keys;
    * shard i = keys in [b(i−1), b(i)). Sample membership hashes the ROW
    * id (not the key), so heavy keys are sampled proportionally and the
    * quantiles reflect the actual distribution. Two bounded driver
    * touches: one count, one ≤ ~targetSample-row collect.
    */
  def sampledBoundaries(v: DataFrame, key: String, idCol: String, r: Int,
      targetSample: Int = 4096): Seq[Long] = {
    val n = v.count()
    if (n == 0) return Seq.empty
    val M = 1L << 30
    val thr = math.max(1L, (targetSample.toDouble / n * M).toLong)
    val sample = v
      .filter(Portable.hash60(col(idCol).cast("string")) % M < thr)
      .select(col(key).cast("long")).na.drop()
      .collect().map(_.getLong(0)).sorted
    val s = sample.length
    if (s == 0) Seq.empty
    else (1 until r).map(i => sample(((i.toLong * s) / r).toInt)).distinct
  }

  /** Exact shard starts from a key histogram: (first key, shard id) for
    * every shard after shard 0, ascending, where
    * shard(k) = floor(r · cum_before(k) / N). Ids can skip: a key
    * heavier than N/r jumps the cumulative count past whole shards.
    */
  private def exactStarts(hist: Seq[(Long, Long)], r: Long): Seq[(Long, Long)] = {
    val n = hist.map(_._2).sum
    val sorted = hist.sortBy(_._1)
    val ids = sorted.zip(sorted.scanLeft(0L)(_ + _._2)).map {
      case ((k, _), cumBefore) => (k, Math.multiplyExact(r, cumBefore) / n)
    }
    ids.zip((0L, 0L) +: ids).collect { case ((k, s), (_, prev)) if s != prev => (k, s) }
  }

  /** Row-local shard id from ascending (lower bound, shard id) pairs: the
    * id of the last bound ≤ key, 0 below the first bound (and for a NULL
    * key). Identical keys co-locate by construction; the shards are
    * contiguous key ranges.
    */
  def shardOf(key: Column, starts: Seq[(Long, Long)]): Column =
    starts.foldLeft(lit(0L)) { case (acc, (b, s)) => when(key >= b, lit(s)).otherwise(acc) }

  /** `v` plus a `shard_id` column, exact or sampled by key cardinality.
    * `key` must be a LONG column. `maxExactKeys` caps the probe's rows on
    * the driver (default 64 K distinct keys ≈ a few MB of (key, count)
    * pairs).
    *
    * Callers must coalesce NULL keys first (q94 coalesces text before
    * tokenizing): the two arms cannot treat them identically — the
    * exact arm DROPS a null-keyed row while the sampled arm's comparison
    * chain sends it to shard 0 — so null keys would make the arm choice
    * observable.
    */
  def assign(v: DataFrame, key: String, idCol: String, r: Long,
      maxExactKeys: Int = 1 << 16, targetSample: Int = 4096): DataFrame = {
    val probe = v.groupBy(col(key)).count().limit(maxExactKeys + 1).collect()
    if (probe.length > maxExactKeys) {
      val bounds = sampledBoundaries(v, key, idCol, r.toInt, targetSample)
      val starts = bounds.zipWithIndex.map { case (b, i) => (b, i + 1L) }
      v.withColumn("shard_id", shardOf(col(key), starts))
    } else {
      val hist = probe.filterNot(_.isNullAt(0)).map(row => (row.getLong(0), row.getLong(1)))
      v.filter(col(key).isNotNull)
        .withColumn("shard_id", shardOf(col(key), exactStarts(hist.toSeq, r)))
    }
  }
}
