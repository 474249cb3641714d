package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[RangeShard]]: the exact path is pinned by the q94 oracle; this
  * suite pins what the oracle can't reach — the sampled fallback's
  * invariants on a HIGH-cardinality key (where the exact histogram
  * would itself be data-scale) and the auto switch between the paths.
  */
class RangeShardSpec extends SparkSpec {
  import spark.implicits._

  private val R = 8

  /** 40 K rows over ~40 K distinct keys, skewed (quadratic ramp) so
    * uniform boundaries would be wrong and balance is a real check.
    */
  private lazy val highCard = spark.range(0, 40000).toDF("id")
    .select($"id", ($"id" * $"id" % 999983L).as("k"))

  test("sampled boundaries: deterministic, ascending, bounded count") {
    val b1 = RangeShard.sampledBoundaries(highCard, "k", "id", R)
    val b2 = RangeShard.sampledBoundaries(highCard, "k", "id", R)
    assert(b1 === b2, "hash-threshold sampling must be reproducible")
    assert(b1.size <= R - 1)
    assert(b1 === b1.sorted)
    assert(b1.distinct === b1)
  }

  test("sampled assignment: exhaustive, co-located, contiguous, balanced") {
    val assigned = RangeShard.assign(highCard, "k", "id", R,
      maxExactKeys = 1000) // force the sampled arm
    val rows = assigned.groupBy($"shard_id")
      .agg(count(lit(1)).as("n"), min($"k").as("lo"), max($"k").as("hi"))
      .orderBy($"shard_id").collect()
    // every row lands in exactly one shard
    assert(rows.map(_.getLong(1)).sum === 40000L)
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < R))
    // contiguity: shard ranges never overlap (hi of shard i < lo of i+1)
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(3) < b.getLong(2),
        s"shards ${a.getLong(0)} and ${b.getLong(0)} overlap")
      case _ =>
    }
    // identical keys co-locate: shard is a function of the key
    val perKey = assigned.groupBy($"k")
      .agg(countDistinct($"shard_id").as("ns"))
      .agg(max($"ns")).head().getLong(0)
    assert(perKey === 1L)
    // balance: with a ~4096-row sample each boundary's rank error is
    // small; allow a generous 2x band around the ideal N/R so the spec
    // survives any seed while still catching a broken quantile pick
    val ideal = 40000.0 / R
    rows.foreach { r =>
      assert(r.getLong(1) < ideal * 2,
        s"shard ${r.getLong(0)} holds ${r.getLong(1)} rows (ideal $ideal)")
    }
  }

  test("low-cardinality keys take the exact arm and match the histogram math") {
    // 1000 rows over 10 distinct keys: exact path (histogram + window)
    val v = spark.range(0, 1000).toDF("id")
      .select($"id", ($"id" % 10L).as("k"))
    val assigned = RangeShard.assign(v, "k", "id", R)
    // shard(v) = floor(R * cum_before / N): key k has cum_before 100*k,
    // so shard = floor(8 * 100k / 1000)
    val expect = (0L until 10L).map(k => k -> (R * 100 * k / 1000)).toMap
    val got = assigned.select($"k", $"shard_id").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }

  test("exact arm: a heavy key skips shard ids, a null key is dropped") {
    // key 1 holds 100 of the 150 non-null rows, so key 2's cum_before
    // (100) jumps straight to shard floor(8 * 100 / 150) = 5
    val keys = Seq.fill(100)(Option(1L)) ++ (2L to 6L).flatMap(k => Seq.fill(10)(Option(k))) ++
      Seq.fill(5)(Option.empty[Long])
    val v = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "k")
    val assigned = RangeShard.assign(v, "k", "id", R)
    // the window formula over the key histogram, computed here in Spark
    val h = v.filter($"k".isNotNull).groupBy($"k").agg(count(lit(1)).as("c"))
    val before = Window.orderBy($"k").rowsBetween(Window.unboundedPreceding, -1)
    val expect = h
      .withColumn("cumb", coalesce(sum($"c").over(before), lit(0L)))
      .select($"k", (lit(R.toLong) * $"cumb" / lit(150L)).cast("long").as("shard_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = assigned.select($"k", $"shard_id").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got(2L) === 5L, "key 2 must skip shards 1-4")
    assert(assigned.count() === 150L, "null-keyed rows are dropped")
  }

  test("empty and all-one-key inputs degrade gracefully") {
    val empty = spark.emptyDataset[Long].toDF("id").select($"id", $"id".as("k"))
    assert(RangeShard.sampledBoundaries(empty, "k", "id", R).isEmpty)
    val one = spark.range(0, 500).toDF("id").select($"id", lit(7L).as("k"))
    val assigned = RangeShard.assign(one, "k", "id", R, maxExactKeys = 0)
    // a single key can't split: everything lands in one shard
    assert(assigned.select($"shard_id").distinct().count() === 1L)
  }
}
