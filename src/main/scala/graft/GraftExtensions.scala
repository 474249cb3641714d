package graft

import graft.functions.{BpeTokenStats, MisraGriesSketch, ObjectIdToSeconds, ScrubPii, ToObjectId, TopKMin}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions hook: enables the engine's native SQL functions
  * for every session in a cluster via
  * `--conf spark.sql.extensions=graft.GraftExtensions` — the idiomatic way
  * a user of the reference library switches their deployment over without
  * per-session registration calls.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.ObjectIdRangeRule)
    // the legs of a join of graftserver relations on one connection
    // (graft.server.JoinPush) are made bare for Spark's pushDownJoin, in
    // the operator optimization batch, BEFORE the early-scan pushdown:
    // untranslatable predicates hoist above the join, rename-only
    // Projects pull above it, and nested-extraction Projects absorb into
    // the relation as column_mapping-derived flat columns
    ext.injectOptimizerRule(_ => graft.plans.PrepareJoinLegs)
    // pmod / % bin expressions over a graftserver column absorb into the
    // relation as a derived `$set` column (computed_columns), so
    // derived-bin group keys fold server-side and derived-bin join keys
    // keep the pushed $lookup (r17)
    ext.injectOptimizerRule(_ => graft.plans.ComputedKeyRelocate)
    // explode(arrayCol) directly over a graftserver scan becomes the
    // scan's $unwind directive (parent docs cross the wire once; the
    // grouped-aggregate composition runs $match+$unwind+$group as one
    // server pipeline)
    ext.injectOptimizerRule(_ => graft.plans.UnwindRelocate)
    // a global ORDER BY over an input within the broadcast threshold sorts
    // in one task, with no range exchange: sized by Spark's estimate at
    // plan time, by measured query stages under AQE
    ext.injectPreCBORule(_ => graft.plans.SmallSort)
    ext.injectRuntimeOptimizerRule(_ => graft.plans.SmallSort)
    ext.injectFunction((
      FunctionIdentifier("objectid_to_seconds"),
      new ExpressionInfo(classOf[ObjectIdToSeconds].getName, "objectid_to_seconds"),
      (children: Seq[Expression]) => ObjectIdToSeconds(children.head)))
    ext.injectFunction((
      FunctionIdentifier("to_objectid"),
      new ExpressionInfo(classOf[ToObjectId].getName, "to_objectid"),
      (children: Seq[Expression]) => ToObjectId(children.head)))
    // bounded per-group top-k for SQL callers: topk_min(item, k); the
    // analyzer wraps the returned AggregateFunction itself
    ext.injectFunction((
      FunctionIdentifier("topk_min"),
      new ExpressionInfo(classOf[TopKMin].getName, "topk_min"),
      (children: Seq[Expression]) => children match {
        case Seq(child, Literal(k: Int, org.apache.spark.sql.types.IntegerType)) =>
          TopKMin(child, k)
        case _ => throw new IllegalArgumentException(
          "topk_min(expr, k) requires a literal integer k")
      }))
    // mergeable heavy-hitters summary for SQL callers:
    // misra_gries(key, weight, capacity)
    ext.injectFunction((
      FunctionIdentifier("misra_gries"),
      new ExpressionInfo(classOf[MisraGriesSketch].getName, "misra_gries"),
      (children: Seq[Expression]) => children match {
        case Seq(key, w, Literal(cap: Int, org.apache.spark.sql.types.IntegerType)) =>
          MisraGriesSketch(key, w, cap)
        case _ => throw new IllegalArgumentException(
          "misra_gries(key, weight, capacity) requires a literal integer capacity")
      }))
    // single-pass text kernels for SQL callers (same Expressions as the
    // Column API — codegen'd in both surfaces)
    ext.injectFunction((
      FunctionIdentifier("scrub_pii"),
      new ExpressionInfo(classOf[ScrubPii].getName, "scrub_pii"),
      (children: Seq[Expression]) => ScrubPii(children.head)))
    ext.injectFunction((
      FunctionIdentifier("bpe_token_stats"),
      new ExpressionInfo(classOf[BpeTokenStats].getName, "bpe_token_stats"),
      (children: Seq[Expression]) => BpeTokenStats(children.head)))
  }
}
