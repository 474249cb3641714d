package graft.plans

import graft.query.ComputedCol

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** Optimizer rule (r17; date bins r18): absorb an EXACT bin expression —
  * `pmod(col, n)` / `col % n` over a graftserver relation's Int/Long column,
  * or the calendar bins `year/month/dayofmonth(col)` (Date or Timestamp)
  * and `date_trunc(unit, col)` under the engine's pinned UTC zone
  * (the treasury-canonical `groupBy(year(date))`,
  * reference examples/treasury_yield/.../TreasuryYieldMapper.java:47-53)
  * — into the relation as a DERIVED column
  * ([[graft.query.ComputedCol]], the `computed_columns` option), so a
  * bin key computed in the query no longer blocks any pushdown that
  * needs attribute-only leg shapes:
  *
  *  - `events.groupBy(pmod($"ts", 600))...` folds as ONE
  *    `$match`+`$set`+`$group` pipeline per namespace instead of
  *    shipping every row to a Spark aggregate;
  *  - `events.withColumn("bkt", pmod(..)).join(dim, $"bkt" === ...)`
  *    keeps the `$lookup` push (Spark's pushDownJoin requires
  *    attribute-only projections on both inputs — one computed alias
  *    used to forfeit the join), composing with the r17 range
  *    conjuncts for derived-bin interval/as-of joins WITHOUT
  *    materializing the bin;
  *  - plain reads compute the value at decode (reader-injected; the
  *    wire never ships it).
  *
  * graftbson relations are left alone: with no `$group` or `$lookup` to
  * push, a bin there enables nothing and would only move Spark's
  * generated arithmetic into the reader's per-doc injection. A
  * user-set `computed_columns` option still reads on both transports.
  *
  * The surface is deliberately the two functions whose server
  * arithmetic is EXACT for every int64 (`$mod`-based; see
  * [[ComputedCol]] for why `floor(col / n)` is refused), and the
  * capture requires `assume_uniform_storage` — `$set` computes on
  * STORED values, so a foreign non-numeric storage must be excluded
  * before the pushed form can replace Spark's read-value arithmetic
  * (both transports then fail loud on one, the mixed-storage stance).
  * Relations already carrying an `unwind_path` refuse (the unwind
  * readers do not run the injection seam); the scan builder refuses
  * every OTHER pushdown that would address the synthetic field in
  * find-land, where no `$set` exists (filters stay residual, plain
  * TopN/min-max/sample/split keys refuse — GraftServerScanBuilder's
  * computed gates).
  *
  * Stable in the fixed-point batch: after the rewrite the alias is an
  * attribute, and the rule only matches Projects containing renderable
  * bin aliases. The derived column reuses the alias's exprId, so every
  * parent reference resolves unchanged.
  */
object ComputedKeyRelocate extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // a surviving computed alias: Project(..., bkt = pmod(col, n), ...)
    // over [Filter]* over the relation (join legs, plain selects)
    case p @ Project(projectList, child) =>
      spineRel(child) match {
        case Some(rel) if eligible(rel) &&
            projectList.exists(e => aliasBin(e, rel).isDefined) =>
          relocateProject(p, projectList, child, rel)
        case _ => p
      }
    // CollapseProject folds single-use aliases into the Aggregate:
    // groupBy(pmod(col, n)) arrives as a grouping EXPRESSION — absorb
    // each distinct bin and substitute its attribute, so the grouped
    // pushdown sees a plain column key and the whole
    // $match+$set+$group folds server-side
    case agg: Aggregate =>
      spineRel(agg.child) match {
        case Some(rel) if eligible(rel) &&
            agg.groupingExpressions.exists(g =>
              binOf(stripAlias(g), rel).isDefined) =>
          relocateAggregate(agg, agg.child, rel)
        case _ => agg
      }
  }

  private def eligible(rel: DataSourceV2Relation): Boolean =
    graft.server.GraftServerSource.served(rel.table) &&
      graft.source.ReadModel.uniform(rel.options.asScala.toMap) &&
      !rel.options.containsKey(graft.query.Unwind.PathKey)

  /** The graft relation under a chain of Filters / attribute-only
    * Projects that do not prune the bins' future home (the rewrite
    * threads the new attribute through each). */
  private def spineRel(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
    case rel: DataSourceV2Relation
        if rel.table.isInstanceOf[graft.source.GraftTable] => Some(rel)
    case Filter(_, ch) => spineRel(ch)
    case Project(pl, ch) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      spineRel(ch)
    case _ => None
  }

  /** Rebuild the spine over the rewritten relation, adding `newAttrs`
    * to every pass-through Project so the derived columns flow up. */
  private def rebuildSpine(p: LogicalPlan, newRel: DataSourceV2Relation,
      newAttrs: Seq[AttributeReference]): LogicalPlan = p match {
    case _: DataSourceV2Relation => newRel
    case f @ Filter(_, ch) => f.copy(child = rebuildSpine(ch, newRel, newAttrs))
    case pr @ Project(pl, ch) =>
      Project(pl ++ newAttrs, rebuildSpine(ch, newRel, newAttrs))
    case other => other
  }

  /** Absorb `bins` ((name, exprId, bin)) into the relation; None on a
    * name collision. Returns (rewritten relation, new attributes in
    * bin order). */
  private def absorb(rel: DataSourceV2Relation,
      bins: Seq[(String, ExprId, Bin)]):
      Option[(DataSourceV2Relation, Seq[AttributeReference])] = {
    val existing = Option(rel.options.get("column_mapping"))
      .map(graft.source.ColumnMapping.parse).getOrElse(Map.empty[String, String])
    val prior = ComputedCol.fromOptions(rel.options.asScala.toMap)
    val schemaNames = rel.schema.fieldNames.toSet
    val names = bins.map(_._1)
    // refuse on any collision with a real column, a prior computed
    // column, or between the new names — and never shadow a MAPPED doc
    // field another column reads
    if (names.exists(schemaNames.contains) || names.distinct.size != names.size ||
        names.exists(n => prior.exists(_.out == n)) ||
        names.exists(existing.valuesIterator.toSet.contains))
      return None
    val computed = bins.map { case (name, _, b) =>
      ComputedCol(name, b.fn, existing.getOrElse(b.src.name, b.src.name), b.n,
        b.dataType match {
          case IntegerType => "int"
          case TimestampType => "timestamp"
          case DateType => "date"
          case _ => "long"
        }, b.unit)
    }
    val dts = bins.map(_._3.dataType)
    val newSchema = StructType(rel.schema.fields ++
      names.zip(dts).map { case (n, t) => StructField(n, t) })
    val newOpts = new CaseInsensitiveStringMap((rel.options.asScala.toMap +
      (ComputedCol.OptionKey -> ComputedCol.render(prior ++ computed))).asJava)
    val newTable = rel.table.asInstanceOf[graft.source.GraftTable]
      .withSchema(newSchema, newOpts.asScala.toMap)
    val newAttrs = bins.map { case (name, id, b) =>
      AttributeReference(name, b.dataType, nullable = true)(exprId = id)
    }
    Some((rel.copy(table = newTable,
      output = rel.output ++ newAttrs, options = newOpts), newAttrs))
  }

  private def relocateProject(p: Project, projectList: Seq[NamedExpression],
      child: LogicalPlan, rel: DataSourceV2Relation): LogicalPlan = {
    // uniquify colliding alias names (Spark's PullOutGroupingExpressions
    // names EVERY pulled grouping alias `_groupingexpression`, so a
    // multi-key `groupBy(year(d), month(d))` arrives with duplicate
    // names): the DOC field gets a fresh suffixed name while the
    // project keeps an Alias back to the original name/exprId — the
    // user-visible schema never changes
    val taken = scala.collection.mutable.Set[String](
      rel.schema.fieldNames.toIndexedSeq: _*)
    val aliased: Seq[(Alias, Bin, String, ExprId)] = projectList.flatMap {
      case a: Alias => binOf(a.child, rel).map { b =>
        val name =
          if (!taken.contains(a.name)) a.name
          else {
            var i = 1
            while (taken.contains(s"${a.name}_$i")) i += 1
            s"${a.name}_$i"
          }
        taken += name
        val id = if (name == a.name) a.exprId else NamedExpression.newExprId
        (a, b, name, id)
      }
      case _ => None
    }
    absorb(rel, aliased.map { case (_, b, n, id) => (n, id, b) }) match {
      case None => p
      case Some((newRel, newAttrs)) =>
        val byAliasId: Map[ExprId, NamedExpression] =
          aliased.zip(newAttrs).map { case ((a, _, name, _), attr) =>
            a.exprId -> (if (name == a.name) attr
              else Alias(attr, a.name)(exprId = a.exprId))
          }.toMap
        val newList = projectList.map {
          case a: Alias if byAliasId.contains(a.exprId) => byAliasId(a.exprId)
          case other => other
        }
        Project(newList, rebuildSpine(child, newRel, newAttrs))
    }
  }

  private def relocateAggregate(agg: Aggregate, child: LogicalPlan,
      rel: DataSourceV2Relation): LogicalPlan = {
    // distinct bin expressions among the grouping expressions; each
    // takes its aggregate-list alias's name when one exists (plan
    // readability), else a fresh synthetic name
    val rawBins: Seq[(Expression, Bin)] = agg.groupingExpressions
      .map(stripAlias).flatMap(g => binOf(g, rel).map(g -> _))
    val distinctBins = rawBins.foldLeft(Seq.empty[(Expression, Bin)]) {
      case (acc, (e, b)) =>
        if (acc.exists(_._1.semanticEquals(e))) acc else acc :+ (e, b)
    }
    if (distinctBins.isEmpty) return agg
    val taken = scala.collection.mutable.Set[String](
      rel.schema.fieldNames.toIndexedSeq: _*)
    def freshName(): String = {
      var i = 0
      while (taken.contains(s"__graft_bin$i")) i += 1
      val n = s"__graft_bin$i"; taken += n; n
    }
    val named = distinctBins.map { case (e, b) =>
      val name = agg.aggregateExpressions.collectFirst {
        case a: Alias if a.child.semanticEquals(e) &&
            !taken.contains(a.name) => a.name
      }.getOrElse(freshName())
      taken += name
      (e, b, name)
    }
    absorb(rel, named.map { case (_, b, n) =>
      (n, NamedExpression.newExprId, b) }) match {
      case None => agg
      case Some((newRel, newAttrs)) =>
        val subst: Seq[(Expression, AttributeReference)] =
          named.map(_._1).zip(newAttrs)
        def replace(e: Expression): Expression = e.transformDown {
          case x if subst.exists(_._1.semanticEquals(x)) =>
            subst.find(_._1.semanticEquals(x)).get._2
        }
        agg.copy(
          groupingExpressions = agg.groupingExpressions.map(replace),
          aggregateExpressions = agg.aggregateExpressions
            .map(replace(_).asInstanceOf[NamedExpression]),
          child = rebuildSpine(child, newRel, newAttrs))
    }
  }

  private def stripAlias(e: Expression): Expression = e match {
    case Alias(c, _) => c
    case other => other
  }

  /** A renderable bin: fn + source attribute + divisor (mod fns) or
    * `$dateTrunc` unit (date fns); the bin's Spark type is the
    * EXPRESSION's (int, long, or timestamp). */
  private final case class Bin(fn: String, src: AttributeReference, n: Long,
      dataType: org.apache.spark.sql.types.DataType, unit: String = "")

  private def aliasBin(e: NamedExpression, rel: DataSourceV2Relation): Option[Bin] =
    e match {
      case Alias(child, _) => binOf(child, rel)
      case _ => None
    }

  /** A tz id that IS UTC (the analyzer resolves the session zone into
    * casts and date_trunc — the calendar contract renders `timezone:
    * "UTC"` on the wire, so only UTC-resolved expressions capture). */
  private def isUtc(tz: Option[String]): Boolean = tz.exists { z =>
    try java.time.ZoneId.of(z).normalized() == java.time.ZoneOffset.UTC
    catch { case _: Exception => false }
  }

  /** Spark's `date_trunc` level spellings → the mongo `$dateTrunc` unit.
    * MICROSECOND is deliberately absent: mongo has no unit below
    * millisecond (stored BSON datetimes are whole millis anyway, but a
    * refusal beats a silent identity claim). */
  private val TruncUnitOf: Map[String, String] = Map(
    "YEAR" -> "year", "YYYY" -> "year", "YY" -> "year",
    "QUARTER" -> "quarter",
    "MONTH" -> "month", "MON" -> "month", "MM" -> "month",
    "WEEK" -> "week",
    "DAY" -> "day", "DD" -> "day",
    "HOUR" -> "hour", "MINUTE" -> "minute", "SECOND" -> "second",
    "MILLISECOND" -> "millisecond")

  /** The DATE-bracket source attribute of a calendar-field expression:
    * a Date column directly, or a Timestamp column through the
    * analyzer's UTC timestamp→date cast (`year(ts)` arrives as
    * `Year(Cast(ts, date, tz))` — exact under the engine's pinned UTC
    * session; any other zone refuses). */
  private def dateSrc(e: Expression, rel: DataSourceV2Relation):
      Option[AttributeReference] = e match {
    case a: AttributeReference if a.dataType == DateType &&
        rel.outputSet.contains(a) => Some(a)
    case c: Cast if c.dataType == DateType && isUtc(c.timeZoneId) =>
      c.child match {
        case a: AttributeReference if a.dataType == TimestampType &&
            rel.outputSet.contains(a) => Some(a)
        case _ => None
      }
    case _ => None
  }

  /** The TIMESTAMP-or-date source of a `date_trunc`: a Timestamp column
    * directly, or a Date column through the UTC date→timestamp cast
    * (stored BSON dates are canonical UTC midnights — the cast's value
    * IS the stored value). */
  private def tsSrc(e: Expression, rel: DataSourceV2Relation):
      Option[AttributeReference] = e match {
    case a: AttributeReference if a.dataType == TimestampType &&
        rel.outputSet.contains(a) => Some(a)
    case c: Cast if c.dataType == TimestampType && isUtc(c.timeZoneId) =>
      c.child match {
        case a: AttributeReference if a.dataType == DateType &&
            rel.outputSet.contains(a) => Some(a)
        case _ => None
      }
    case _ => None
  }

  /** A renderable bin expression over the relation's own columns:
    * `pmod(col, n)` / `col % n` (Int/Long, positive literal ≤ 2^62,
    * optionally through a widening int→long cast), or the r18 date bins
    * `year/month/dayofmonth(dateOrTsCol)` and
    * `date_trunc(unit, tsOrDateCol)` under a UTC-resolved zone. */
  private def binOf(child: Expression, rel: DataSourceV2Relation): Option[Bin] =
    child match {
      case pm: Pmod => modBin("pmod", pm.left, pm.right, rel, child.dataType)
      case rm: Remainder => modBin("mod", rm.left, rm.right, rel, child.dataType)
      case y: Year => dateSrc(y.child, rel).map(Bin("year", _, 0L, IntegerType))
      case m: Month => dateSrc(m.child, rel).map(Bin("month", _, 0L, IntegerType))
      case d: DayOfMonth =>
        dateSrc(d.child, rel).map(Bin("dayofmonth", _, 0L, IntegerType))
      case d: DayOfYear =>
        dateSrc(d.child, rel).map(Bin("dayofyear", _, 0L, IntegerType))
      // $dayOfWeek numbers Sunday 1..Saturday 7 — Spark's dayofweek rule
      case d: DayOfWeek =>
        dateSrc(d.child, rel).map(Bin("dayofweek", _, 0L, IntegerType))
      // $isoWeek == Spark's weekofyear (both ISO 8601); mongo's $week
      // (US rule) deliberately has no Spark counterpart here
      case w: WeekOfYear =>
        dateSrc(w.child, rel).map(Bin("weekofyear", _, 0L, IntegerType))
      // time-of-day fields carry their own zone — UTC-resolved only
      case h: Hour if isUtc(h.timeZoneId) =>
        tsSrc(h.child, rel).map(Bin("hour", _, 0L, IntegerType))
      case m: Minute if isUtc(m.timeZoneId) =>
        tsSrc(m.child, rel).map(Bin("minute", _, 0L, IntegerType))
      case s: Second if isUtc(s.timeZoneId) =>
        tsSrc(s.child, rel).map(Bin("second", _, 0L, IntegerType))
      case t: TruncTimestamp if isUtc(t.timeZoneId) =>
        val unit = t.format match {
          case Literal(u: org.apache.spark.unsafe.types.UTF8String, _)
              if u != null => TruncUnitOf.get(u.toString.toUpperCase)
          case _ => None
        }
        for {
          u <- unit
          a <- tsSrc(t.timestamp, rel)
        } yield Bin("date_trunc", a, 0L, TimestampType, u)
      // `trunc(date, fmt)` — the DateType-out truncation (year/quarter/
      // month/week only; Spark returns NULL for other formats, which
      // never capture): the truncated BSON datetime is a canonical
      // midnight, so the DateType decode (epoch-day floor) is exact
      case t: TruncDate =>
        val unit = t.format match {
          case Literal(u: org.apache.spark.unsafe.types.UTF8String, _)
              if u != null => TruncUnitOf.get(u.toString.toUpperCase)
                .filter(x => graft.query.ComputedCol.DayOrCoarser.contains(x) &&
                  x != "day") // Spark's trunc has no DAY level
          case _ => None
        }
        for {
          u <- unit
          a <- dateSrc(t.date, rel)
        } yield Bin("date_trunc", a, 0L, DateType, u)
      case _ => None
    }

  private def modBin(fn: String, l: Expression, r: Expression,
      rel: DataSourceV2Relation,
      dt: org.apache.spark.sql.types.DataType): Option[Bin] = {
    val srcAttr = l match {
      case a: AttributeReference => Some(a)
      case c: Cast if c.dataType == LongType =>
        c.child match {
          case a: AttributeReference if a.dataType == IntegerType => Some(a)
          case _ => None
        }
      case _ => None
    }
    val lit: Option[Long] = r match {
      case Literal(n: Int, IntegerType) => Some(n.toLong)
      case Literal(n: Long, LongType) => Some(n)
      case Cast(Literal(n: Int, IntegerType), LongType, _, _) => Some(n.toLong)
      case _ => None
    }
    for {
      a <- srcAttr
      if rel.outputSet.contains(a) &&
        (a.dataType == IntegerType || a.dataType == LongType)
      n <- lit
      // upper bound (ADVICE r17): the pmod WIRE form adds n after the
      // inner $mod — above 2^62 that $add can overflow int64 on a real
      // server where Spark's branchy Pmod never does, so the int-exact
      // contract holds only below the bound (mod's wire form has no
      // add, but one shared conservative gate keeps the surface simple)
      if n > 0 && n <= graft.query.ComputedCol.MaxPmodDivisor
    } yield Bin(fn, a, n, dt)
  }
}
