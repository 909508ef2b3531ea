package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.catalog.TableMeta
import graft.table.GraftTable
import graft.tools.MaterializedRollup

/**
 * Materialized-view QUERY REWRITE — the serving half of
 * [[graft.tools.MaterializedRollup]]: a `GROUP BY` over the base table
 * that matches a registered, CURRENT rollup is answered from the rollup
 * instead of re-aggregating the base. At 100 TB this is the difference
 * between a metadata-sized read and a full-corpus shuffle for every
 * dashboard refresh — and with the scheduler refreshing rollups in the
 * background ([[graft.tools.DerivedTables]]), queries transparently stay
 * on the fast path while mutations keep flowing.
 *
 * Spark-first shape: a `Rule[LogicalPlan]` appended to
 * `spark.experimental.extraOptimizations` (runtime-injectable; no session
 * rebuild), firing on `Aggregate` nodes whose child is a bare scan of a
 * registered base (the V2 relation over its whole current snapshot,
 * before or after scan pushdown — SQL or any `GraftTable` read face). A
 * `WHERE` under the aggregate rewrites too when it references GROUP COLUMNS only — such a
 * predicate commutes with grouping, so it rebases onto the rollup exactly
 * (any other filter, or a non-trivial projection, disqualifies). The
 * rewrite is strictly conservative:
 *
 *   - grouping must be the rollup's group columns (any order) — served by
 *     projection — or a SUBSET of them (including the global aggregate),
 *     served by RE-AGGREGATING the rollup (count/sum fold by SUM, min/max
 *     by themselves; exact, because groups partition the base's rows);
 *   - every aggregate must canonicalize to one of the rollup's persisted
 *     definitions — the canonical language covers `count( * )`/`count(1)`,
 *     `sum/min/max(col)` and `sum/min/max(cast(col as t))`, which is what
 *     rollups store; anything else simply never rewrites;
 *   - output data types must match the rollup's persisted column types
 *     exactly (the build persisted the aggregate's own natural types);
 *   - the rollup must be CURRENT: its source-version watermark equals the
 *     base's current committed version at plan time. A stale rollup never
 *     serves (refresh-or-miss, not read-behind) — the background
 *     maintenance tick is what keeps the hit rate high.
 *
 * Freshness is checked AT PLAN TIME, and the spliced rollup scan pins the
 * rollup's plan-time file set: a commit landing between optimization and
 * execution serves the plan-time snapshot — exactly the snapshot
 * semantics every engine scan already has (a scan planned before a commit
 * reads its manifest's files), never an error and never a torn read.
 * Arming is the one path of every derived table ([[ServingRewrites]]):
 * `MaterializedRollup.build` arms the building session, a `GraftCatalog`
 * open re-arms every rollup persisted under its warehouse, and
 * `GraftTable.load` of a rollup re-arms it — so yesterday's materialized
 * view serves today's sessions with zero calls (opt out with
 * `graft.rollup.autoRewrite` set to anything but "true"). The freshness
 * check is [[ServingRewrites.pinned]] and a failing serve declines through
 * [[ServingRewrites.serving]], exactly as an index serve does: it records
 * `error` and logs a warning, never blocks the query.
 *
 * Output attribute ids are preserved through aliases, so parent operators
 * resolve untouched. Dead registrations (dropped rollup or base) fall out
 * of the registry on the next apply.
 */
object RollupRewrite extends Rule[LogicalPlan] {

  /** Canonical string for the tiny aggregate language rollups persist.
    * Handles BOTH resolved query-side trees and parsed-spec trees, so the
    * two sides compare by string equality. None = outside the language. */
  private def canon(e: Expression): Option[String] = e match {
    case a: Alias => canon(a.child)
    case ae: AggregateExpression if ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        // count(DISTINCT col): exact-match serving only — reAgg refuses it
        // (distinct counts of disjoint groups do NOT sum)
        case c: Count if c.children.size == 1 =>
          canon(c.children.head).map(x => s"count(distinct $x)")
        case _ => None
      }
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      canon(ae.aggregateFunction)
    case c: Count => c.children match {
      case Seq(l: Literal) if l.value != null => Some("count(*)")
      case Seq(_: UnresolvedStar) => Some("count(*)")
      // count(col): null-skipping per-column count — folds by SUM like
      // count(*), and the avg derivation's denominator
      case Seq(one) => canon(one).map(x => s"count($x)")
      case _ => None
    }
    case s: Sum => canon(s.child).map(x => s"sum($x)")
    case m: Min => canon(m.child).map(x => s"min($x)")
    case m: Max => canon(m.child).map(x => s"max($x)")
    // avg never matches a stored column directly — the serve DERIVES it
    // from sum(x) and count(x) when the rollup carries both (see mapped)
    case a: Average => canon(a.child).map(x => s"avg($x)")
    case c: Cast =>
      canon(c.child).map(x => s"cast($x as ${c.dataType.sql.toLowerCase})")
    case a: AttributeReference => Some(a.name.toLowerCase)
    case u: UnresolvedAttribute => Some(u.name.toLowerCase)
    case f: UnresolvedFunction if f.nameParts.length == 1 &&
        f.filter.isEmpty =>
      f.nameParts.head.toLowerCase match {
        case "count" if f.isDistinct => f.arguments match {
          case Seq(arg) => canon(arg).map(x => s"count(distinct $x)")
          case _ => None
        }
        case _ if f.isDistinct => None // DISTINCT sum etc: never canonical
        case "count" => f.arguments match {
          case Seq(l: Literal) if l.value != null => Some("count(*)")
          case Seq(_: UnresolvedStar) => Some("count(*)")
          case Seq(arg) => canon(arg).map(x => s"count($x)")
          case _ => None
        }
        case n @ ("sum" | "min" | "max" | "avg") => f.arguments match {
          case Seq(arg) => canon(arg).map(x => s"$n($x)")
          case _ => None
        }
        case "mean" => f.arguments match {
          case Seq(arg) => canon(arg).map(x => s"avg($x)")
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  // scan-root recognition (the V2 relation over the whole current
  // snapshot — time travel, stale handles and restricted manifests yield
  // None) lives in the shared [[ScanRoots]]; IndexRewrite consumes the identical rules. The
  // returned version is what the MATCH observed — freshness pins to it.
  private def baseLocation(plan: LogicalPlan): Option[(String, Long)] =
    ScanRoots.baseLocation(plan)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    val rollups = ServingRewrites.armed(spark, this)
    if (rollups.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(groupExprs, resultExprs, child, _)
          if groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
        // a WHERE over the scan may sit under the aggregate: it rewrites
        // too when it touches GROUP COLUMNS only (filtering rows by a
        // group-column predicate commutes with grouping — the predicate
        // rebases onto the rollup's group columns exactly). Column pruning
        // interposes attribute-only Projects; strip them before looking.
        def stripProjects(p: LogicalPlan): LogicalPlan = p match {
          case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
            stripProjects(c)
          case other => other
        }
        val (cond, scanChild) = stripProjects(child) match {
          case f: Filter => (Some(f.condition), f.child)
          case c => (None, c)
        }
        (for {
          (baseLoc, baseV) <- baseLocation(scanChild)
          rewritten <- rollups.collectFirst(Function.unlift {
            case (rollupLoc, (srcLoc, _)) if srcLoc == baseLoc =>
              tryRewrite(spark, groupExprs, resultExprs, cond, baseV,
                rollupLoc)
            case _ => None
          })
        } yield rewritten).getOrElse(agg)
    }
  }

  private def tryRewrite(spark: SparkSession,
      groupExprs: Seq[Expression], resultExprs: Seq[NamedExpression],
      cond: Option[Expression], baseV: Long,
      rollupLoc: String): Option[LogicalPlan] =
    ServingRewrites.serving(spark, s"rollup rewrite via $rollupLoc",
        Seq(rollupLoc)) {
      ServingRewrites.pinned(spark, rollupLoc, baseV).flatMap {
        case (rollup, rm) => serve(spark, groupExprs, resultExprs, cond,
          rollupLoc, rollup, rm)
      }
    }

  /** The serve against the pinned rollup snapshot `rm`: None when the
    * query does not match the rollup's definition. */
  private def serve(spark: SparkSession, groupExprs: Seq[Expression],
      resultExprs: Seq[NamedExpression], cond: Option[Expression],
      rollupLoc: String, rollup: GraftTable,
      rm: TableMeta): Option[LogicalPlan] = {
    val p = rm.propsMap
    val groupCols = p(MaterializedRollup.GroupColsKey)
      .split(MaterializedRollup.FieldSep).toSeq.map(_.toLowerCase)
    val gNames = groupExprs.map {
      case a: AttributeReference => a.name.toLowerCase
    }
    // exact grouping serves by projection; a SUBSET grouping (including a
    // global aggregate) RE-AGGREGATES the rollup — groups partition the
    // base's rows, so sum-of-group-sums / sum-of-group-counts / min-of-
    // group-mins / max-of-group-maxes are exactly the base aggregates,
    // computed over groups-many rows instead of the corpus
    val exact = gNames.sorted == groupCols.sorted
    if (!exact && !gNames.forall(groupCols.contains)) return None
    // a filter must be deterministic and reference group columns only —
    // then it commutes with the grouping and rebases onto the rollup
    cond.foreach { c =>
      if (!c.deterministic) return None
      if (!c.references.forall(a => groupCols.contains(a.name.toLowerCase)))
        return None
    }
    val specs: Map[String, String] = p(MaterializedRollup.AggsKey)
      .split(MaterializedRollup.RecSep).toSeq.map { r =>
        val i = r.indexOf(MaterializedRollup.FieldSep)
        val alias = r.substring(0, i)
        val c = canon(CatalystSqlParser.parseExpression(r.substring(i + 1)))
        c.map(_ -> alias)
      }.collect { case Some(kv) => kv }.toMap
    // map every output to a rollup column (group col by name, aggregate
    // by canonical match), types equal exactly. The spliced subtree must be
    // the OPTIMIZED scan plan: this rule runs in the last optimizer batch,
    // so an analyzed subtree's ResolvedHint (a dirty rollup's broadcast
    // overlay) would reach the planner unreplaced and throw. The scan pins
    // the SAME rollup version the watermark above was read from — a
    // refresh landing mid-plan cannot mix snapshots.
    val rollupPlan = rollup.scan(Some(rm.version)).queryExecution.optimizedPlan
    val byName = rollupPlan.output.map(a => a.name.toLowerCase -> a).toMap
    // the re-aggregation combinator per canonical form: counts and sums
    // fold by SUM, min/max by themselves. Anything else never re-aggregates.
    // count folds through COALESCE(sum, 0): a GLOBAL aggregate over an
    // EMPTY base must return 0 like count(*) does, not sum's NULL (sum/min/
    // max are null over empty input on the direct path too — they match).
    def reAgg(canonical: String, r: Attribute): Option[Expression] =
      (if (canonical.startsWith("count(distinct"))
        None // distinct counts of disjoint groups do NOT sum
      else if (canonical.startsWith("count("))
        Some(Coalesce(Seq(Sum(r).toAggregateExpression(),
          Literal(0L, org.apache.spark.sql.types.LongType))))
      else if (canonical.startsWith("sum("))
        Some(Sum(r).toAggregateExpression())
      else if (canonical.startsWith("min(")) Some(Min(r).toAggregateExpression())
      else if (canonical.startsWith("max(")) Some(Max(r).toAggregateExpression())
      else None)
    // AVG derives from sum(x) + count(x) when the rollup carries BOTH
    // (avg itself is never stored — group averages do not re-aggregate):
    // avg(x) = sum(x) / count(x), null when the count is 0 (an all-null
    // group), folding both by SUM under subset grouping. The division
    // runs in doubles, so only double-typed avg outputs serve (a decimal
    // avg's scale arithmetic would not match and declines on the type
    // check); the rollup's exact sum cast once is at least as precise as
    // the direct path's running double sum.
    def avgDerive(c: String): Option[Expression] = {
      val inner = c.substring("avg(".length, c.length - 1)
      for {
        s <- specs.get(s"sum($inner)").flatMap(byName.get)
        n <- specs.get(s"count($inner)").flatMap(byName.get)
      } yield {
        val (sE, nE): (Expression, Expression) =
          if (exact) (s, n)
          else (Sum(s).toAggregateExpression(), Sum(n).toAggregateExpression())
        val dbl = org.apache.spark.sql.types.DoubleType
        val nD = Cast(nE, dbl)
        If(EqualTo(nD, Literal(0.0d)), Literal(null, dbl),
          Divide(Cast(sE, dbl), nD))
      }
    }
    val mapped = resultExprs.map {
      case a: AttributeReference if gNames.contains(a.name.toLowerCase) =>
        byName.get(a.name.toLowerCase).filter(_.dataType == a.dataType)
          .map(r => Alias(r, a.name)(exprId = a.exprId))
      case al @ Alias(_, _) =>
        canon(al).flatMap { c =>
          specs.get(c).flatMap(byName.get(_)).flatMap { r =>
            if (exact) Some(r: Expression) else reAgg(c, r)
          }.orElse(if (c.startsWith("avg(")) avgDerive(c) else None)
        }.filter(_.dataType == al.dataType)
          .map(e => Alias(e, al.name)(exprId = al.exprId))
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) return None
    // rebase the (group-column-only) filter onto the rollup's attributes;
    // a type mismatch on any referenced column declines the whole rewrite
    val src: LogicalPlan = cond match {
      case None => rollupPlan
      case Some(c) =>
        var ok = true
        val rebased = c.transform {
          case a: AttributeReference =>
            byName.get(a.name.toLowerCase) match {
              case Some(r) if r.dataType == a.dataType => r
              case _ => ok = false; a
            }
        }
        if (!ok) return None
        Filter(rebased, rollupPlan)
    }
    if (exact) {
      ServingStats.serve(spark, rollupLoc, "rollup")
      Some(Project(mapped.map(_.get), src))
    } else {
      val subGroup = groupExprs.map { case a: AttributeReference =>
        byName(a.name.toLowerCase): Expression
      }
      ServingStats.serve(spark, rollupLoc, "rollup_reagg")
      Some(Aggregate(subGroup, mapped.map(_.get), src))
    }
  }
}
