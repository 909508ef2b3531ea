package graft.plans

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.catalog.TableMeta
import graft.sources.v2.{GraftV2Scan, GraftV2Table}

/**
 * Shared scan-root recognition for the serving rewrites (RollupRewrite,
 * IndexRewrite): when does a logical subtree read exactly the CURRENT
 * snapshot of an engine table? Every graft read — SQL through the
 * catalog, and every `GraftTable` read face — is one relation shape: the
 * V2 relation over [[GraftV2Table]]. It matches when its handle reads the
 * whole snapshot of the current version. A `VERSION AS OF` handle, one
 * loaded before a later commit, and a read face's restricted manifest (a
 * pruned scan, the presence probe's bucket cut) all carry other files than
 * the current snapshot and must never be served current derived-table
 * data — exact-or-nothing.
 *
 * The match returns the VERSION it observed alongside the location, and
 * the rewrites pin their freshness check AND their spliced reads to that
 * version — not to a later re-read of "current". A base commit plus a
 * derived-table refresh landing between the match and the rewrite's
 * probe must decline (or serve the matched version exactly), never serve
 * v+1 rows through a plan whose matched scan would have read v.
 */
private[graft] object ScanRoots {

  /** The files (URI paths) the plan's graft scans read — the base and
    * delta files of each scan's manifest, restricted by a read face or
    * whole (GraftV2Scan.plannedFiles) — that `files` accepts (a file set,
    * or any path predicate): the plan-shape observable the serving gates
    * and specs assert their contracts with (strict-subset point-fetch
    * reads, zero-base covering reads, index-file reads, rollup reads).
    * Needs an optimized plan, where the scans are built. */
  def filesRead(plan: LogicalPlan, files: String => Boolean): Set[String] =
    plan.collect {
      case DataSourceV2ScanRelation(_, s: GraftV2Scan, _, _, _) =>
        s.plannedFiles.map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)
          .filter(files)
    }.flatten.toSet

  /** Strip attribute-only Projects (column pruning interposes them). */
  def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(c)
    case other => other
  }

  /** The base-table location and the version the match OBSERVED, under a
    * bare (attribute-only) projection chain, when the scan reads the whole
    * CURRENT snapshot — exactly what the scan will read. */
  def baseLocation(plan: LogicalPlan): Option[(String, Long)] = plan match {
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      baseLocation(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftV2Table
          if t.graftVersion == TableMeta.currentVersion(t.graftLocation) &&
            t.wholeSnapshot =>
        Some((t.graftLocation, t.graftVersion))
      case _ => None
    }
    case sr: DataSourceV2ScanRelation => baseLocation(sr.relation)
    case _ => None
  }
}
