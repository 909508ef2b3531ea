package graft.plans

import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.catalog.TableMeta
import graft.sources.GraftRelation

/**
 * Shared scan-root recognition for the serving rewrites (RollupRewrite,
 * IndexRewrite): when does a logical subtree read exactly the CURRENT
 * snapshot of an engine table? Three recognized shapes — the DSv1
 * `GraftRelation` at current version, a clean-snapshot direct file scan
 * whose file set equals the current delta-free manifest, and the V2
 * catalog relation whose handle is pinned to the current version (a
 * `VERSION AS OF` handle, or one loaded before a later commit, carries
 * OLD meta and must never be served current derived-table data).
 *
 * The match returns the VERSION it observed alongside the location, and
 * the rewrites pin their freshness check AND their spliced reads to that
 * version — not to a later re-read of "current". A base commit plus a
 * derived-table refresh landing between the match and the rewrite's
 * probe must decline (or serve the matched version exactly), never serve
 * v+1 rows through a plan whose matched scan would have read v.
 */
private[graft] object ScanRoots {

  /** The files (URI paths) the plan's file relations read that `files`
    * accepts — a file set, or any path predicate — the plan-shape
    * observable the serving gates and specs assert their contracts with
    * (strict-subset point-fetch reads, zero-base covering reads,
    * index-file reads, rollup reads). ONE implementation so a change to
    * how scan relations expose their file sets cannot silently diverge the
    * call sites that used to carry private copies. */
  def filesRead(plan: LogicalPlan, files: String => Boolean): Set[String] =
    plan.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath).filter(files)
        case _ => Nil
      }
    }.flatten.toSet

  /** Strip attribute-only Projects (column pruning interposes them). */
  def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(c)
    case other => other
  }

  /** The base-table location and the version the match OBSERVED, under a
    * bare (attribute-only) projection chain, when the scan reads the
    * CURRENT version. For the pinned shapes (file scan, V2 handle) the
    * version is exactly what the scan will read; for the floating DSv1
    * handle it is the current version at match time — the plan-time
    * snapshot the rewrite contract serves. */
  def baseLocation(plan: LogicalPlan): Option[(String, Long)] = plan match {
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      baseLocation(child)
    case lr: LogicalRelation => lr.relation match {
      case GraftRelation(_, loc, None) =>
        Some((loc, TableMeta.currentVersion(loc)))
      case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        snapshotScanLocation(fs)
      case _ => None
    }
    case r: DataSourceV2Relation => r.table match {
      case t: graft.sources.v2.GraftV2Table
          if t.graftVersion == TableMeta.currentVersion(t.graftLocation) =>
        Some((t.graftLocation, t.graftVersion))
      case _ => None
    }
    case sr: DataSourceV2ScanRelation => baseLocation(sr.relation)
    case _ => None
  }

  /** `GraftTable.scan()` of a CLEAN snapshot reads the base parquet files
    * directly (no merge-on-read overlay in the plan), so the relation to
    * recognize is a file scan. The match is exact-or-nothing: the scanned
    * file set must equal the CURRENT manifest's base files of a delta-free,
    * drop-free table — a time-travel scan (old file set), a pruned scan
    * (subset), or a dirty table (overlay plan anyway) all disqualify, so a
    * rewrite can never serve different rows than the scan would have. */
  private def snapshotScanLocation(
      fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation): Option[(String, Long)] = {
    val paths = fs.location.rootPaths.map(_.toUri.getPath)
    if (paths.isEmpty) return None
    // the table root is SOME prefix ending before a "/data/" segment — a
    // warehouse itself rooted under a directory containing /data/ (e.g.
    // /data/wh/t/data/part.parquet) has several candidates, so try each
    // (innermost first: a table's own data dir can't nest another table)
    // and accept the one that IS a table whose current manifest matches
    val head = paths.head
    var i = head.lastIndexOf("/data/")
    while (i >= 0) {
      val root = head.substring(0, i)
      if (TableMeta.exists(root)) {
        val m = TableMeta.readCurrent(root)
        if (m.deltaFiles.isEmpty && m.rangeDrops.isEmpty) {
          val want = m.baseFiles
            .map(f => new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
          if (paths.toSet == want) return Some((root, m.version))
        }
        return None // a real table whose snapshot doesn't match: no rewrite
      }
      i = head.lastIndexOf("/data/", i - 1)
    }
    None
  }
}
