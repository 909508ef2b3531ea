package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.catalog.TableMeta
import graft.table.GraftTable
import graft.tools.{DerivedTables, MaterializedRollup, SecondaryIndex}

/**
 * The serving half of every derived table, in one place: ONE
 * session-keyed registry of armed derived tables (a clone an engine action
 * plans in reads its owner's entries, GraftSqlBridge.owner), which injects
 * each kind's rewrite rule into `spark.experimental.extraOptimizations`
 * once per session — a persisted ROLLUP arms [[RollupRewrite]], a persisted
 * SECONDARY INDEX arms [[IndexRewrite]]; both rules read their own kind's
 * entries through [[armed]]. Serving state is session-scoped (weak per
 * session: sessions die with their tests), and it outlives the building
 * session because every arming path reads the persisted properties:
 * `DerivedTables.build` arms the building session, a catalog open arms
 * every derived table under its warehouse ([[armFromWarehouse]]), and
 * `GraftTable.load` of a derived table arms it ([[autoArm]]) — so a
 * maintenance sweep, a refresh call or a direct read re-arms it in any
 * session. A session opts out per kind with `graft.rollup.autoRewrite` /
 * `graft.sindex.autoRewrite` set to anything but "true" (lenient: "off"
 * disables, it never throws out of a build or load).
 *
 * Every serve of either rule runs in [[serving]] (one decline handler)
 * and starts from [[pinned]] (one freshness check against the base
 * version the plan observed).
 */
object ServingRewrites extends Logging {

  /** One serving kind: derived tables whose properties carry `srcLocKey`
    * arm `rule`, keyed by `cols` (the canonical forms the rule matches),
    * unless the session sets `autoConf` to anything but "true". */
  private final case class Kind(rule: Rule[LogicalPlan], srcLocKey: String,
      autoConf: String, cols: Map[String, String] => Seq[String])

  private val kinds = Seq(
    Kind(RollupRewrite, MaterializedRollup.SrcLocKey,
      "graft.rollup.autoRewrite", _ => Nil),
    // a plain index's lead canon is its column name, a functional index's
    // its persisted expression canon — one matching mechanism for both.
    // Computed here, at arm time: a lookup's planning adds no manifest read
    Kind(IndexRewrite, SecondaryIndex.SrcLocKey, "graft.sindex.autoRewrite",
      p => p.get(SecondaryIndex.ExprKey) match {
        case Some(canon) => Seq(canon)
        case None => SecondaryIndex.indexedCols(p).map(_.toLowerCase)
      }))

  private def kindOf(p: Map[String, String]): Option[Kind] =
    kinds.find(k => p.contains(k.srcLocKey))

  /** One armed derived table: its kind, its source location and the
    * canonical columns it serves. */
  private final case class Entry(kind: Kind, source: String, cols: Seq[String])

  private val registry =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  private def entries(spark: SparkSession): Option[ConcurrentHashMap[String, Entry]] =
    registry.synchronized(Option(registry.get(GraftSqlBridge.owner(spark))))

  /** Arm `t` — a persisted rollup or secondary index — in `spark`, and
    * inject its kind's rule (once per session). The registry's monitor
    * also serializes the `extraOptimizations` read-append-write ([[inject]]):
    * two kinds arming concurrently (a catalog open racing a build) must not
    * lose an append and silently disarm one rule for the session. */
  def arm(spark: SparkSession, t: GraftTable): Unit = arm(spark, t.location,
    t.properties)

  private def arm(spark: SparkSession, loc: String, p: Map[String, String]): Unit = {
    val k = kindOf(p).getOrElse(throw new IllegalArgumentException(
      s"$loc is not a materialized rollup or a secondary index"))
    registry.synchronized {
      registry.computeIfAbsent(GraftSqlBridge.owner(spark),
        _ => new ConcurrentHashMap[String, Entry]())
        .put(loc, Entry(k, p(k.srcLocKey), k.cols(p)))
      inject(spark, k.rule)
    }
  }

  /** Append `rule` (and `strategies`) to the extra optimizations (planner
    * strategies) of `spark` and of the session it serves for, once each,
    * under the registry's monitor. The inline point read ([[InlineReads]])
    * stays the last rule, so every serve sees the plan before it. */
  private[plans] def inject(spark: SparkSession, rule: Rule[LogicalPlan],
      strategies: Seq[org.apache.spark.sql.execution.SparkStrategy] = Nil): Unit =
    registry.synchronized {
      Seq(spark, GraftSqlBridge.owner(spark)).distinct.foreach { s =>
        val exp = s.experimental
        if (!exp.extraOptimizations.contains(rule)) {
          val (inline, serving) = exp.extraOptimizations.partition(_ eq InlineReads)
          exp.extraOptimizations = (serving :+ rule) ++ inline
          exp.extraStrategies = exp.extraStrategies ++ strategies
        }
      }
    }

  /** Drop `loc` from the registry. Its rule stays injected: with no entry
    * of its kind it is a no-op pattern match. */
  def disarm(spark: SparkSession, loc: String): Unit =
    entries(spark).foreach(_.remove(loc))

  def isArmed(spark: SparkSession, loc: String): Boolean =
    entries(spark).exists(_.containsKey(loc))

  /** Arm whatever rewrite `t`'s persisted properties call for, if the
    * session's gate for that kind is on; idempotent. The already-armed
    * short-circuit needs no read at all (the hot callers are repeated
    * loads of one table); otherwise ONE properties read (a manifest read)
    * decides. Returns whether `t` is an armed derived table. */
  def autoArm(spark: SparkSession, t: GraftTable): Boolean = {
    if (isArmed(spark, t.location)) return true
    val p = try t.properties catch { case _: Exception => return false }
    kindOf(p).exists { k =>
      val on = spark.conf.getOption(k.autoConf).forall(_.equalsIgnoreCase("true"))
      if (on) arm(spark, t.location, p)
      on
    }
  }

  /** `rule`'s armed derived tables in `spark`: location -> (source
    * location, canonical columns). Self-cleaning: an entry whose derived
    * table or source was dropped leaves the registry on this read, so a
    * long session's optimizer overhead stays bounded by its live tables. */
  private[graft] def armed(spark: SparkSession,
      rule: Rule[LogicalPlan]): Map[String, (String, Seq[String])] = {
    val m = entries(spark).getOrElse(return Map.empty)
    import scala.jdk.CollectionConverters._
    m.asScala.toMap.filter { case (loc, e) =>
      val live = TableMeta.exists(loc) && TableMeta.exists(e.source)
      if (!live) m.remove(loc)
      live
    }.collect { case (loc, e) if e.kind.rule eq rule => loc -> (e.source, e.cols) }
  }

  /** The derived table's ONE manifest snapshot for a serve. Watermark and
    * version move together in a refresh commit, so reading both from one
    * manifest is the whole TOCTOU defense: the watermark must equal the
    * base version the scan-root MATCH observed (not a later re-read of
    * "current" — a base commit plus a refresh landing between the match
    * and this check must decline rather than serve v+1 rows through a
    * plan pinned at v), and the serve then reads this version of the
    * derived table. A stale table records `stale` and never serves. */
  private[plans] def pinned(spark: SparkSession, loc: String,
      baseV: Long): Option[(GraftTable, TableMeta)] = {
    val t = GraftTable.load(spark, loc)
    val m = t.meta
    if (DerivedTables.watermarkOf(m.propsMap).contains(baseV)) Some((t, m))
    else { ServingStats.stale(spark, loc); None }
  }

  // a serve's own planning (the spliced lookup's queries, the rollup's
  // scan) optimizes through the same rules — the index rule never rewrites
  // while a serve is in flight on this thread
  private val busy = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private[plans] def inServe: Boolean = busy.get()

  /** Run `body` with this THREAD's re-entrancy guard set — also for serve
    * work farmed out to other threads (the index union's parallel probes):
    * their query planning must not re-enter a rule any more than the
    * planning thread's own would. */
  private[graft] def guarded[T](body: => T): T = {
    val was = busy.get()
    busy.set(true)
    try body finally busy.set(was)
  }

  /** The skeleton every serve runs in: `body` under the re-entrancy
    * guard, with ONE decline path. A serve never blocks the query, and
    * never declines silently either: the lookup contract's own bound (a
    * predicate matching more than rewriteMaxKeys keys is a scan, not a
    * point read) is expected planner traffic — it records `bound` and
    * logs at info; anything else (a corrupt derived table, a lost
    * executor) records `error` and warns, so a persistently sick index or
    * rollup degrading every query to a scan leaves a trail. `locs` names
    * the derived tables a decline is charged to, read when it fires. */
  private[plans] def serving(spark: SparkSession, what: String,
      locs: => Iterable[String])(body: => Option[LogicalPlan])
      : Option[LogicalPlan] =
    guarded {
      try body catch {
        case e: Exception =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          if (msg.contains("matched more than")) {
            locs.foreach(ServingStats.bound(spark, _))
            logInfo(s"$what declined (probe over rewriteMaxKeys); " +
              "keeping the scan plan")
          } else {
            locs.foreach(ServingStats.error(spark, _))
            logWarning(s"$what declined after error; keeping the scan " +
              s"plan: $msg")
          }
          None
      }
    }

  /** Arm every persisted rollup/index under `warehouseDir` in `spark` —
    * the cross-session serving half of warehouse auto-maintenance.
    * Individual sick tables never stop the sweep. The walk is BOUNDED
    * (depth 4, 1024 tables): this runs synchronously on every catalog
    * open, and a warehouse mis-rooted at a shared directory (/tmp) must
    * not turn session start into a filesystem crawl — tables beyond the
    * cap still arm lazily on first load/refresh/build. */
  def armFromWarehouse(spark: SparkSession, warehouseDir: String): Int = {
    // never walk the system temp root: harness catalogs point their
    // warehouse at a table dir's PARENT (often /tmp itself), and arming
    // would crawl 1024 unrelated scratch tables on EVERY catalog open —
    // same refusal as MaintenanceScheduler.autoScheduleWarehouse. Derived
    // tables under such a catalog still arm on build/load/refresh.
    if (graft.tools.GraftTools.isTmpRoot(warehouseDir)) return 0
    val cap = 1024
    val (tables, depthPruned) = graft.tools.GraftTools
      .listWarehouseTablesEx(java.nio.file.Paths.get(warehouseDir),
        includeHidden = true, // SQL faces park derived tables in dot-dirs
        maxDepth = 4, maxTables = cap)
    if (tables.size >= cap)
      logWarning(s"armFromWarehouse($warehouseDir) hit the $cap-table walk " +
        "cap; remaining derived tables arm lazily on first load")
    if (depthPruned)
      logWarning(s"armFromWarehouse($warehouseDir) pruned directories deeper " +
        "than 4 levels; derived tables nested below arm lazily on first load")
    tables.count { p =>
      try autoArm(spark, GraftTable.load(spark, p.toString))
      catch { case _: Exception => false }
    }
  }
}
