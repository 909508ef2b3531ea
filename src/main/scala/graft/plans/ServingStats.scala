package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}

/**
 * Per-session serving observability — the queryable half of the serving
 * rewrites' "never silently" rule: every transparent serve and every
 * decline that means something operationally (stale watermark, probe over
 * the key bound, real probe failure) bumps a counter against the derived
 * table that produced it, and `CALL system.serving_stats()` reads them
 * back. An index that stopped serving (scheduler dead, refresh failing) or
 * one that NEVER serves (wrong column, wrong shape — a candidate for
 * dropping) becomes visible in one procedure call instead of a log grep.
 *
 * Counts are in-memory and session-scoped (weak per-session maps, like the
 * rewrite registries; a clone an engine action plans in counts for its
 * owner, GraftSqlBridge.owner): serving is a plan-time property of THIS
 * session's armed rules, and a restart re-arms from persisted state
 * anyway. "Not applicable" outcomes (a predicate the index cannot
 * express, a covering need the index does not carry) are NOT counted —
 * they are the rewrite not matching, not the serving layer failing.
 */
object ServingStats {

  final case class Counts(serves: Long = 0L, staleDeclines: Long = 0L,
      boundDeclines: Long = 0L, errorDeclines: Long = 0L,
      lastPath: String = "")

  private val bySession =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Counts]]()

  private def map(spark: SparkSession): ConcurrentHashMap[String, Counts] =
    bySession.synchronized {
      bySession.computeIfAbsent(GraftSqlBridge.owner(spark),
        _ => new ConcurrentHashMap[String, Counts]())
    }

  /** A successful transparent serve through `loc` via `path` (point,
    * range, covering, topk, topk_covering, union, join, rollup,
    * rollup_reagg). */
  def serve(spark: SparkSession, loc: String, path: String): Unit =
    map(spark).compute(loc, (_, c0) => {
      val c = Option(c0).getOrElse(Counts())
      c.copy(serves = c.serves + 1, lastPath = path)
    })

  /** A STALE decline: the derived table's watermark did not match the
    * base version the plan observed — refresh lag, operationally the
    * number to watch. */
  def stale(spark: SparkSession, loc: String): Unit =
    map(spark).compute(loc, (_, c0) => {
      val c = Option(c0).getOrElse(Counts())
      c.copy(staleDeclines = c.staleDeclines + 1)
    })

  /** A BOUNDED decline: the probe matched more than rewriteMaxKeys —
    * expected planner traffic for scan-sized predicates, but a high rate
    * says the workload outgrew the point-read posture. */
  def bound(spark: SparkSession, loc: String): Unit =
    map(spark).compute(loc, (_, c0) => {
      val c = Option(c0).getOrElse(Counts())
      c.copy(boundDeclines = c.boundDeclines + 1)
    })

  /** A REAL probe failure (sick index, lost executor) — the case the
    * rewrites warn about; a persistently nonzero rate is an incident. */
  def error(spark: SparkSession, loc: String): Unit =
    map(spark).compute(loc, (_, c0) => {
      val c = Option(c0).getOrElse(Counts())
      c.copy(errorDeclines = c.errorDeclines + 1)
    })

  /** Current counters, sorted by location for deterministic output. */
  def snapshot(spark: SparkSession): Seq[(String, Counts)] = {
    import scala.jdk.CollectionConverters._
    map(spark).asScala.toSeq.sortBy(_._1)
  }

  /** Drop this session's counters (spec isolation). */
  def reset(spark: SparkSession): Unit = map(spark).clear()
}
