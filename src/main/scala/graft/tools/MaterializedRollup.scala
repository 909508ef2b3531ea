package graft.tools

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * CDC-maintained materialized rollup — incremental view maintenance for the
 * aggregate a serving layer reads constantly while the base table keeps
 * mutating. At 100 TB, recomputing `GROUP BY` aggregates from scratch on
 * every refresh is the dominant cost of any reporting pipeline; this module
 * keeps the rollup current with work proportional to the MUTATED GROUPS,
 * never the base table:
 *
 *   - `build` computes the full aggregate once and persists it as an engine
 *     table keyed by the group columns (hash-partitioned on them, so
 *     serving point-reads of single groups prunes to one bucket).
 *   - `refresh` reads ONLY the keys mutated since the recorded watermark
 *     (`changesSince` — the S11 delta-only fast path when no compaction
 *     intervened), derives the touched group set from them, recomputes
 *     exactly those groups from the current base snapshot, and commits the
 *     upserted groups + vanished-group tombstones as ONE atomic
 *     transaction (W9). When the touched set is small enough to collect,
 *     the recompute scan pushes an IN-list over the group columns, so a
 *     base clustered/range-partitioned on them opens only the touched
 *     tablets' files (S8/P4 pruning).
 *
 * The group columns must be PRIMARY KEY columns of the base: the CDC fast
 * path materializes tombstones from delete deltas, which carry key columns
 * only — a non-key grouping column is NULL on them, and the vanished
 * group could not be located. (This is also what makes the maintenance
 * well-defined: a PK group key can never mutate in place, so every group
 * move is an explicit delete+insert and both sides surface in the diff.)
 *
 * The aggregate definitions are SQL expression strings (persisted in the
 * rollup's table properties, so `refresh` replays them verbatim); any
 * deterministic Spark aggregate works because touched groups are
 * recomputed whole — no retraction algebra, so MIN/MAX/COUNT DISTINCT are
 * as maintainable as SUM.
 *
 * Reference anchors: diff scan S11 (client/client.h:3150), multi-row
 * transaction W9, PK-range/hash pruning S8/P4.
 */
object MaterializedRollup {

  val SrcLocKey = "graft.rollup.source"
  val GroupColsKey = "graft.rollup.groupCols"
  val AggsKey = "graft.rollup.aggs"
  val SrcVersionKey = "graft.rollup.sourceVersion"

  private[graft] val FieldSep = "\u001f" // within one agg: alias US expr
  private[graft] val RecSep = "\u001e"   // between aggs

  private def aggExprs(aggs: Seq[(String, String)]) =
    aggs.map { case (alias, e) => expr(e).as(alias) }

  private def grouped(base: DataFrame, groupCols: Seq[String],
      aggs: Seq[(String, String)]): DataFrame = {
    val es = aggExprs(aggs)
    base.groupBy(groupCols.map(col): _*).agg(es.head, es.tail: _*)
  }

  /**
   * Build the rollup beside `source` through [[DerivedTables.build]] (the
   * one build of every derived kind: marker, pinned source scan,
   * properties in the first commit, serving armed). `aggs` is (alias,
   * aggregate SQL expression), e.g. `("sum_price", "sum(CAST(o_totalprice
   * AS DECIMAL(28,2)))")`. The rollup table is keyed by `groupCols` and
   * hash-partitioned on them across `buckets`.
   */
  def build(spark: SparkSession, source: GraftTable, groupCols: Seq[String],
      aggs: Seq[(String, String)], location: String,
      buckets: Int = 16): GraftTable =
    DerivedTables.build(spark, source, location, SrcLocKey, SrcVersionKey) {
      (m, scan) =>
        require(groupCols.nonEmpty, "at least one group column required")
        require(aggs.nonEmpty, "at least one aggregate required")
        val pk = m.keyCols.toSet
        groupCols.foreach(c => require(pk.contains(c),
          s"rollup group column $c must be a primary-key column of ${m.name} " +
            s"(PK: ${m.keyCols.mkString(", ")}) — CDC tombstones carry keys only"))
        val badAlias = aggs.map(_._1).find(a =>
          groupCols.contains(a) || a.contains(FieldSep) || a.contains(RecSep))
        require(badAlias.isEmpty, s"bad aggregate alias: ${badAlias.getOrElse("")}")
        val df = grouped(scan, groupCols, aggs)
        DerivedTables.Shape(s"${m.name}_rollup", df.schema, groupCols,
          Seq(HashComponent(groupCols, buckets)), df,
          Map(GroupColsKey -> groupCols.mkString(FieldSep),
            AggsKey -> aggs.map { case (a, e) => a + FieldSep + e }.mkString(RecSep)))
    }

  /**
   * Incremental refresh through [[DerivedTables.refresh]] (the one refresh
   * path of every derived kind; `maxPruneKeys`/`assertPrune` as there):
   * recompute exactly the groups the source's change stream touched since
   * the recorded watermark from the CURRENT source, upsert them, and
   * tombstone groups that vanished. O(touched groups), never O(base). The
   * window is `touchedKeys` — only the delta files in range, no per-key
   * fold and no v1 snapshot scan: ghost or superseded keys recompute to
   * the same result. A bounded touched set pushes an IN-list over the
   * group columns, so a base laid out on them opens only the touched
   * tablets' files. Returns false when the rollup is already current; an
   * expired watermark means rebuild with [[build]].
   */
  def refresh(spark: SparkSession, rollup: GraftTable,
      maxPruneKeys: Int = 4096, assertPrune: Boolean = false): Boolean =
    DerivedTables.refresh(spark, rollup, SrcLocKey, SrcVersionKey,
        maxPruneKeys, assertPrune) { (src, v0, v1) =>
      val p = rollup.properties
      val groupCols = p(GroupColsKey).split(FieldSep).toSeq
      val aggs = p(AggsKey).split(RecSep).toSeq.map { r =>
        val i = r.indexOf(FieldSep)
        (r.substring(0, i), r.substring(i + 1))
      }
      DerivedTables.Derivation(src.touchedKeys(v0, v1, groupCols), groupCols,
          readAt = None) { (touched, base, bounded) =>
        // conform to the rollup's persisted column types (an agg's natural
        // result type can widen — e.g. sum(DECIMAL(28,2)) is DECIMAL(38,2))
        def recompute(rows: DataFrame) = grouped(rows, groupCols, aggs)
          .select(rollup.meta.visibleColumns.map(c =>
            col(c.name).cast(c.dataType).as(c.name)): _*)
        // over local source rows (a driver keyed read) the aggregate is one
        // single-partition stage — no exchange, so one job under any plan —
        // collected into a local relation: the anti join and the commit
        // then run on the driver
        val fresh =
          if (bounded && GraftTable.isLocal(base)) {
            val one = recompute(base.coalesce(1))
            GraftTable.localRelation(spark, one.schema,
              GraftSqlBridge.collectInternal(one).toSeq)
          } else recompute(base)
        // touched groups whose recompute came back empty vanished from the
        // base
        val freshKeys = fresh.select(groupCols.map(col): _*)
        // the rollup's rows of the touched groups: a keyed read of its own
        // key when bounded
        val touchedRows =
          if (bounded) rollup.readByKeys(None, touched.schema, touched.collect())
          else rollup.scan().join(touched, groupCols, "left_semi")
        (fresh, DerivedTables.keyJoin(touchedRows.select(groupCols.map(col): _*),
          freshKeys, groupCols, anti = true, broadcastRight = bounded))
      }
    }
}
