package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.table.GraftTable

/**
 * SQL `CALL` surface of the V2 catalog (Spark 4 DSv2 stored procedures,
 * SPARK-44167) — the operational verbs of the reference's `kudu` CLI
 * (tools/tool_main.cc: compaction, consistency checks) reachable from
 * SQL, Iceberg-procedure style:
 *
 *   CALL cat.system.maintain('tbl')              -- policy-gated fold
 *   CALL cat.system.compact('tbl')               -- whole-table rewrite
 *   CALL cat.system.compact_tablet('tbl', 3)     -- one tablet, O(tablet)
 *   CALL cat.system.delta_stats('tbl')           -- per-tablet pick list
 *   CALL cat.system.fsck('tbl')                  -- ksck-style audit
 *   CALL cat.system.fsck_repair('tbl')           -- sweep orphan filesets
 *
 * plus the SQL face of the W9 scoped-transaction engine (the reference
 * exposes transactions only through its client API, client/client.h:429-531;
 * Spark's SQL grammar has no BEGIN/COMMIT, so the handle rides a `CALL`
 * surface the way Iceberg rides procedures for out-of-grammar verbs):
 *
 *   CALL cat.system.txn_begin('tbl')             -- returns the handle id
 *   CALL cat.system.txn_insert('<id>', '<select>') -- strict insert, staged
 *   CALL cat.system.txn_upsert('<id>', '<select>')
 *   CALL cat.system.txn_delete('<id>', '<select of key rows>') -- strict
 *   CALL cat.system.txn_commit('<id>')           -- ONE version, all-or-nothing
 *   CALL cat.system.txn_abort('<id>')            -- discard staged ops
 *
 * Staged SELECTs evaluate at commit time under the transaction's
 * validation pass; the commit publishes every staged op as one delta
 * fileset under one snapshot version, and any validation failure or
 * concurrent-commit conflict publishes nothing (see [[graft.table.GraftTxn]]).
 *
 * The `table` argument is catalog-relative (namespace levels '.'-separated,
 * like the table identifiers themselves).
 */
private[v2] object GraftProcedures {

  val names: Array[String] = Array(
    "analyze", "apply_changes",
    "backup", "backup_incremental", "restore_chain", "replicate",
    "cluster", "compact", "compact_deltas", "compact_tablet",
    "locate_row", "expire_versions", "zone_stats",
    "maintain", "maintain_schedule", "maintain_schedule_warehouse",
    "maintain_unschedule", "maintain_unschedule_warehouse",
    "maintain_schedule_status", "maintenance_plan", "merge_tail",
    "delta_stats", "fsck", "fsck_repair", "register", "table_statistics",
    "txn_begin", "txn_insert", "txn_upsert", "txn_delete", "txn_commit", "txn_abort",
    "build_vector_index", "refresh_vector_index",
    "build_rollup", "refresh_rollup", "enable_rollup_rewrite", "rollup_status",
    "build_secondary_index", "refresh_secondary_index", "derived_status",
    "serving_stats")

  private def spark = SparkSession.active

  /** An eagerly-evaluated driver-side result relation: these procedures
    * run maintenance/audit actions whose outputs are tiny reports. */
  private def localScan(out: StructType, rs: Seq[InternalRow]): Scan =
    new LocalScan {
      private val arr = rs.toArray
      override def rows(): Array[InternalRow] = arr
      override def readSchema(): StructType = out
    }

  private def proc(pname: String, desc: String, params: Array[ProcedureParameter],
      out: StructType)(body: InternalRow => Seq[InternalRow]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = pname
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params
      override def isDeterministic(): Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] =
        java.util.Collections.singletonList(localScan(out, body(input))).iterator()
    }

  private def tableParam: ProcedureParameter =
    ProcedureParameter.in("table", StringType).build()

  private def str(s: String): UTF8String = UTF8String.fromString(s)

  def load(warehouse: String, name: String): Option[UnboundProcedure] = {
    def locate(in: InternalRow): GraftTable = {
      val parts = in.getUTF8String(0).toString.split('.').toSeq
      GraftTable.load(spark, parts.mkString(s"$warehouse/", "/", ""))
    }
    name.toLowerCase match {
      case "compact" => Some(proc("compact",
        "fold all deltas into a fresh hash/range-partitioned PK-sorted base",
        Array(tableParam), new StructType().add("version", LongType)) { in =>
          val t = locate(in); t.compact(); Seq(InternalRow(t.currentVersion))
        })
      case "analyze" => Some(proc("analyze",
        "compute per-column NDV/nulls/min/max stats (one aggregate job; " +
          "histograms => true adds equi-height histograms on numerics) " +
          "and serve them to Spark's CBO through the V2 scan statistics",
        Array(tableParam,
          ProcedureParameter.in("histograms", BooleanType).defaultValue("false").build()),
        new StructType().add("column", StringType).add("ndv", LongType)
          .add("nulls", LongType).add("min", StringType).add("max", StringType)) { in =>
          val t = locate(in)
          t.analyze(histograms = in.getBoolean(1))
          t.meta.colStats.getOrElse(Map.empty).toSeq.sortBy(_._1).map {
            case (n, cs) => InternalRow(str(n), cs.ndv, cs.nullCount,
              cs.min.map(str).orNull, cs.max.map(str).orNull)
          }
        })
      case "zone_stats" => Some(proc("zone_stats",
        "per-base-file zone map of one column (decoded min/max, null " +
          "count, rows) — the operator's 'is this table clustered well on " +
          "X?' report; interval overlap across rows is the clustering " +
          "quality signal",
        Array(tableParam, ProcedureParameter.in("column", StringType).build()),
        new StructType().add("file", StringType).add("rows", LongType)
          .add("lo", StringType).add("hi", StringType)
          .add("nulls", LongType).add("bucket", StringType)) { in =>
          val t = locate(in)
          val m = t.meta
          val cm = m.column(in.getUTF8String(1).toString)
          val isLead = m.keyCols.headOption.contains(cm.name)
          m.baseFiles.sortBy(_.path).map { f =>
            val b = f.colBounds(cm.id).orElse(
              if (isLead) f.keyLo.zip(f.keyHi) else None)
            def disp(e: String) =
              str(GraftTable.decodeBoundDisplay(cm.dataType, e))
            InternalRow(
              str(f.path.substring(f.path.lastIndexOf('/') + 1)),
              f.rows,
              b.map(x => disp(x._1)).orNull,
              b.map(x => disp(x._2)).orNull,
              f.colNullCount(cm.id).getOrElse(-1L),
              f.bucket.map(x => str(x.toString)).orNull)
          }
        })
      case "cluster" => Some(proc("cluster",
        "Z-order clustered rewrite (compact + fold): output files follow " +
          "the Morton interleave of the given columns' quantile bins, so " +
          "the manifest zone maps prune multi-column non-key predicates; " +
          "files = 0 uses spark.sql.shuffle.partitions",
        Array(tableParam,
          ProcedureParameter.in("columns", StringType).build(),
          ProcedureParameter.in("files", IntegerType).defaultValue("0").build()),
        new StructType().add("version", LongType)) { in =>
          val t = locate(in)
          val cols = in.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          // empty column list = UNCLUSTER: clear the persisted spec with a
          // plain PK-sorted rewrite
          if (cols.isEmpty) t.uncluster() else t.cluster(cols, in.getInt(2))
          Seq(InternalRow(t.currentVersion))
        })
      case "compact_deltas" => Some(proc("compact_deltas",
        "MINOR delta compaction — fold delta files without touching the base; " +
          "tail_only folds just the unflushed tail, O(tail)",
        Array(tableParam,
          ProcedureParameter.in("tail_only", BooleanType).defaultValue("false").build()),
        new StructType().add("version", LongType)) { in =>
          val t = locate(in)
          t.compactDeltas(tailOnly = in.getBoolean(1))
          Seq(InternalRow(t.currentVersion))
        })
      case "maintenance_plan" => Some(proc("maintenance_plan",
        "budgeted maintenance candidates from metadata only (the " +
          "reference's compaction-policy scoring): one row per candidate " +
          "op, sorted by benefit-per-I/O score; execute under a budget " +
          "with GraftTable.maintain(ioBudgetBytes)",
        Array(tableParam),
        new StructType().add("kind", StringType).add("bucket", IntegerType)
          .add("range_key", StringType).add("io_bytes", LongType)
          .add("score", DoubleType)) { in =>
          locate(in).maintenancePlan().map(a => InternalRow(str(a.kind),
            a.bucket.map(Int.box).orNull, a.rangeKey.map(str).orNull,
            a.ioBytes, a.score))
        })
      case "merge_tail" => Some(proc("merge_tail",
        "in-place tail-merge — collapse the unrouted tail delta files into " +
          "one fileset with no base fold and no routing (the streaming " +
          "sink's between-flush hygiene pass); returns whether it merged",
        Array(tableParam),
        new StructType().add("merged", BooleanType).add("version", LongType)) { in =>
          val t = locate(in)
          val merged = t.mergeTailDeltas()
          Seq(InternalRow(merged, t.currentVersion))
        })
      case "compact_tablet" => Some(proc("compact_tablet",
        "MAJOR-compact one tablet — O(tablet + deltas), never O(table)",
        Array(tableParam,
          ProcedureParameter.in("bucket", IntegerType).defaultValue("NULL").build(),
          ProcedureParameter.in("range_key", StringType).defaultValue("NULL").build()),
        new StructType().add("version", LongType)) { in =>
          val t = locate(in)
          t.compactTablet(
            bucket = if (in.isNullAt(1)) None else Some(in.getInt(1)),
            rangeKey = if (in.isNullAt(2)) None else Some(in.getUTF8String(2).toString))
          Seq(InternalRow(t.currentVersion))
        })
      case "table_statistics" => Some(proc("table_statistics",
        "on-disk size and live row count (kudu table statistics)",
        Array(tableParam),
        new StructType().add("on_disk_size_bytes", LongType)
          .add("live_row_count", LongType)) { in =>
          val t = locate(in)
          val m = t.meta
          val bytes = (m.baseFiles ++ m.deltaFiles)
            .map(f => GraftTable.fileSize(f.path)).sum
          // exact from footer counts when delta-free and un-masked
          // (the same fast path the V2 scan statistics use); otherwise
          // one count over the merge-on-read snapshot
          val rows =
            if (m.deltaFiles.isEmpty && m.rangeDrops.isEmpty &&
                m.baseFiles.forall(_.rows >= 0L)) m.baseFiles.map(_.rows).sum
            else t.scan().count()
          Seq(InternalRow(bytes, rows))
        })
      case "locate_row" => Some(proc("locate_row",
        "tablet coordinates (hash bucket, range key) for one primary key — " +
          "metadata-only, no scan (kudu table locate_row)",
        Array(tableParam,
          ProcedureParameter.in("key", StringType).build()), // col=val[,col=val...]
        new StructType().add("bucket", IntegerType).add("range_key", StringType)) { in =>
          val t = locate(in)
          val kvs = in.getUTF8String(1).toString.split(',').iterator
            .map(_.trim).filter(_.nonEmpty).map { p =>
              val i = p.indexOf('=')
              if (i < 0) throw new IllegalArgumentException(
                s"locate_row key format is col=val[,col=val...]: '$p'")
              p.take(i).trim -> p.drop(i + 1).trim
            }.toMap
          val (b, rk) = t.locateRow(kvs)
          Seq(InternalRow(b.map(Int.box).orNull, rk.map(str).orNull))
        })
      case "maintain" => Some(proc("maintain",
        "run the maintenance policy (fold when the delta ratio/file count trips)",
        Array(tableParam,
          ProcedureParameter.in("max_delta_ratio", DoubleType).defaultValue("0.2").build(),
          ProcedureParameter.in("max_delta_files", IntegerType).defaultValue("64").build(),
          ProcedureParameter.in("per_tablet", BooleanType).defaultValue("true").build()),
        new StructType().add("compacted", BooleanType)) { in =>
          Seq(InternalRow(locate(in).maintain(
            in.getDouble(1), in.getInt(2), perTablet = in.getBoolean(3))))
        })
      case "expire_versions" => Some(proc("expire_versions",
        "history retention GC (the ancient-history-mark analog): expire a " +
          "prefix of the version chain, keeping the newest retain_last " +
          "versions and anything younger than older_than_ms; deletes the " +
          "expired manifests and the data files only they referenced",
        Array(tableParam,
          ProcedureParameter.in("retain_last", IntegerType).defaultValue("1").build(),
          ProcedureParameter.in("older_than_ms", LongType).defaultValue("0").build()),
        new StructType().add("deleted", StringType)) { in =>
          locate(in).expireVersions(in.getInt(1), in.getLong(2))
            .map(p => InternalRow(str(p)))
        })
      case "maintain_schedule" => Some(proc("maintain_schedule",
        "schedule periodic background self-maintenance for a table (the " +
          "MaintenanceManager analog): each tick runs the budgeted scored " +
          "plan then the delta-ratio/file-count policy; racing writers " +
          "preempt safely (the tick retries next interval)",
        Array(tableParam,
          ProcedureParameter.in("interval_ms", LongType).defaultValue("60000").build(),
          ProcedureParameter.in("io_budget_bytes", LongType)
            .defaultValue((4L << 30).toString).build(),
          ProcedureParameter.in("min_score", DoubleType).defaultValue("0.05").build(),
          ProcedureParameter.in("max_delta_ratio", DoubleType).defaultValue("0.2").build(),
          ProcedureParameter.in("max_delta_files", IntegerType).defaultValue("64").build(),
          ProcedureParameter.in("history_retention_ms", LongType).defaultValue("NULL").build(),
          ProcedureParameter.in("analyze_every_versions", LongType).defaultValue("NULL").build()),
        new StructType().add("location", StringType).add("interval_ms", LongType)) { in =>
          val t = locate(in)
          val e = graft.table.MaintenanceScheduler.schedule(spark, t.location,
            intervalMs = in.getLong(1), ioBudgetBytes = in.getLong(2),
            minScore = in.getDouble(3), maxDeltaRatio = in.getDouble(4),
            maxDeltaFiles = in.getInt(5),
            historyRetentionMs = if (in.isNullAt(6)) None else Some(in.getLong(6)),
            analyzeEveryVersions = if (in.isNullAt(7)) None else Some(in.getLong(7)))
          Seq(InternalRow(str(e.location), e.intervalMs))
        })
      case "maintain_schedule_warehouse" => Some(proc("maintain_schedule_warehouse",
        "schedule periodic background maintenance for EVERY table under " +
          "this catalog's warehouse: each tick ranks candidate ops across " +
          "all tables and executes the best under one shared I/O budget " +
          "(the reference's maintenance manager prioritizes across all " +
          "tablets on a server the same way)",
        Array(
          ProcedureParameter.in("interval_ms", LongType).defaultValue("60000").build(),
          ProcedureParameter.in("io_budget_bytes", LongType)
            .defaultValue((4L << 30).toString).build(),
          ProcedureParameter.in("min_score", DoubleType).defaultValue("0.05").build(),
          ProcedureParameter.in("max_delta_ratio", DoubleType).defaultValue("0.2").build(),
          ProcedureParameter.in("max_delta_files", IntegerType).defaultValue("64").build(),
          ProcedureParameter.in("history_retention_ms", LongType).defaultValue("NULL").build()),
        new StructType().add("warehouse", StringType).add("interval_ms", LongType)) { in =>
          val e = graft.table.MaintenanceScheduler.scheduleWarehouse(spark,
            warehouse, intervalMs = in.getLong(0), ioBudgetBytes = in.getLong(1),
            minScore = in.getDouble(2), maxDeltaRatio = in.getDouble(3),
            maxDeltaFiles = in.getInt(4),
            historyRetentionMs = if (in.isNullAt(5)) None else Some(in.getLong(5)))
          Seq(InternalRow(str(e.location), e.intervalMs))
        })
      case "maintain_unschedule_warehouse" => Some(proc("maintain_unschedule_warehouse",
        "stop this catalog's warehouse-level maintenance schedule",
        Array.empty,
        new StructType().add("was_scheduled", BooleanType)) { _ =>
          Seq(InternalRow(
            graft.table.MaintenanceScheduler.unschedule(warehouse)))
        })
      case "maintain_unschedule" => Some(proc("maintain_unschedule",
        "stop a table's background maintenance schedule",
        Array(tableParam),
        new StructType().add("was_scheduled", BooleanType)) { in =>
          Seq(InternalRow(
            graft.table.MaintenanceScheduler.unschedule(locate(in).location)))
        })
      case "maintain_schedule_status" => Some(proc("maintain_schedule_status",
        "ticks/actions/last error of a table's maintenance schedule " +
          "(no rows when unscheduled)",
        Array(tableParam),
        new StructType().add("ticks", LongType).add("actions", LongType)
          .add("last_error", StringType)) { in =>
          graft.table.MaintenanceScheduler.status(locate(in).location).toSeq
            .map(e => InternalRow(e.ticks.get(), e.actions.get(),
              e.lastError.map(str).orNull))
        })
      case "delta_stats" => Some(proc("delta_stats",
        "per-tablet delta pressure (the compact_tablet pick list)",
        Array(tableParam),
        new StructType().add("tablet", StringType).add("delta_rows", LongType)
          .add("tombstones", LongType)) { in =>
          val t = locate(in)
          val hasBucket = t.meta.hash.nonEmpty
          t.deltaTabletStats().collect().toSeq.map { r =>
            val bucket = if (hasBucket) Seq(s"bucket=${r.getInt(0)}") else Nil
            val rk = if (t.meta.range.isDefined)
              Seq(s"range=${r.getString(if (hasBucket) 1 else 0)}") else Nil
            val n = r.length
            InternalRow(str((bucket ++ rk).mkString(",")),
              r.getLong(n - 2), r.getLong(n - 1))
          }
        })
      case "fsck" => Some(proc("fsck",
        "consistency audit (ksck analog); one row per issue, none = healthy",
        Array(tableParam), new StructType().add("issue", StringType)) { in =>
          graft.tools.GraftTools.fsck(locate(in).location)
            .map(i => InternalRow(str(i)))
        })
      case "fsck_repair" => Some(proc("fsck_repair",
        "delete orphan data files no snapshot references; one row per file",
        Array(tableParam,
          ProcedureParameter.in("older_than_ms", LongType)
            .defaultValue(graft.tools.GraftTools.FsckGraceMs.toString).build()),
        new StructType().add("deleted", StringType)) { in =>
          graft.tools.GraftTools.fsckRepair(locate(in).location,
            graceMs = in.getLong(1)).map(p => InternalRow(str(p)))
        })
      case "register" => Some(proc("register",
        "zero-copy register existing parquet as a graft table under the " +
          "warehouse — no rewrite; first-key footer bounds are recorded so " +
          "merge-on-read and PK pruning serve the files in place",
        Array(tableParam,
          ProcedureParameter.in("path", StringType).build(),
          ProcedureParameter.in("keys", StringType).build(), // comma-separated
          ProcedureParameter.in("hash_buckets", IntegerType).defaultValue("NULL").build(),
          ProcedureParameter.in("hash_cols", StringType).defaultValue("NULL").build()),
        new StructType().add("location", StringType).add("files", LongType)) { in =>
          val parts = in.getUTF8String(0).toString.split('.').toSeq
          val loc = parts.mkString(s"$warehouse/", "/", "")
          val keys = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val hash =
            if (in.isNullAt(3)) Nil
            else Seq(graft.catalog.HashComponent(
              if (in.isNullAt(4)) keys
              else in.getUTF8String(4).toString.split(',').map(_.trim).toSeq,
              in.getInt(3)))
          val t = GraftTable.register(spark, loc, parts.last,
            in.getUTF8String(1).toString, keys, hash)
          Seq(InternalRow(str(t.location), t.meta.baseFiles.size.toLong))
        })
      case "build_vector_index" => Some(proc("build_vector_index",
        "build a maintained IVF vector index over an engine table: every " +
          "vector lands L2-normalized in its nearest-medoid cell inside an " +
          "index table hash-partitioned on cell (ANN probes prune whole " +
          "buckets before any file opens), frozen centroids beside it; " +
          "refresh_vector_index keeps it current from the change stream",
        Array(tableParam,
          ProcedureParameter.in("id_col", StringType).build(),
          ProcedureParameter.in("vec_col", StringType).build(),
          ProcedureParameter.in("index_location", StringType).build(),
          ProcedureParameter.in("buckets", IntegerType).defaultValue("16").build()),
        new StructType().add("location", StringType).add("cells", LongType)) { in =>
          val idx = graft.tools.VectorIndex.build(spark, locate(in),
            in.getUTF8String(1).toString, in.getUTF8String(2).toString,
            in.getUTF8String(3).toString, in.getInt(4))
          val cells = graft.tools.VectorIndex.centroids(spark, idx).count()
          Seq(InternalRow(str(idx.location), cells))
        })
      case "refresh_vector_index" => Some(proc("refresh_vector_index",
        "incrementally refresh a vector index from its source table's " +
          "change stream: changed keys only (changesSince fast path), " +
          "re-assigned against the frozen centroids, committed as ONE " +
          "atomic transaction; no-op when the watermark is current",
        Array(ProcedureParameter.in("index_location", StringType).build()),
        new StructType().add("refreshed", BooleanType)
          .add("source_version", LongType)) { in =>
          val idx = GraftTable.load(spark, in.getUTF8String(0).toString)
          val did = graft.tools.VectorIndex.refresh(spark, idx)
          Seq(InternalRow(did,
            idx.properties(graft.tools.VectorIndex.SrcVersionKey).toLong))
        })
      case "build_rollup" => Some(proc("build_rollup",
        "build a CDC-maintained materialized rollup: GROUP BY group_cols " +
          "(primary-key columns of the source) with the given aggregate " +
          "expressions, persisted as an engine table hash-partitioned on " +
          "the group columns; refresh_rollup keeps it current with work " +
          "proportional to the touched groups. agg_aliases is " +
          "comma-separated, agg_exprs is ';'-separated, positionally paired",
        Array(tableParam,
          ProcedureParameter.in("group_cols", StringType).build(),
          ProcedureParameter.in("agg_aliases", StringType).build(),
          ProcedureParameter.in("agg_exprs", StringType).build(),
          ProcedureParameter.in("rollup_location", StringType).build(),
          ProcedureParameter.in("buckets", IntegerType).defaultValue("16").build()),
        new StructType().add("location", StringType).add("groups", LongType)) { in =>
          val aliases = in.getUTF8String(2).toString.split(',').map(_.trim).toSeq
          val exprs = in.getUTF8String(3).toString.split(';').map(_.trim).toSeq
          require(aliases.length == exprs.length,
            s"${aliases.length} aliases vs ${exprs.length} aggregate expressions")
          val r = graft.tools.MaterializedRollup.build(spark, locate(in),
            in.getUTF8String(1).toString.split(',').map(_.trim).toSeq,
            aliases.zip(exprs), in.getUTF8String(4).toString, in.getInt(5))
          Seq(InternalRow(str(r.location), r.scan().count()))
        })
      case "refresh_rollup" => Some(proc("refresh_rollup",
        "incrementally refresh a materialized rollup from its source " +
          "table's change stream: touched groups only, recomputed from the " +
          "live base through an IN-list-pruned scan, committed as ONE " +
          "atomic transaction; no-op when the watermark is current",
        Array(ProcedureParameter.in("rollup_location", StringType).build()),
        new StructType().add("refreshed", BooleanType)
          .add("source_version", LongType)) { in =>
          val r = GraftTable.load(spark, in.getUTF8String(0).toString)
          val did = graft.tools.MaterializedRollup.refresh(spark, r)
          Seq(InternalRow(did,
            r.properties(graft.tools.MaterializedRollup.SrcVersionKey).toLong))
        })
      case "rollup_status" => Some(proc("rollup_status",
        "freshness introspection for a materialized rollup: its source, " +
          "the source-version watermark the last refresh recorded, the " +
          "source's current version, and whether the rollup is FRESH (the " +
          "query rewrite serves only when fresh; stale means mutations " +
          "landed since the last refresh tick)",
        Array(ProcedureParameter.in("rollup_location", StringType).build()),
        new StructType().add("source", StringType)
          .add("watermark", LongType).add("source_version", LongType)
          .add("fresh", BooleanType).add("groups", LongType)) { in =>
          val r = GraftTable.load(spark, in.getUTF8String(0).toString)
          val p = r.properties
          val srcLoc = p.getOrElse(graft.tools.MaterializedRollup.SrcLocKey,
            throw new IllegalArgumentException(
              s"${r.location} is not a materialized rollup"))
          val wm = p(graft.tools.MaterializedRollup.SrcVersionKey).toLong
          val cur = graft.catalog.TableMeta.currentVersion(srcLoc)
          Seq(InternalRow(str(srcLoc), wm, cur, wm == cur,
            r.scan().count()))
        })
      case "derived_status" => Some(proc("derived_status",
        "freshness introspection for EVERY derived table under this " +
          "catalog's warehouse — materialized rollups, secondary indexes, " +
          "vector indexes: its kind, its source, the source-version " +
          "watermark the last refresh recorded, the source's current " +
          "version, and whether it is FRESH (the query rewrites serve " +
          "only when fresh; the maintenance scheduler's ticks keep these " +
          "true in the background)",
        Array.empty,
        new StructType().add("location", StringType).add("kind", StringType)
          .add("source", StringType).add("watermark", LongType)
          .add("source_version", LongType).add("fresh", BooleanType)) { _ =>
          graft.tools.GraftTools
            .listWarehouseTables(java.nio.file.Paths.get(warehouse),
              includeHidden = true) // .roll/.sidx conventions
            .map(_.toString).sorted
            .flatMap { loc =>
              try {
                val p = GraftTable.load(spark, loc).properties
                Seq(
                  graft.tools.MaterializedRollup.SrcLocKey ->
                    ("rollup", graft.tools.MaterializedRollup.SrcVersionKey),
                  graft.tools.SecondaryIndex.SrcLocKey ->
                    ("secondary_index", graft.tools.SecondaryIndex.SrcVersionKey),
                  graft.tools.VectorIndex.SrcLocKey ->
                    ("vector_index", graft.tools.VectorIndex.SrcVersionKey))
                  .collectFirst { case (srcKey, (kind, wmKey)) if p.contains(srcKey) =>
                    val srcLoc = p(srcKey)
                    val wm = p(wmKey).toLong
                    val cur = graft.catalog.TableMeta.currentVersion(srcLoc)
                    InternalRow(str(loc), str(kind), str(srcLoc), wm, cur,
                      wm == cur)
                  }
              } catch { case _: Exception => None } // a sick table ≠ a dead report
            }
        })
      case "serving_stats" => Some(proc("serving_stats",
        "usage counters for THIS session's transparent serving rewrites " +
          "(indexes and rollups): how many queries each derived table " +
          "actually served (and through which path — point/range/" +
          "covering/topk/union/join/rollup), how many times it declined " +
          "STALE (refresh lag — the number to watch), declined over the " +
          "key BOUND (the workload outgrew the point-read posture), or " +
          "declined on a real probe ERROR (a sick index degrading " +
          "observably). An index that never serves is a candidate for " +
          "dropping; counters are session-scoped, like the arming itself",
        Array.empty,
        new StructType().add("location", StringType)
          .add("serves", LongType).add("stale_declines", LongType)
          .add("bound_declines", LongType).add("error_declines", LongType)
          .add("last_path", StringType)) { _ =>
          graft.plans.ServingStats.snapshot(spark).map { case (loc, c) =>
            InternalRow(str(loc), c.serves, c.staleDeclines,
              c.boundDeclines, c.errorDeclines, str(c.lastPath))
          }
        })
      case "enable_rollup_rewrite" => Some(proc("enable_rollup_rewrite",
        "arm the materialized-view query rewrite for an EXISTING rollup in " +
          "this session (build_rollup arms its own session automatically): " +
          "matching GROUP BYs over the base — exact grouping or any subset " +
          "of the group columns — are answered from the rollup while its " +
          "watermark sits at the base's current version; a stale rollup " +
          "never serves",
        Array(ProcedureParameter.in("rollup_location", StringType).build()),
        new StructType().add("enabled", BooleanType)
          .add("source", StringType)) { in =>
          val r = GraftTable.load(spark, in.getUTF8String(0).toString)
          val srcLoc = r.properties.getOrElse(
            graft.tools.MaterializedRollup.SrcLocKey,
            throw new IllegalArgumentException(
              s"${r.location} is not a materialized rollup"))
          graft.plans.ServingRewrites.arm(spark, r)
          Seq(InternalRow(true, str(srcLoc)))
        })
      case "build_secondary_index" => Some(proc("build_secondary_index",
        "build a maintained secondary index on non-key columns (comma-" +
          "separated, lead first) OR on a deterministic scalar expression " +
          "(e.g. 'lower(c_name)' — a functional index): an engine table " +
          "keyed (lead, pk) hash-partitioned on the lead — equality/IN " +
          "probes prune to the lead's buckets, trailing columns ride as " +
          "payload for composite conjunctions; refresh_secondary_index " +
          "keeps it current from the change stream",
        Array(tableParam,
          ProcedureParameter.in("col", StringType).build(),
          ProcedureParameter.in("index_location", StringType).build(),
          ProcedureParameter.in("buckets", IntegerType).defaultValue("16").build(),
          // range-heavy workloads: value-cluster at build time (lead-mode
          // slabs, persisted — compactions keep the layout; the
          // maintenance policy would get there anyway, this skips the
          // interim hash-layout window)
          ProcedureParameter.in("clustered", BooleanType)
            .defaultValue("false").build()),
        new StructType().add("location", StringType).add("entries", LongType)) { in =>
          val spec = in.getUTF8String(1).toString
          val clustered = !in.isNullAt(4) && in.getBoolean(4)
          val idx =
            if (spec.contains("(")) // an expression, not a column list
              graft.tools.SecondaryIndex.buildExpression(spark, locate(in),
                spec, in.getUTF8String(2).toString, in.getInt(3),
                clustered = clustered)
            else graft.tools.SecondaryIndex.build(spark, locate(in),
              spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
              in.getUTF8String(2).toString, in.getInt(3),
              clustered = clustered)
          Seq(InternalRow(str(idx.location), idx.scan().count()))
        })
      case "refresh_secondary_index" => Some(proc("refresh_secondary_index",
        "incrementally refresh a secondary index from its source table's " +
          "change stream: mutated keys re-derive their entries, stale " +
          "entries tombstone, committed as ONE atomic transaction; no-op " +
          "when the watermark is current",
        Array(ProcedureParameter.in("index_location", StringType).build()),
        new StructType().add("refreshed", BooleanType)
          .add("source_version", LongType)) { in =>
          val idx = GraftTable.load(spark, in.getUTF8String(0).toString)
          val did = graft.tools.SecondaryIndex.refresh(spark, idx)
          Seq(InternalRow(did,
            idx.properties(graft.tools.SecondaryIndex.SrcVersionKey).toLong))
        })
      case "backup" => Some(proc("backup",
        "full backup: export a snapshot (head or an explicit version) as " +
          "plain parquet rows at out_path — the chain base restore_chain " +
          "replays increments onto (kudu-backup full backup analog)",
        Array(tableParam,
          ProcedureParameter.in("out_path", StringType).build(),
          ProcedureParameter.in("version", LongType).defaultValue("NULL").build()),
        new StructType().add("path", StringType).add("version", LongType)) { in =>
          val t = locate(in)
          val v = if (in.isNullAt(2)) t.currentVersion else in.getLong(2)
          graft.tools.GraftTools.backup(t, in.getUTF8String(1).toString, Some(v))
          Seq(InternalRow(str(in.getUTF8String(1).toString), v))
        })
      case "backup_incremental" => Some(proc("backup_incremental",
        "incremental backup: export the logical changes in (from_version, " +
          "head] as parquet rows carrying _action UPSERT|DELETE (the " +
          "RowAction export); returns head — the next increment's " +
          "from_version, forming the chain",
        Array(tableParam,
          ProcedureParameter.in("out_path", StringType).build(),
          ProcedureParameter.in("from_version", LongType).build()),
        new StructType().add("path", StringType).add("head", LongType)) { in =>
          val head = graft.tools.GraftTools.backupIncremental(locate(in),
            in.getUTF8String(1).toString, in.getLong(2))
          Seq(InternalRow(str(in.getUTF8String(1).toString), head))
        })
      case "restore_chain" => Some(proc("restore_chain",
        "restore a full backup then replay incrementals IN ORDER " +
          "(increments = comma-separated paths, oldest first) into a new " +
          "table under the warehouse",
        Array(tableParam, // destination table name
          ProcedureParameter.in("full_path", StringType).build(),
          ProcedureParameter.in("keys", StringType).build(), // comma-separated
          // optional params come last (Spark rearranges named args)
          ProcedureParameter.in("increments", StringType).defaultValue("''").build(),
          ProcedureParameter.in("hash_buckets", IntegerType).defaultValue("NULL").build()),
        new StructType().add("location", StringType).add("version", LongType)) { in =>
          val parts = in.getUTF8String(0).toString.split('.').toSeq
          val loc = parts.mkString(s"$warehouse/", "/", "")
          val incs = in.getUTF8String(3).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val keys = in.getUTF8String(2).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          val hash = if (in.isNullAt(4)) Nil
            else Seq(graft.catalog.HashComponent(keys, in.getInt(4)))
          val t = graft.tools.GraftTools.restoreChain(spark,
            in.getUTF8String(1).toString, incs, loc, keys, hash)
          Seq(InternalRow(str(t.location), t.currentVersion))
        })
      case "apply_changes" => Some(proc("apply_changes",
        "apply a CDC-shaped batch (the SELECT must yield the table's " +
          "columns plus a _deleted BOOLEAN — the shape diff scans and " +
          "incremental exports carry, at most one action per key) as ONE " +
          "atomic commit: upserts plus ignore-tombstones under a single " +
          "snapshot version — the replication/restore apply primitive",
        Array(tableParam,
          ProcedureParameter.in("changes_sql", StringType).build()),
        new StructType().add("version", LongType)) { in =>
          val t = locate(in)
          // applyChanges is the trust-the-source fast path: it skips the
          // immutable-column re-check upsert performs (the rows of an
          // engine-produced change stream already passed it at the source).
          // Arbitrary SQL has passed no such check — letting it through
          // here would let any caller overwrite a setImmutable column, so
          // the SQL face refuses when the table declares immutables.
          val immutables = t.meta.columns.filter(c => c.immutable && !c.isKey)
          if (immutables.nonEmpty)
            throw new UnsupportedOperationException(
              s"apply_changes on ${t.meta.name}: table declares immutable " +
                s"column(s) ${immutables.map(_.name).mkString(", ")} — the " +
                "CDC apply path skips immutability validation; use " +
                "upsert/delete, or replicate from a graft source table")
          t.applyChanges(spark.sql(in.getUTF8String(1).toString))
          Seq(InternalRow(t.currentVersion))
        })
      case "replicate" => Some(proc("replicate",
        "one-shot replication relay: apply the source's changes since the " +
          "destination's recorded version (both tables of this warehouse); " +
          "returns the new head to resume from — bootstrap the destination " +
          "from a snapshot first, the change stream never emits the " +
          "initial load",
        Array(tableParam, // source
          ProcedureParameter.in("dest", StringType).build(),
          ProcedureParameter.in("since_version", LongType).build()),
        new StructType().add("head", LongType)) { in =>
          val destParts = in.getUTF8String(1).toString.split('.').toSeq
          val dest = GraftTable.load(spark,
            destParts.mkString(s"$warehouse/", "/", ""))
          Seq(InternalRow(graft.tools.GraftTools.replicate(
            locate(in), dest, in.getLong(2))))
        })
      case "txn_begin" => Some(proc("txn_begin",
        "open a scoped transaction on the table; returns the handle id",
        Array(tableParam), new StructType().add("txn_id", StringType)) { in =>
          Seq(InternalRow(str(graft.table.GraftTxnRegistry.begin(locate(in)))))
        })
      case "txn_insert" => Some(txnStage("txn_insert",
        "stage a strict INSERT (commit errors if any key already exists)")(
        (txn, df) => txn.insert(df)))
      case "txn_upsert" => Some(txnStage("txn_upsert",
        "stage an UPSERT (insert-or-replace)")((txn, df) => txn.upsert(df)))
      case "txn_delete" => Some(txnStage("txn_delete",
        "stage a strict DELETE by key rows (commit errors if any key is missing)")(
        (txn, df) => txn.delete(df)))
      case "txn_commit" => Some(proc("txn_commit",
        "commit every staged op as ONE snapshot version, all-or-nothing",
        Array(txnIdParam), new StructType().add("version", LongType)) { in =>
          Seq(InternalRow(graft.table.GraftTxnRegistry.commit(
            in.getUTF8String(0).toString)))
        })
      case "txn_abort" => Some(proc("txn_abort",
        "discard the staged ops and release the transaction handle",
        Array(txnIdParam), new StructType().add("aborted", BooleanType)) { in =>
          Seq(InternalRow(graft.table.GraftTxnRegistry.abort(
            in.getUTF8String(0).toString)))
        })
      case _ => None
    }
  }

  private def txnIdParam: ProcedureParameter =
    ProcedureParameter.in("txn_id", StringType).build()

  /** A staging verb: resolves `query` with spark.sql and hands the (lazy)
    * frame to the open transaction — rows materialize once, at commit,
    * inside the transaction's validation pass. */
  private def txnStage(pname: String, desc: String)(
      stage: (graft.table.GraftTxn, org.apache.spark.sql.DataFrame) => Unit)
      : UnboundProcedure =
    proc(pname, desc,
      Array(txnIdParam, ProcedureParameter.in("query", StringType).build()),
      new StructType().add("staged", StringType)) { in =>
      val df = spark.sql(in.getUTF8String(1).toString)
      graft.table.GraftTxnRegistry.stage(in.getUTF8String(0).toString)(stage(_, df))
      Seq(InternalRow(str(pname.stripPrefix("txn_"))))
    }
}
