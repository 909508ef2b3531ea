package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{HashComponent, RangeComponent}
import graft.table.GraftTable

/**
 * Ecosystem operations mirroring the reference's tools layer (SURVEY.md §2.5):
 *  - [[copyTable]]   `kudu table copy` (tools/table_scanner.cc:823-1045, E2)
 *  - [[loadgen]]     `kudu perf loadgen` / DistributedDataGenerator
 *                    (tools/tool_action_perf.cc:37-94, E4)
 *  - [[importCsv]] / [[exportCsv]] / [[importParquet]] / [[exportParquet]]
 *                    ImportExportFiles (kudu-spark-tools, E5)
 *  - [[backup]] / [[restore]]  full backup to parquet + restore
 *                    (kudu-backup/.../KuduBackup.scala:36-110, E3; incremental
 *                    backup = GraftTable.changes / GraftStreaming.changeStream)
 *  - [[maintainWarehouse]]  maintenance-manager sweep over every table of a
 *                    warehouse (util/maintenance_manager.h)
 */
object GraftTools {

  /** Default orphan-deletion grace window (1 h): an unreferenced data file
    * younger than this may belong to an in-flight commit (fileset is
    * written before the metadata swing) and is never touched. */
  val FsckGraceMs: Long = 60L * 60 * 1000

  /**
   * `kudu table scan` JSON predicate grammar (E1 —
   * tools/table_scanner.cc:113-131): a structured predicate surface that
   * needs no SQL parser on the caller's side.
   *  - Comparison: `["<=" | "<" | "=" | ">" | ">=", column, value]`
   *  - InList:     `["IN", column, [v1, v2, ...]]`
   *  - IsNull:     `["NULL", column]` / `["NOTNULL", column]`
   *  - Conjunction: `["AND", pred, pred, ...]` (the only combiner, as in
   *    the reference)
   * Returns the filter as a Column; [[scanTable]] applies it through the
   * engine read path, where Catalyst pushes it into partition/file pruning
   * and the parquet scans like any other predicate.
   */
  def parsePredicates(json: String): org.apache.spark.sql.Column = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def scalaVal(v: JValue): Any = v match {
      case JString(s) => s
      case JInt(i) => i.longValue
      case JLong(l) => l
      case JDouble(d) => d
      case JDecimal(d) => d.doubleValue
      case JBool(b) => b
      case other => throw new IllegalArgumentException(s"unsupported literal: $other")
    }
    def build(v: JValue): org.apache.spark.sql.Column = v match {
      case JArray(JString("AND") :: preds) if preds.nonEmpty =>
        preds.map(build).reduce(_ && _)
      case JArray(List(JString("NULL"), JString(c))) => col(c).isNull
      case JArray(List(JString("NOTNULL"), JString(c))) => col(c).isNotNull
      case JArray(List(JString("IN"), JString(c), JArray(vs))) =>
        col(c).isin(vs.map(scalaVal): _*)
      case JArray(List(JString(op), JString(c), value)) =>
        val l = lit(scalaVal(value))
        op match {
          case "="  => col(c) === l
          case "<"  => col(c) < l
          case "<=" => col(c) <= l
          case ">"  => col(c) > l
          case ">=" => col(c) >= l
          case other => throw new IllegalArgumentException(s"unknown operator: $other")
        }
      case other =>
        throw new IllegalArgumentException(s"unparseable predicate: $other")
    }
    build(JsonMethods.parse(json))
  }

  /** `kudu table scan`: project + filter a table through the engine read
    * path using the JSON predicate grammar (E1). */
  def scanTable(table: GraftTable, predicatesJson: Option[String] = None,
      columns: Seq[String] = Nil): DataFrame = {
    val base = table.scan()
    val filtered = predicatesJson.fold(base)(j => base.filter(parsePredicates(j)))
    if (columns.isEmpty) filtered else filtered.select(columns.map(col): _*)
  }

  /** Copy a table's current snapshot into a new graft table (same schema,
    * PK, and partitioning; write-type = bulk load). */
  def copyTable(spark: SparkSession, src: GraftTable, destLocation: String): GraftTable = {
    val m = src.meta
    GraftTable.create(spark, destLocation, m.name,
      org.apache.spark.sql.types.StructType(m.visibleColumns.map(_.toField)),
      m.userKeyCols, m.hash, m.range,
      data = Some(src.scan()), nonUniqueKey = m.hasAutoInc)
  }

  /** Deterministic data generator on `spark.range` — sequential or
    * pseudo-random (hash-scrambled) rows, as the reference's loadgen modes. */
  def loadgen(spark: SparkSession, rows: Long, random: Boolean = false): DataFrame = {
    val base = spark.range(rows).toDF("id")
    if (!random)
      base.select(col("id"), col("id").cast("string").as("payload"))
    else
      base.select(
        col("id"),
        abs(xxhash64(col("id"))).cast("string").as("payload"))
  }

  def importCsv(spark: SparkSession, csvPath: String, table: GraftTable): Unit =
    table.upsert(spark.read.option("header", "true")
      .schema(org.apache.spark.sql.types.StructType(table.meta.visibleColumns.map(_.toField)))
      .csv(csvPath))

  def exportCsv(table: GraftTable, outPath: String): Unit =
    table.scan().write.option("header", "true").mode("overwrite").csv(outPath)

  def importParquet(spark: SparkSession, path: String, table: GraftTable): Unit =
    table.upsert(spark.read.parquet(path))

  def exportParquet(table: GraftTable, outPath: String): Unit =
    table.scan().write.mode("overwrite").parquet(outPath)

  /** ORC import/export (E5): the distribution ships the ORC datasource,
    * so the interchange surface covers the other columnar warehouse
    * format too (Avro's external module is absent — COVERAGE.md E5).
    * Same contract as CSV: the engine-side schema wins on import. */
  def importOrc(spark: SparkSession, path: String, table: GraftTable): Unit = {
    val cols = table.meta.visibleColumns.map(c =>
      col(c.name).cast(c.dataType).as(c.name))
    table.upsert(spark.read.orc(path).select(cols: _*))
  }

  def exportOrc(table: GraftTable, outPath: String): Unit =
    table.scan().write.mode("overwrite").orc(outPath)

  /** Full backup: snapshot export to plain parquet (our storage IS parquet,
    * so backup = materialized snapshot; E3). */
  def backup(table: GraftTable, outPath: String, version: Option[Long] = None): Unit = {
    val snap = table.scan(version)
    // small snapshot → one static-planned export job; big ones keep AQE
    writeBackup(GraftTable.planned(snap,
      Some(GraftTable.planBytes(snap, GraftTable.StaticPlanBytes))), outPath)
  }

  /** Writes `rows` as the parquet files of the backup at `outPath`,
    * through the engine's local file system settings
    * (GraftSqlBridge.localWriteFs). */
  private def writeBackup(rows: DataFrame, outPath: String): Unit =
    rows.write.options(org.apache.spark.sql.GraftSqlBridge.localWriteFs)
      .mode("overwrite").parquet(outPath)

  /**
   * Incremental backup (E3 — the reference exports diff-scan rows with a
   * RowAction per row, kudu-backup KuduBackup.scala:36-110 +
   * RowAction.scala:18-30): the logical changes in (fromVersion, head]
   * land as parquet rows carrying `_action` (UPSERT | DELETE) for ordered
   * replay by [[restoreChain]]. Returns head — the next increment's
   * fromVersion, forming the backup chain.
   */
  def backupIncremental(table: GraftTable, outPath: String, fromVersion: Long,
      toVersion: Option[Long] = None): Long = {
    // explicit toVersion pins the increment's upper bound (scheduled chains
    // capture consistent cuts regardless of concurrent commits); default =
    // the head at call time
    val head = toVersion.getOrElse(table.currentVersion)
    // Non-unique-PK (auto-inc hidden key) sources are not chain-restorable:
    // the CDC export does not carry the hidden id, so restoreChain's
    // per-user-key fold would pick among this key's concurrent rows
    // nondeterministically and applyChanges would then fail late demanding
    // the id. Fail HERE, where the operator can still choose full backups.
    if (table.meta.hasAutoInc)
      throw new IllegalArgumentException(
        s"backup chain unsupported for ${table.meta.name}: non-unique-PK " +
          "(auto-incrementing) tables are not chain-restorable — use full " +
          "backups (GraftTools.backup / CALL system.backup) instead")
    // chain-specific face on the history floor: the generic "version
    // expired" error doesn't tell the operator WHAT to do about a backup
    // chain whose base predates retention GC
    val floor = table.meta.historyFloor
    if (fromVersion < floor)
      throw new IllegalArgumentException(
        s"backup chain broken for ${table.meta.name}: increment base " +
          s"v$fromVersion fell below the history floor v$floor " +
          "(expireVersions reclaimed it) — take a new FULL backup and " +
          "restart the chain, and size history retention " +
          "(maintain_schedule history_retention_ms / retain_last) to " +
          "cover at least one backup interval")
    // delta-only CDC fast path (falls back to the logical snapshot diff
    // internally when a compaction separates the versions). It may emit an
    // upsert whose value never changed — a mutation the physical diff saw —
    // which replays idempotently, so the chain's end state is identical.
    // a manifest-known-tiny window exports under ONE static plan (the CDC
    // fold exchange is delta-byte-sized; AQE only splits the export into
    // per-stage jobs); snapshot-diff or backfill windows keep AQE
    writeBackup(GraftTable.planned(table.changesSince(fromVersion, head)
      .withColumn("_action", when(col("_deleted"), "DELETE").otherwise("UPSERT"))
      .drop("_deleted"), table.cdcWindowBytes(fromVersion, head).map(BigInt(_))), outPath)
    head
  }

  /** Restore a full backup then replay the incremental chain — upserts as
    * upserts, deletes as ignore-deletes (RowAction replay, kudu-backup
    * KuduRestore.scala). The whole chain FOLDS by key before the table is
    * touched: replay order only matters PER KEY (each increment is already
    * latest-per-key for its version span — [[backupIncremental]] exports a
    * folded diff), so the chain-LAST action per key is the only one that
    * can survive sequential replay. One shuffle over the unioned increments
    * replaces 2 commit jobs per increment — at a 10-step chain the
    * per-step job floor dominated the restore, and at 100 TB the fold
    * also writes each tablet once instead of once per increment. */
  def restoreChain(spark: SparkSession, fullBackupPath: String,
      incrementPaths: Seq[String], destLocation: String, keys: Seq[String],
      hash: Seq[HashComponent] = Nil, range: Option[RangeComponent] = None): GraftTable = {
    val t = restore(spark, fullBackupPath, destLocation, keys, hash, range)
    if (t.meta.hasAutoInc)
      throw new IllegalArgumentException(
        s"restoreChain unsupported for ${t.meta.name}: non-unique-PK " +
          "(auto-incrementing) tables fold ambiguously on user keys — " +
          "restore from a full backup instead")
    if (incrementPaths.isEmpty) return t
    // Per-increment schemas from the footers, DRIVER-SIDE (zero Spark
    // jobs — per-path spark.read inference is a job each, and pinning
    // every increment to the first one's schema would break chains that
    // span an ALTER: a widening rewrite makes later files physically
    // INT64 where the first was INT32, and an added column would be
    // silently projected away). Each increment reads under its own
    // schema and casts to the LAST increment's (the chain's final shape);
    // columns born mid-chain read as null for older increments — the same
    // rows sequential replay would have upserted without the column.
    def incSchema(dir: String): Option[org.apache.spark.sql.types.StructType] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(dir)
      val part = scala.util.Using.resource(java.nio.file.Files.list(d)) { s =>
        s.iterator().asScala.map(_.toString)
          .filter(_.endsWith(".parquet")).toSeq.sorted.headOption
      }
      part.map(p =>
        org.apache.spark.sql.GraftSqlBridge.parquetFileFooter(spark, p)._1)
    }
    val withSchemas = incrementPaths.zipWithIndex
      .flatMap { case (p, i) => incSchema(p).map(sc => (p, i, sc)) }
    if (withSchemas.isEmpty) return t // every increment was empty
    // total on-disk increment bytes, driver-side: a small chain folds and
    // applies under ONE static plan per action (the fold window's exchange
    // is sized below; AQE only splits the replay into per-stage jobs)
    val incBytes = withSchemas.map { case (p, _, _) =>
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(
        java.nio.file.Paths.get(p))) { s =>
        s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(f => try java.nio.file.Files.size(f) catch { case _: Exception => 0L })
          .sum
      }
    }.sum
    val finalSchema = withSchemas.last._3
    val tagged = withSchemas.map { case (p, i, sc) =>
      spark.read.schema(sc).parquet(p)
        .select(finalSchema.map { f =>
          (if (sc.fieldNames.contains(f.name)) col(f.name).cast(f.dataType)
          else lit(null).cast(f.dataType)).as(f.name)
        }: _*)
        .withColumn("_ord", lit(i))
    }.reduce(_ unionByName _)
    // size the chain fold's exchange by the increments' on-disk bytes —
    // same derivation as the CDC fold; the explicit hash repartition
    // satisfies the window's required distribution (exchange count
    // unchanged, width byte-derived instead of the session constant)
    val foldParts = math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt.toLong,
      (incBytes + (64L << 20) - 1) / (64L << 20))).toInt
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col("_ord").desc)
    // cached across its two consumers (upsert + delete branches would each
    // recompute the union + window), released before returning — a pinned
    // localCheckpoint here leaked blocks across bench iterations
    val last = GraftTable.persisted(tagged.repartition(foldParts, keys.map(col): _*)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_rn", "_ord"), Some(BigInt(incBytes)))
    try {
      // one atomic apply: upserts + ignore-tombstones in a single commit
      // (deletes are never strict — a key born in one increment and dead in
      // a later one folds to DELETE yet never existed in the full backup)
      val folded = last
        .withColumn("_deleted", col("_action") === "DELETE").drop("_action")
      if (GraftTable.planned(folded.limit(1), Some(BigInt(incBytes))).count() > 0)
        t.applyChanges(folded, sizeHintBytes = Some(incBytes))
      t
    } finally last.unpersist(blocking = false)
  }

  /** One-shot replication: apply all changes between the destination's
    * recorded source version and the source's head (E6, java/kudu-replication
    * — continuous mode = GraftStreaming.changeStream → upsertSink relay). */
  def replicate(src: GraftTable, dest: GraftTable, sinceVersion: Long): Long = {
    val head = src.currentVersion
    if (head > sinceVersion) {
      // delta-only fast path with automatic snapshot-diff fallback; an
      // unchanged-value upsert it emits replays idempotently on dest.
      // ONE emptiness probe + ONE atomic apply (upserts + ignore-tombstones
      // in a single commit) — the relay's former per-op-kind commits cost
      // job floors, not data; the persist spans the probe and the apply.
      // A manifest-known-tiny window (the steady-state relay tick) runs
      // probe + apply under ONE static plan per action (see
      // backupIncremental).
      val winBytes = src.cdcWindowBytes(sinceVersion, head)
      val inputBytes = winBytes.map(BigInt(_))
      val delta = GraftTable.persisted(src.changesSince(sinceVersion, head), inputBytes)
      try {
        if (GraftTable.planned(delta.limit(1), inputBytes).count() > 0)
          dest.applyChanges(delta, sizeHintBytes = winBytes)
      } finally delta.unpersist(blocking = false)
    }
    head
  }

  /** Warehouse-wide maintenance sweep — the process analog of the
    * reference's maintenance manager (util/maintenance_manager.h: one
    * budgeted loop ranking ops across all tablets): runs the table-level
    * maintenance policy over every graft table under `warehouseDir`, per
    * tablet when `perTablet` (the 100 TB posture — see
    * [[graft.table.GraftTable.compactTablet]]). A table that fails or is
    * preempted never stops the sweep. Returns (tableName → compacted). */
  def maintainWarehouse(spark: SparkSession, warehouseDir: String,
      maxDeltaRatio: Double = 0.2, maxDeltaFiles: Int = 64,
      perTablet: Boolean = true, parallelism: Int = 4): Map[String, Boolean] = {
    val root = java.nio.file.Paths.get(warehouseDir)
    val tables = listWarehouseTables(root)
    def one(p: java.nio.file.Path): (String, Boolean) = {
      val ran =
        try GraftTable.load(spark, p.toString)
          .maintain(maxDeltaRatio, maxDeltaFiles, perTablet = perTablet)
        catch { case _: Exception => false } // sweep on: one sick table ≠ a dead loop
      root.relativize(p).toString -> ran
    }
    // Distinct tables commit independently, so their folds run CONCURRENTLY
    // on a bounded driver pool (the reference's maintenance manager runs a
    // worker pool over tablets, util/maintenance_manager.h) — a warehouse
    // sweep of K dirty tables costs max(fold) wall, not sum(fold). A fold
    // racing a foreground writer on its own table still yields (maintain's
    // contract); distinct locations cannot conflict.
    val par = math.max(1, math.min(parallelism, tables.size))
    if (par <= 1) tables.map(one).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par,
        (r: Runnable) => {
          val t = new Thread(r, "graft-maintain-wh")
          t.setDaemon(true)
          t
        })
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(tables.map(p =>
          (() => one(p)): java.util.concurrent.Callable[(String, Boolean)]).asJava)
          .asScala.map(_.get()).toMap
      } finally pool.shutdown()
    }
  }

  /** Every graft table under a warehouse directory, recursing into
    * NAMESPACE subdirectories (a namespace is any visible non-table dir —
    * see GraftCatalog's SupportsNamespaces): a sweep that lists only the
    * top level would silently skip `ns.table`s. Dot-dirs (`.staging`,
    * trash) never count, and tables never nest inside tables
    * (requireNoTablePrefix), so recursion stops at the first manifest. */
  /** Engine tables under `root`, recursing through namespace dirs.
    * Dot-directories are skipped by default (they are invisible to SQL
    * listings); `includeHidden = true` recurses into them too — EXCEPT
    * `.staging` (in-flight CTAS/RTAS must never be swept as tables) —
    * which is what the derived-table surfaces need: the SQL faces park
    * rollups/indexes under `.roll`/`.sidx` by convention, and a
    * freshness sweep, a serving-rewrite arming pass, or a status report
    * that cannot see them would silently uncover every SQL-built derived
    * table in any later session. */
  /** True when `dir` IS the system temp root — with symlinks RESOLVED
    * (macOS /tmp -> /private/tmp: a warehouse set to one spelling while
    * java.io.tmpdir reports the other must still match, or the crawl
    * guards in armFromWarehouse/autoScheduleWarehouse silently lapse). */
  private[graft] def isTmpRoot(dir: String): Boolean = {
    def real(p: java.nio.file.Path): java.nio.file.Path =
      try p.toRealPath() catch { case _: Exception => p.toAbsolutePath.normalize }
    real(java.nio.file.Paths.get(dir)) ==
      real(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir", "/tmp")))
  }

  private[graft] def listWarehouseTables(root: java.nio.file.Path,
      includeHidden: Boolean = false, maxDepth: Int = 32,
      maxTables: Int = Int.MaxValue): Seq[java.nio.file.Path] =
    listWarehouseTablesEx(root, includeHidden, maxDepth, maxTables)._1

  /** As [[listWarehouseTables]], also reporting whether the DEPTH cap
    * pruned any directory (true = subtrees deeper than `maxDepth` were
    * never visited, so tables may have been silently skipped — callers
    * with user-facing coverage claims should surface it). */
  private[graft] def listWarehouseTablesEx(root: java.nio.file.Path,
      includeHidden: Boolean = false, maxDepth: Int = 32,
      maxTables: Int = Int.MaxValue): (Seq[java.nio.file.Path], Boolean) = {
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.ArrayBuffer[java.nio.file.Path]()
    var depthPruned = false
    // depth/count caps: a warehouse mis-rooted at a shared directory
    // (tests pointing it at a temp dir's PARENT, i.e. /tmp) must not make
    // every catalog open recurse unbounded unrelated trees. Real
    // warehouses are shallow (namespaces) and finite; callers on hot
    // open paths pass tighter caps (ServingRewrites.armFromWarehouse).
    def walk(dir: java.nio.file.Path, depth: Int): Unit = {
      if (depth > maxDepth) { depthPruned = true; return }
      if (out.size >= maxTables) return
      if (!java.nio.file.Files.isDirectory(dir)) return
      val children = scala.util.Using.resource(java.nio.file.Files.list(dir)) {
        s => s.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            java.nio.file.Files.isDirectory(p) &&
              (if (n.startsWith("."))
                includeHidden && n != ".staging"
              else true)
          }.toSeq
      }
      children.foreach { p =>
        if (out.size < maxTables) {
          if (graft.catalog.TableMeta.exists(p.toString)) {
            // soft-deleted tables refuse load(); the sweep skips them
            // instead of logging a failure every tick until recall/purge
            if (!GraftTable.isTrashed(p.toString)) out += p
          } else walk(p, depth + 1)
        }
      }
    }
    walk(root, 0)
    (out.toSeq, depthPruned)
  }

  /**
   * Warehouse-level budgeted maintenance — the maintenance-MANAGER analog
   * (util/maintenance_manager.h ranks candidate ops across every tablet
   * and launches the best under resource limits): collect each table's
   * metadata-only [[GraftTable.maintenancePlan]], merge into ONE ranked
   * list, and execute greedily until the global I/O budget is spent. The
   * most delta-pressured tablet in the whole warehouse folds first, no
   * matter which table it belongs to. Returns (table, action) pairs in
   * execution order.
   */
  def maintainWarehouseBudgeted(spark: SparkSession, warehouseDir: String,
      ioBudgetBytes: Long): Seq[(String, graft.table.MaintenanceAction)] =
    maintainWarehouseBudgeted(spark, warehouseDir, ioBudgetBytes, 0.0)

  /** As above with a score floor — candidates below `minScore` never run
    * (a periodic scheduler would otherwise churn every tablet carrying a
    * single delta row on every tick). */
  def maintainWarehouseBudgeted(spark: SparkSession, warehouseDir: String,
      ioBudgetBytes: Long, minScore: Double)
      : Seq[(String, graft.table.MaintenanceAction)] = {
    val root = java.nio.file.Paths.get(warehouseDir)
    val ranked = listWarehouseTables(root).flatMap { p =>
      try {
        val t = GraftTable.load(spark, p.toString)
        t.maintenancePlan().map(a => (root.relativize(p).toString, t, a))
      } catch { case _: Exception => Nil } // one sick table ≠ a dead sweep
    }.filter(_._3.score >= minScore).sortBy(-_._3.score)
    var spent = 0L
    val ran = scala.collection.mutable.ArrayBuffer[(String, graft.table.MaintenanceAction)]()
    ranked.foreach { case (name, t, a) =>
      if (spent + a.ioBytes <= ioBudgetBytes) {
        // one sick table never stops the sweep, but its failure is logged
        val ok =
          try t.runMaintenance(a)
          catch { case e: Exception =>
            org.slf4j.LoggerFactory.getLogger(getClass)
              .warn(s"warehouse maintenance of $name failed: $a", e)
            false
          }
        if (ok) { spent += a.ioBytes; ran += ((name, a)) }
      }
    }
    ran.toSeq
  }

  /** Restore a backup into a fresh table. */
  def restore(spark: SparkSession, backupPath: String, destLocation: String,
      keys: Seq[String], hash: Seq[HashComponent] = Nil,
      range: Option[RangeComponent] = None): GraftTable = {
    val df = spark.read.parquet(backupPath)
    GraftTable.create(spark, destLocation, destLocation.split('/').last,
      df.schema, keys, hash, range, data = Some(df))
  }

  /**
   * Consistency check — the `kudu cluster ksck` analog for this engine's
   * storage (tools/ksck.cc: verify master/tablet metadata against on-disk
   * state). Audits one table location and returns human-readable issues
   * (empty = healthy):
   *  - the current pointer resolves to an existing, parseable snapshot;
   *  - every base/delta file referenced by the CURRENT snapshot exists;
   *  - file partition coordinates (`_b=`/`_r=` path segments) agree with
   *    the manifest's bucket/rangeKey fields (a mismatch would silently
   *    break pruning);
   *  - no commit sequence exceeds the current version;
   *  - orphan data files referenced by NO snapshot version (crash residue
   *    from a lost commit race — wasted space, never read);
   *  - gaps in the version chain (time-travel falls back to a linear scan
   *    over what remains).
   */
  /** Reclaim STRANDED staged tables: `.staging/` (under the warehouse root
    * and under every namespace dir) holds CTAS/RTAS work-in-progress and
    * parked REPLACE incumbents — all invisible to listTables and sweeps. A
    * crash mid-commit (or a non-fatal failure dropping a replaced
    * incumbent) strands one; nothing else ever reclaims it. Only entries
    * whose WHOLE tree is older than `graceMs` go (newest mtime down to
    * depth 3 — an in-flight staged write keeps landing part files, which
    * bumps their parent dirs, so a live CTAS can never look idle), the
    * same posture as [[fsckRepair]]'s grace. Returns the dropped paths. */
  def sweepStaging(warehouseDir: String,
      graceMs: Long = GraftTools.FsckGraceMs): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val cutoff = System.currentTimeMillis() - graceMs
    def stagingRoots(root: java.nio.file.Path): Seq[java.nio.file.Path] = {
      if (!Files.isDirectory(root)) return Nil
      val self = root.resolve(".staging")
      val nsDirs = scala.util.Using.resource(Files.list(root)) { s =>
        s.iterator().asScala.filter(p => Files.isDirectory(p) &&
          !p.getFileName.toString.startsWith(".") &&
          !graft.catalog.TableMeta.exists(p.toString)).toSeq
      }
      (if (Files.isDirectory(self)) Seq(self) else Nil) ++
        nsDirs.flatMap(stagingRoots)
    }
    def newestMtime(p: java.nio.file.Path): Long =
      scala.util.Using.resource(Files.walk(p, 3)) { s =>
        s.iterator().asScala
          .map(q => Files.getLastModifiedTime(q).toMillis)
          .foldLeft(0L)(math.max)
      }
    stagingRoots(Paths.get(warehouseDir)).flatMap { st =>
      scala.util.Using.resource(Files.list(st)) { s =>
        s.iterator().asScala.filter(Files.isDirectory(_)).toSeq
      }.flatMap { p =>
        try {
          if (newestMtime(p) < cutoff) {
            if (graft.catalog.TableMeta.exists(p.toString))
              GraftTable.drop(p.toString)
            else { // a half-created staged dir with no manifest yet
              Files.walk(p).sorted(java.util.Comparator.reverseOrder())
                .iterator().asScala.foreach(Files.deleteIfExists(_))
            }
            Some(p.toString)
          } else None
        } catch { case _: Exception => None } // sweep on; retry next pass
      }
    }
  }

  /** Depth-first listing (dirs + files) that TOLERATES entries vanishing
    * mid-traversal. `Files.walk`'s iterator throws `NoSuchFileException`
    * when an entry it listed is deleted before it stats it — exactly what
    * happens when fsck/fsckRepair walk a LIVE table's data dir while a
    * concurrent maintenance commit (tail merge, compaction) deletes a
    * superseded fileset directory. Built on `walkFileTree`, whose failure
    * hooks let a vanished entry be skipped instead of thrown
    * (FuzzSpec scheduler-concurrent seed 41 reproduced the race). */
  private def walkTolerant(root: java.nio.file.Path,
      maxDepth: Int = Int.MaxValue): Seq[java.nio.file.Path] = {
    import java.nio.file._
    import java.nio.file.attribute.BasicFileAttributes
    val out = Seq.newBuilder[Path]
    if (!Files.isDirectory(root)) return Nil
    try Files.walkFileTree(root,
      java.util.EnumSet.noneOf(classOf[FileVisitOption]), maxDepth,
      new SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path, a: BasicFileAttributes) = {
          out += d; FileVisitResult.CONTINUE
        }
        override def visitFile(f: Path, a: BasicFileAttributes) = {
          out += f; FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException) =
          FileVisitResult.CONTINUE // vanished mid-walk: skip
        override def postVisitDirectory(d: Path, e: java.io.IOException) =
          FileVisitResult.CONTINUE // listing died mid-dir: keep what we saw
      })
    catch { case _: java.io.IOException => } // root itself vanished
    out.result()
  }

  def fsck(location: String, verifySchemas: Boolean = false): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.catalog.TableMeta
    val issues = scala.collection.mutable.ArrayBuffer[String]()
    if (!TableMeta.exists(location)) return Seq(s"no graft table at $location")
    // opt-in (one footer read per file): reports a foreign/hand-edited
    // file whose parquet schema disagrees with the manifest's recorded
    // physical types as a manifest/file inconsistency HERE, instead of an
    // opaque vectorized-reader failure at scan time
    if (verifySchemas)
      try issues ++= GraftTable.load(
        org.apache.spark.sql.SparkSession.active, location).verifyFileSchemas()
      catch { case e: Exception =>
        issues += s"schema audit failed: ${e.getMessage}" }
    val cur =
      try TableMeta.currentVersion(location)
      catch { case e: Exception => return Seq(s"corrupt current pointer: ${e.getMessage}") }
    val m =
      try TableMeta.readCurrent(location)
      catch { case e: Exception => return Seq(s"unreadable current snapshot v$cur: ${e.getMessage}") }

    def coord(path: String, key: String): Option[String] =
      path.split('/').collectFirst {
        case seg if seg.startsWith(s"$key=") => seg.drop(key.length + 1)
      }
    (m.baseFiles ++ m.deltaFiles).foreach { f =>
      if (!Files.exists(Paths.get(f.path)))
        issues += s"missing ${f.kind} file (v${f.seq}): ${f.path}"
      else {
        // a malformed coordinate is itself a finding, not a crash
        val rawBucket = coord(f.path, "_b")
        val pathBucket = rawBucket.flatMap(_.toIntOption)
        if (rawBucket.isDefined && pathBucket.isEmpty)
          issues += s"malformed bucket coordinate '${rawBucket.get}': ${f.path}"
        if (f.bucket.isDefined && pathBucket.isDefined && f.bucket != pathBucket)
          issues += s"bucket mismatch: manifest ${f.bucket.get} vs path ${pathBucket.get}: ${f.path}"
        val pathRange = coord(f.path, "_r")
        if (f.rangeKey.isDefined && pathRange.isDefined && f.rangeKey != pathRange)
          issues += s"range mismatch: manifest ${f.rangeKey.get} vs path ${pathRange.get}: ${f.path}"
      }
      if (f.seq > cur)
        issues += s"file from the future: seq ${f.seq} > current v$cur: ${f.path}"
    }

    // every snapshot version's references, for orphan detection + chain audit
    val versions = TableMeta.versionsOnDisk(location)
    // versions below the history mark were EXPIRED on purpose
    // (expireVersions — the ancient-history-mark analog); only gaps at or
    // above the floor are findings
    (m.historyFloor to cur).filterNot(versions.contains).foreach { v =>
      issues += s"version chain gap: v$v missing (time travel degrades to linear scan)"
    }
    val referenced = versions.flatMap { v =>
      try {
        val vm = TableMeta.read(location, v)
        (vm.baseFiles ++ vm.deltaFiles).map(f => Paths.get(f.path).normalize.toString)
      } catch { case e: Exception => issues += s"unreadable snapshot v$v: ${e.getMessage}"; Nil }
    }.toSet
    val dataDir = Paths.get(location, "data")
    walkTolerant(dataDir)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(_.normalize.toString)
      .filterNot(referenced.contains)
      .foreach(p => issues += s"orphan data file (no snapshot references it): $p")
    issues.toSeq
  }

  /** Repair sweep for fsck's orphan findings: deletes data files referenced
    * by NO snapshot version — the crash residue of a lost commit race (the
    * loser of the atomic commit guard wrote its fileset, then its metadata
    * write threw; see TableMeta.write). Only exact orphans are touched —
    * anything any snapshot references, and non-parquet files, are left
    * alone. Files modified within `graceMs` are also left alone: an
    * IN-FLIGHT commit writes its fileset BEFORE swinging metadata, so a
    * freshly-written unreferenced file may belong to a writer that is about
    * to commit — deleting it would corrupt that table the moment the commit
    * lands (same posture as Iceberg's remove_orphan_files older-than
    * default). Directories left holding nothing (or only writer sidecars)
    * are removed too, under the same grace: a live writer's freshly made
    * `_temporary` tree is empty until its tasks commit. Returns the
    * deleted paths. */
  def fsckRepair(location: String,
      graceMs: Long = GraftTools.FsckGraceMs): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.catalog.TableMeta
    if (!TableMeta.exists(location)) return Nil
    // UNPUBLISHED commits: a writer killed between writing its version
    // file and swinging the _current pointer leaves v(N+1).json with no
    // reader able to see it — and every future committer of N+1 hits the
    // CREATE_NEW guard, wedging the table (the reference recovers the
    // equivalent via Raft re-election + log truncation; our single-writer
    // protocol rolls the dead commit back instead). The writer never
    // returned success, so aborting it is the correct recovery. The grace
    // window protects an in-flight committer exactly as for data files.
    val cutoff = System.currentTimeMillis() - math.max(0L, graceMs)
    def old(p: java.nio.file.Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < cutoff
      catch { case _: Exception => false } // vanished mid-walk: skip
    val cur = TableMeta.currentVersion(location)
    val rolledBack = TableMeta.versionsOnDisk(location).filter(_ > cur).flatMap { v =>
      val vf = TableMeta.versionFile(location, v)
      if (old(vf) && Files.deleteIfExists(vf)) Some(vf.toString) else None
    }
    val referenced = TableMeta.versionsOnDisk(location).flatMap { v =>
      try {
        val vm = TableMeta.read(location, v)
        (vm.baseFiles ++ vm.deltaFiles).map(f => Paths.get(f.path).normalize.toString)
      } catch { case _: Exception => Nil } // unreadable snapshot: delete nothing of it
    }.toSet
    val dataDir = Paths.get(location, "data")
    if (!Files.isDirectory(dataDir)) return rolledBack
    val walked = walkTolerant(dataDir)
    val orphans = walked
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filter(p => !referenced.contains(p.normalize.toString))
      .filter(old)
    // directories are aged BEFORE the deletes below touch their mtimes: a
    // directory modified within the grace window may be a live writer's
    // (a maintenance write's `_temporary` tree), and sweeping it would
    // fail that write
    val oldDirs = walked.filter(p => p != dataDir && Files.isDirectory(p))
      .filter(old)
    orphans.foreach(Files.deleteIfExists(_))
    // sweep directories the deletes left holding only writer sidecar junk
    // (_SUCCESS, .crc) or nothing — deepest first
    def sidecar(p: java.nio.file.Path): Boolean = {
      val n = p.getFileName.toString
      n == "_SUCCESS" || n.endsWith(".crc")
    }
    oldDirs.sortBy(-_.getNameCount).foreach { p =>
      val children =
        try scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toSeq)
        catch { case _: java.io.IOException => Seq(p) } // vanished: not empty
      if (children.forall(c => Files.isRegularFile(c) && sidecar(c))) {
        children.foreach(Files.deleteIfExists(_))
        // a live writer (a maintenance tick's job) may add an entry
        // between the listing and the delete: its dir is not junk
        try Files.deleteIfExists(p)
        catch { case _: java.nio.file.DirectoryNotEmptyException => }
      }
    }
    rolledBack ++ orphans.map(_.toString)
  }
}
