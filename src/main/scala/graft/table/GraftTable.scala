package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog._
import graft.sources.v2.{GraftV2Scan, MorOverlay}

/** Thrown when INSERT hits an existing PK or strict UPDATE/DELETE misses one
  * (reference: row_operations.proto:34-63 — non-IGNORE ops error). */
class PrimaryKeyException(msg: String) extends RuntimeException(msg)

/** One candidate maintenance op with its estimated I/O (bytes read +
  * written) and its benefit-per-I/O score — see
  * [[GraftTable.maintenancePlan]]. */
case class MaintenanceAction(kind: String, bucket: Option[Int],
    rangeKey: Option[String], ioBytes: Long, score: Double)

/**
 * A PK-managed, mutable, snapshot-versioned table on Parquet — the
 * Spark-native re-expression of the reference's tablet storage
 * (MemRowSet/DiskRowSet + deltas, tablet/diskrowset.h, tablet/delta_store.h).
 *
 * Layout under `location`:
 *   _graft/v<N>.json   full metadata snapshot per commit (MVCC versions)
 *   data/c<N>_<token>_<nonce>/   one fileset per commit attempt (<nonce> is
 *     per attempt, so racing writers never share a path), every one written,
 *     statted and published by the one data-file writer ([[writeFileset]]):
 *     base             base files under physical column names: hash/range
 *                      tablet dirs _b=/_r=, z-clustered, or range-sorted
 *     delta            a commit's delta files: full rows + _graft_op (U|D)
 *                      + _graft_seq, unrouted (SQL UPDATE/MERGE executors
 *                      write the same schema into the same kind of dir)
 *     deltamerge       a minor fold, latest row per key under its original
 *                      seq: compactDeltas (routed per tablet when the
 *                      table is partitioned; routed/ + tomb/ when
 *                      tombstones cannot route) or compactTablet's rest
 *     deltamerge_tail  mergeTailDeltas' unrouted tail fold
 *
 * Invariant: every base file's seq < every live delta file's seq — all
 * mutations (including INSERT after the initial load) commit as deltas, so
 * merge-on-read is: base rows whose key carries no delta, plus the latest
 * delta row per key. The V2 scan applies it inside each split's reader
 * (sources/v2/MorOverlay.scala — the analog of DeltaApplier,
 * tablet/delta_applier.h:52), keeping the base scan shuffle-free and
 * pushdown-friendly. Compaction rewrites base and clears deltas
 * (tablet/compaction.cc analog).
 */
class GraftTable private[table] (val spark: SparkSession, val location: String) {
  import GraftTable._

  def meta: TableMeta = TableMeta.readCurrent(location)
  def name: String = meta.name
  def schema: StructType = meta.schema
  def keyCols: Seq[String] = meta.keyCols
  def currentVersion: Long = TableMeta.currentVersion(location)

  // ---------------------------------------------------------------- read

  /** The one DataFrame every read face returns: a DataSource V2 relation
    * over [[graft.sources.v2.GraftV2Table]] for manifest `m`, whose scan
    * prunes files, remaps every schema generation, masks pending range
    * drops and applies the delta overlay per split (MorOverlay.scala — the
    * one merge-on-read). A face reading part of a snapshot passes a copy of
    * `m` restricted to the files it may read, which a serving rewrite's
    * scan root (ScanRoots.baseLocation) matches only when it kept every
    * file. Columns are the visible ones, or all including the hidden
    * auto-increment key when `hidden`; all read nullable, as a parquet
    * read reports them. A small single-split read collects on the driver
    * (graft.plans.InlineReads). */
  private def read(m: TableMeta, hidden: Boolean = false): DataFrame = {
    graft.plans.InlineReads.inject(spark)
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new graft.sources.v2.GraftV2Table(
          m.copy(columns = m.columns.map(_.copy(nullable = true))), hidden),
        None, None))
  }

  /** Snapshot scan at `version` (None = latest). READ_AT_SNAPSHOT semantics
    * (common/common.proto:268-326). The hidden auto-increment key column of
    * non-unique-PK tables is projected away; use [[scanWithHidden]] to see it. */
  def scan(version: Option[Long] = None): DataFrame =
    read(version.map(readVersion).getOrElse(meta))

  /** Version manifest read, history-floor-checked (TableMeta.readRetained). */
  private def readVersion(v: Long): TableMeta =
    TableMeta.readRetained(location, v, meta.historyFloor)

  def scan(): DataFrame = scan(None)

  /** The manifest pinned at version `v` (history-floor-checked) — the
    * metadata face of time travel, for callers that reason about a
    * snapshot's file set (e.g. refresh prune asserts). */
  private[graft] def metaAt(v: Long): TableMeta = readVersion(v)

  /** Scan including the hidden `auto_incrementing_id` column — needed to
    * address individual rows of a non-unique-PK table for UPDATE/DELETE
    * (reference: ColumnSchema.java:529 nonUniqueKey()). */
  def scanWithHidden(version: Option[Long] = None): DataFrame =
    read(version.map(readVersion).getOrElse(meta), hidden = true)

  /** Time-travel by wall-clock ms (kudu.snapshotTimestampMs read option,
    * kudu-spark DefaultSource.scala:74). */
  def scanAtTimestamp(tsMs: Long): DataFrame =
    scan(Some(TableMeta.versionAtTimestamp(location, tsMs)))

  /** Pruned AND filtered scan: the rows of the snapshot at `version`
    * (None = latest) that satisfy every filter in `filters`. The same
    * filter list prunes files at the manifest — equality/IN filters on
    * hash columns prune bucket files, range filters prune range
    * partitions, per-file zone maps and key bounds prune the rest
    * (SURVEY.md §4) — and then applies to rows, each filter converted by
    * [[GraftTable.toColumn]]; a filter that does not
    * convert fails loudly. Delta files prune by their recorded first-key
    * bounds too (delta stats, tablet/deltafile.h): a delta file whose
    * interval cannot meet the predicate holds no delta for any row that
    * satisfies it, which is sound because the filters apply ABOVE the
    * merge-on-read. The scan reads the manifest restricted to the kept
    * files, so its pruning never depends on how the optimizer re-derives
    * the predicate. `assertPrune = true` requires the filters to keep at
    * most half of this manifest's base files (test/verification hook). */
  def scanPruned(filters: Seq[org.apache.spark.sql.sources.Filter],
      version: Option[Long] = None,
      assertPrune: Boolean = false): DataFrame = {
    val m = version.map(readVersion).getOrElse(meta)
    val conds = filters.map(f => GraftTable.toColumn(f)
      .getOrElse(throw new IllegalArgumentException(
        s"scanPruned cannot apply filter $f")))
    val kept = prunedTo(m, filters)
    if (assertPrune && kept.baseFiles.length * 2 > m.baseFiles.length)
      throw new IllegalStateException(
        s"pruned scan of $location must keep at most half its base files: " +
          s"kept ${kept.baseFiles.length} of ${m.baseFiles.length} for " +
          filters.mkString(", "))
    conds.reduceOption(_ && _).map(read(kept).filter).getOrElse(read(kept))
  }

  /** `m` restricted to the base and delta files `filters` can match. */
  private def prunedTo(m: TableMeta,
      filters: Seq[org.apache.spark.sql.sources.Filter]): TableMeta =
    m.copy(
      baseFiles = graft.sources.PartitionPruner.pruneFiles(m, m.baseFiles, filters),
      deltaFiles = graft.sources.PartitionPruner.pruneFiles(m, m.deltaFiles, filters))

  /** The rows of the snapshot at `version` (None = current) whose
    * `keySchema` columns — any source columns, not only the key — match
    * one of the collected `keys` (external values, one per field): the
    * keyed read of the derived-table refresh. When the pruned files fit
    * [[GraftTable.broadcastDeltaBytes]] the rows are read on the driver
    * ([[keyedRows]]) and come back as a local relation: no job runs. Past
    * the bound it is [[scanByKeys]]. `assertPrune` as in [[scanPruned]]
    * (test/verification hook). */
  private[graft] def readByKeys(version: Option[Long], keySchema: StructType,
      keys: Array[Row], assertPrune: Boolean = false): DataFrame = {
    if (keys.isEmpty) return scan(version).limit(0)
    val m = version.map(readVersion).getOrElse(meta)
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(keySchema)
    keyedRows(m, keySchema, keys.map(k => toCatalyst(k).asInstanceOf[InternalRow]),
        hidden = false, assertPrune)
      .map { case (schema, rows) => localRelation(spark, schema, rows) }
      .getOrElse(scanByKeys(version, keySchema, keys, assertPrune))
  }

  /** [[readByKeys]] as a scan: an IN-list per key column prunes and
    * filters the snapshot ([[scanPruned]] — exact for one column, a
    * superset for several) and an exact broadcast key semi-join lands
    * behind it. Empty keys give an empty scan-shaped frame. The index
    * serves splice this into the query they rewrite, so the base read
    * stays in the plan and runs at execution. */
  private[graft] def scanByKeys(version: Option[Long], keySchema: StructType,
      keys: Array[Row], assertPrune: Boolean = false): DataFrame = {
    if (keys.isEmpty) return scan(version).limit(0)
    scanPruned(keyFilters(keySchema, keys.map(_.toSeq)), version, assertPrune)
      .join(broadcast(spark.createDataFrame(keys.toSeq.asJava,
        StructType(keySchema.fields.map(_.copy(nullable = true))))),
        keySchema.fieldNames.toSeq, "left_semi")
  }

  /** An IN-list per column of `keySchema` over the key tuples `keys`
    * (external values): what prunes a keyed read's files at the manifest. */
  private def keyFilters(keySchema: StructType, keys: Seq[Seq[Any]])
      : Seq[org.apache.spark.sql.sources.Filter] =
    keySchema.fieldNames.toSeq.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.sources.In(c, keys.map(_(i)).distinct.toArray)
    }

  /** The driver keyed read, Kudu's in-tablet presence probe
    * (`BulkCheckPresence`, tablet/tablet.cc:1148): the rows of snapshot `m`
    * (every column with `hidden`, else the visible ones; the read schema
    * comes back with them) whose `keySchema` columns equal one of `keys`
    * (catalyst values). The manifest prunes with an IN-list per key column
    * (buckets, zone maps, per-file key bounds); when the surviving base and
    * delta bytes fit [[GraftTable.broadcastDeltaBytes]], the V2 scan's own
    * reader factory reads them on the driver (graft.plans.InlineReads
    * .readSplits: the overlay, the generation remap and the drop masks of
    * every read) and a driver hash set of the keys (MorOverlay.KeySet:
    * multi-column keys stay exact, Spark's key equality) keeps the
    * matching rows. No job runs. None past the bound, or when a key
    * field's type is not its column's. */
  private[graft] def keyedRows(m: TableMeta, keySchema: StructType,
      keys: Seq[InternalRow], hidden: Boolean, assertPrune: Boolean = false)
      : Option[(StructType, Array[InternalRow])] = {
    val cols = if (hidden) m.columns else m.visibleColumns
    val filters = keyFilters(keySchema, keys.map(k =>
      keySchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(k.get(i, f.dataType), f.dataType)
      }))
    // the scan prunes the manifest with the IN lists, compiled once
    val scan = {
      val b = new graft.sources.v2.GraftScanBuilder(
        m.copy(columns = m.columns.map(_.copy(nullable = true))), hidden = hidden)
      b.pushFilters(filters.toArray)
      b.build().asInstanceOf[GraftV2Scan]
    }
    val kept = scan.pruned()._1
    if (assertPrune && kept.length * 2 > m.baseFiles.length)
      throw new IllegalStateException(
        s"pruned scan of $location must keep at most half its base files: " +
          s"kept ${kept.length} of ${m.baseFiles.length} for " +
          filters.mkString(", "))
    if (!keySchema.forall(f => cols.exists(c => c.name == f.name && c.dataType == f.dataType)))
      return None
    if (!scan.opensAtMost(GraftTable.broadcastDeltaBytes)) return None
    val schema = scan.readSchema()
    val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    val factory = scan.createReaderFactory()
    val matches = new MorOverlay.KeySet(keys.iterator, keySchema.indices.toArray,
      keySchema.fields.map(_.dataType))
      .matcher(keySchema.fieldNames.map(schema.fieldIndex), schema.fields.map(_.dataType))
    Some((schema, graft.plans.InlineReads.readSplits(factory,
        scan.planInputPartitions().toSeq, factory.supportColumnarReads) { rows =>
      rows.filter(matches).map(r => toUnsafe(r).copy(): InternalRow).toArray
    }))
  }

  /**
   * Table snapshot pruned to what can possibly match `batch` on `joinKeys`
   * — the presence-check scan of the write path (the Spark analog of the
   * reference's per-rowset bloom presence probe, tablet/tablet.cc:1148
   * BulkCheckPresence). One small aggregate over the batch (bounded by the
   * bucket count) computes the batch's hash-bucket set and leading-PK
   * min/max; base files outside those buckets are never opened, and the key
   * range predicate lets parquet row-group stats + the key bloom filters
   * skip inside surviving files — instead of a full scan + shuffle of the
   * table per mutation batch.
   *
   * Correctness: bucket pruning applies only when every hash column is a
   * join key (then equal join keys ⇒ equal bucket); the range predicate
   * applies only to the leading join key. Rows outside either cannot match
   * any batch row, so semi/anti/inner joins on `joinKeys` are unaffected.
   * Delta files are never pruned (no partition coordinates; small between
   * compactions).
   *
   * This is the job path: a local batch whose keyed read fits
   * [[GraftTable.broadcastDeltaBytes]] probes its keys on the driver
   * instead ([[presentOnDriver]]), with no Spark job.
   */
  private def scanForBatch(m: TableMeta, batch: DataFrame,
      joinKeys: Seq[String]): DataFrame = {
    // Cost gate: the probe is one extra Spark job over the batch; it only
    // pays when the full scan it can avoid is substantial. Small tables
    // take the plain scan (local fixtures sit here; a 100 TB table never).
    if (m.baseFiles.map(f => fileSize(f.path)).sum < PresencePruneMinBytes)
      return read(m, hidden = true)
    val hashCols = m.hash.flatMap(_.cols)
    // per-range hash overrides make the bucket id range-dependent; the
    // range column is not a join key, so bucket pruning is off there
    // (lead-key range pruning still applies)
    val canBucket = m.hash.nonEmpty && m.rangeHashBucketsMap.isEmpty &&
      hashCols.forall(c => joinKeys.contains(c) && batch.columns.contains(c)) &&
      m.baseFiles.exists(_.bucket.isDefined)
    val leadKey = m.keyCols.headOption
      .filter(k => joinKeys.contains(k) && batch.columns.contains(k))
    if (!canBucket && leadKey.isEmpty) return read(m, hidden = true)
    // cast to table types first: murmur3(5:int) != murmur3(5:long), and a
    // raw caller batch may carry narrower key types than the table
    def typed(n: String): Column = col(n).cast(m.column(n).dataType)
    val probe = batch.groupBy().agg(
      (if (canBucket) collect_set(bucketExpr(m, typed)) else collect_set(lit(0)))
        .as("_graft_pb"),
      leadKey.map(k => min(typed(k))).getOrElse(lit(null)).as("_graft_klo"),
      leadKey.map(k => max(typed(k))).getOrElse(lit(null)).as("_graft_khi"))
      .collect()(0)
    val keepBase =
      if (!canBucket) m.baseFiles
      else {
        val buckets = probe.getSeq[Int](0).toSet
        m.baseFiles.filter(f => f.bucket.forall(buckets.contains))
      }
    val scanned = read(m.copy(baseFiles = keepBase), hidden = true)
    leadKey match {
      case Some(k) if probe.get(1) != null =>
        scanned.filter(col(k) >= lit(probe.get(1)) && col(k) <= lit(probe.get(2)))
      case _ => scanned
    }
  }

  /** Latest delta state per key (all table columns + the op/seq columns),
    * after drop-range masking (a delta row a pending drop killed reads as
    * its key's tombstone, [[droppedRows]]) — the per-key winner the delta
    * folds write and the spill overlay routes, folded in a Spark job over
    * the raw read of `deltaFiles` ([[GraftTable.readRaw]]). The V2 scan's
    * broadcast tail reads its delta files on the driver instead
    * ([[generationRead]] applies the same mask) and folds them with
    * MorOverlay.latestPerKey. */
  private[graft] def latestDeltas(m: TableMeta, deltaFiles: Seq[DataFileMeta]): DataFrame = {
    val deltas = readRaw(spark, m, deltaFiles)
    latestOf(m, droppedRows(m, deltas = true).fold(deltas)(killed(deltas, _)), deltaFiles)
  }

  /** `deltas` with every row `dead` holds for turned into its key's
    * tombstone: a dropped upsert still supersedes the key's older rows. */
  private def killed(deltas: DataFrame, dead: Column): DataFrame =
    deltas.withColumn(OpCol, when(dead, lit(OpDelete)).otherwise(col(OpCol)))

  /** The per-key fold of `deltas`, rows read from `deltaFiles` (which size
    * the fold's exchange). */
  private def latestOf(m: TableMeta, deltas: DataFrame,
      deltaFiles: Seq[DataFileMeta]): DataFrame = {
    // OpCol breaks same-seq ties deterministically ("U" > "D": the upsert
    // wins) — reachable only when one commit carries both a tombstone and
    // an upsert for a key (SQL MERGE deleting key A while inserting A)
    val w = Window.partitionBy(m.keyCols.map(col): _*)
      .orderBy(col(SeqCol).desc, col(OpCol).desc)
    deltas.repartition(foldPartitions(deltaFiles), m.keyCols.map(col): _*)
      .withColumn(RnCol, row_number().over(w))
      .filter(col(RnCol) === 1).drop(RnCol)
  }

  /** Exchange width for a per-key fold over `files`: one partition per
    * CdcFoldTargetBytes of the delta bytes actually read, capped at the
    * session's shuffle partitions so a backfill-sized fold still spreads
    * cluster-wide. The fold otherwise shuffles into the session constant —
    * wasteful width for the usual small tail, which a caller's persist()
    * then pins for every downstream pass (AQE does not re-coalesce cached
    * plans). The explicit hash repartition on the key columns satisfies
    * the window's (or distinct's) required distribution, so this changes
    * the exchange's partition COUNT, never adds one. */
  private def foldPartitions(files: Seq[DataFileMeta]): Int =
    math.max(1L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions").toInt.toLong,
      (GraftTable.deltaBytes(files) + GraftTable.CdcFoldTargetBytes - 1) /
        GraftTable.CdcFoldTargetBytes)).toInt

  /** The physical (name, type) under which column `c` appears in a file
    * group carrying `present` column ids: the current generation, or — for
    * files written before an ALTER type-widening — the newest prior
    * generation present (cast up to `c.dataType` by callers). */
  private def physGenOf(c: ColumnMeta, present: Set[Int]): Option[(String, DataType)] =
    if (present.contains(c.id)) Some((c.physName, c.dataType))
    else c.priorGenerations.reverseIterator
      .find(g => present.contains(g.id))
      .map(g => (g.physName, DataType.fromJson(g.dataTypeJson)))

  /** How the V2 scan reads files carrying the `present` column ids as the
    * logical fields `out` (table columns, plus non-table fields such as the
    * delta op and seq columns, read as they are): the physical read schema
    * ([[physGenOf]]), the projection to `out` (a renamed column moves by
    * position, a widened one is cast, an absent one reads its read
    * default) and, when `masked`, the rows pending range drops killed
    * ([[droppedRows]]): base rows are filtered out, and delta rows (`out`
    * carries the op and seq columns) read as tombstones — both bound to
    * the physical row on the driver ([[GraftTable.bindOn]]); no job runs. */
  private[graft] def generationRead(m: TableMeta, present: Set[Int],
      out: Seq[StructField], masked: Boolean): (StructType,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      Option[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    val mask =
      if (masked) droppedRows(m, deltas = out.exists(_.name == SeqCol)) else None
    val (extra, outCols) = out.partition(f => !m.columns.exists(_.name == f.name))
    val cols = (outCols.map(f => m.column(f.name)) ++
      mask.toSeq.flatMap(_ => m.range.get.columns.map(m.column))).distinct
    val phys = StructType(cols.flatMap(c => physGenOf(c, present)).distinct
      .map { case (n, dt) => StructField(n, dt) } ++ extra)
    val (projects, keep) = bindOn(spark, phys, { rows =>
      val logical = rows.select(cols.map(c => physGenOf(c, present) match {
        case Some((n, _)) => col(n).cast(c.dataType).as(c.name)
        case None         => defaultLit(c).as(c.name)
      }) ++ extra.map(f => col(f.name)): _*)
      mask.fold(logical)(d =>
        if (out.exists(_.name == OpCol)) killed(logical, d) else logical.filter(!d))
        .select(out.map(f => col(f.name)): _*)
    })
    (phys, projects, keep)
  }

  private def deltaStruct(m: TableMeta): StructType =
    StructType(m.schema.fields.map(_.copy(nullable = true)) ++
      Seq(StructField(OpCol, StringType), StructField(SeqCol, LongType)))

  /** Footer-vs-manifest schema audit (`fsck(verifySchemas = true)`): every
    * column's type, and the nullability of the key — a key column the
    * footer's statistics record nulls in breaks every key match. A
    * `required` field is never reported: it is the stronger guarantee, and
    * registered files keep their own repetition (every engine writer
    * writes every field optional, whatever the column's declared
    * nullability). The V2 scan's readers (GraftV2Scan.directReader and
    * generationReader, behind every read including [[GraftTable.readRaw]])
    * read every committed file under the PHYSICAL schema the manifest
    * implies — sound for every engine writer (the writer casts before
    * writing, register derives ColumnMeta FROM the footer) — so a foreign
    * or hand-edited file whose footer disagrees would otherwise surface as
    * an opaque vectorized-reader type error (or silent nulls) at scan
    * time. This names the file and field instead. One driver-side footer
    * read per file: diagnostic, not a scan-path cost. */
  def verifyFileSchemas(): Seq[String] = {
    val m = meta
    val mismatches = scala.collection.mutable.ArrayBuffer[String]()
    (m.baseFiles ++ m.deltaFiles).foreach { f =>
      val present = f.colIds.toSet
      val expect: Map[String, DataType] =
        m.columns.flatMap(c => physGenOf(c, present)).toMap ++
          (if (f.kind == "delta")
            Map(OpCol -> (StringType: DataType), SeqCol -> (LongType: DataType))
          else Map.empty[String, DataType])
      val keyPhys = m.columns.filter(_.isKey).flatMap(physGenOf(_, present)).map(_._1).toSet
      val footer =
        try Some(org.apache.spark.sql.GraftSqlBridge.parquetFileFooter(spark, f.path))
        catch { case e: Exception =>
          mismatches += s"unreadable footer: ${f.path}: ${e.getMessage}"; None }
      footer.foreach { case (ft, nulls) =>
        val byName = ft.fields.map(x => x.name -> x).toMap
        expect.foreach { case (n, dt) =>
          byName.get(n) match {
            case None => mismatches += s"manifest/file schema mismatch: " +
              s"column '$n' recorded in manifest but absent from footer: ${f.path}"
            case Some(have) if have.dataType != dt => mismatches +=
              s"manifest/file schema mismatch: column '$n' is ${have.dataType} in the " +
                s"footer but the manifest records $dt: ${f.path}"
            case Some(_) if keyPhys(n) && nulls.getOrElse(n, 0L) > 0 => mismatches +=
              s"manifest/file schema mismatch: key column '$n' holds ${nulls(n)} " +
                s"null(s) in the footer's statistics: ${f.path}"
            case _ => ()
          }
        }
        ft.fieldNames.filterNot(expect.contains).foreach { n =>
          mismatches += s"manifest/file schema mismatch: footer column '$n' " +
            s"not recorded in the manifest: ${f.path}"
        }
      }
    }
    mismatches.toSeq
  }

  /**
   * Diff scan: logical changes between snapshot v1 (exclusive) and v2
   * (inclusive) — latest state of each changed PK plus a `_deleted` flag
   * (reference: SetDiffScan client/client.h:3150, virtual IS_DELETED column
   * common/common.proto:60, ghost-row dedup in MergeIterator
   * generic_iterators.cc:440-467). Computed as a PK full-outer diff of the two
   * snapshots, so it is correct across compactions.
   */
  def changes(v1: Long, v2: Long): DataFrame = {
    val m = readVersion(v2) // diff in v2's schema
    val m1 = readVersion(v1)
    val keys = m.keyCols
    // v1's side by column id: each of v2's columns is v1's column with
    // that id — or with an older generation of it, since a widen assigns a
    // new id — under v1's name, cast to v2's type (the struct equality
    // below needs both sides in one type); a column added after v1 reads
    // its read default, as v2's snapshot shows v1's rows
    def atV1(c: ColumnMeta): Column =
      m1.columns.find(o => o.id == c.id || c.priorGenerations.exists(_.id == o.id))
        .fold(defaultLit(c))(o => col(o.name).cast(c.dataType))
    def side(v: Long, at: ColumnMeta => Column, tag: String) =
      scanWithHidden(Some(v)).select(keys.map(k => at(m.column(k)).as(k)) :+
        struct(m.columns.map(c => at(c).as(c.name)): _*).as(tag): _*)
    val a = side(v1, atV1, "_av")
    val b = side(v2, c => col(c.name), "_bv")
    val j = a.join(b, keys, "full_outer")
    val changed = j.filter(!(col("_av") <=> col("_bv")))
    val pick = when(col("_bv").isNull, col("_av")).otherwise(col("_bv"))
    changed.select(
      m.visibleColumns.map(c => pick.getField(c.name).as(c.name)) :+
        col("_bv").isNull.as(DeletedCol): _*)
  }

  /** True when `(v1, v2]` changed the table through delta files alone —
    * the [[changesSince]] / [[touchedKeys]] fast path. Minor delta folds
    * (`merge_tail`, `compact_deltas`) may rewrite delta files inside the
    * window: they keep every surviving row's `_graft_seq` and the latest
    * row per key, so the rows with seq in `(v1, v2]` still carry the
    * window's changes (both readers filter rows by seq, since a folded
    * file's manifest seq is its NEWEST row's). Any other commit that
    * retires delta files (a compaction, even one whose output is empty and
    * so leaves the base file set as it was), a base rewrite, or a range
    * drop in range forces the two-snapshot logical diff. */
  private def cdcFastPath(m1: TableMeta, m2: TableMeta): Boolean =
    m1.baseFiles.map(_.path).toSet == m2.baseFiles.map(_.path).toSet &&
      m1.rangeDrops == m2.rangeDrops && deltasRetiredByFoldsOnly(m1, m2)

  /** True when every delta file live at `m1` is still live at `m2`, or was
    * retired by a seq-preserving fold. Walks the window's manifests only
    * when some `m1` delta file is gone. */
  private def deltasRetiredByFoldsOnly(m1: TableMeta, m2: TableMeta): Boolean = {
    def keeps(a: TableMeta, b: TableMeta) =
      a.deltaFiles.map(_.path).toSet.subsetOf(b.deltaFiles.map(_.path).toSet)
    keeps(m1, m2) || {
      val window = m1 +: ((m1.version + 1) to m2.version).map(readVersion)
      window.zip(window.tail).forall { case (prev, m) =>
        keeps(prev, m) || SeqPreservingFolds(m.operation)
      }
    }
  }

  /** The delta rows committed in `(v1, v2]`, read from the live delta
    * files of `m2` that can hold one. A file's manifest seq is the newest
    * commit it holds, so files at or below v1 are skipped whole; a folded
    * file above v1 may also carry older rows, which the row-level seq
    * filter drops. */
  private def windowDeltas(m2: TableMeta, inRange: Seq[DataFileMeta], v1: Long): DataFrame =
    readRaw(spark, m2, inRange).filter(col(SeqCol) > lit(v1))

  /** Manifest-derived size in bytes of the CDC window `(v1, v2]` when it
    * changed the table through delta files alone; None when the window
    * needs the two-snapshot diff — callers sizing work from this must then
    * assume snapshot-scale. Pure driver-side metadata (two manifest reads
    * + file stats). */
  def cdcWindowBytes(v1: Long, v2: Long): Option[Long] = {
    val m1 = readVersion(v1)
    val m2 = readVersion(v2)
    if (!cdcFastPath(m1, m2)) None
    else Some(m2.deltaFiles.filter(f => f.seq > v1 && f.seq <= v2)
      .map(f => GraftTable.fileSize(f.path)).sum)
  }

  /**
   * Incremental diff scan from delta files alone — the fast CDC path when no
   * compaction separates (v1, v2]: reads ONLY the delta commits in range
   * instead of rescanning two full snapshots (what the reference's diff scan
   * does physically: mutations since the start timestamp, ghost rows
   * deduped — generic_iterators.cc:440-467). Falls back to the logical
   * [[changes]] when [[cdcFastPath]] declines (a compaction intervened).
   * A window whose delta bytes fit [[GraftTable.broadcastDeltaBytes]] is
   * read, folded and ghost-checked on the driver and comes back as a local
   * relation: no Spark job runs ([[changesOnDriver]]); a bigger one folds
   * in a Spark job.
   *
   * Semantics: latest mutated state per key + `_deleted`. Matches Kudu's
   * physical diff: an upsert writing an unchanged value IS emitted (it is a
   * mutation); a row inserted and deleted entirely within the window is NOT
   * (ghost dedup via an existence check against v1).
   */
  def changesSince(v1: Long, v2: Long): DataFrame = {
    val m1 = readVersion(v1)
    val m2 = readVersion(v2)
    if (!cdcFastPath(m1, m2))
      // a base rewrite (compaction) or a range-partition drop in range →
      // logical diff (a drop is a mass delete the delta files don't
      // record; the snapshot diff emits its rows as _deleted)
      return changes(v1, v2)
    val inRange = m2.deltaFiles.filter(f => f.seq > v1 && f.seq <= v2)
    if (inRange.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(m2.visibleColumns.map(_.toField.copy(nullable = true)) :+
          StructField(DeletedCol, BooleanType, nullable = false)))
    if (GraftTable.deltaBytes(inRange) <= GraftTable.broadcastDeltaBytes)
      changesOnDriver(m1, m2, inRange, v1).foreach(return _)
    // the per-key fold over the window's rows, sized by the in-range delta
    // bytes (a CDC window is usually a sliver of the table, often one
    // commit). No drop mask: the fast path requires equal drop lists, so
    // every drop predates v1, which is below every window row's seq.
    val latest = latestOf(m2, windowDeltas(m2, inRange, v1), inRange)
    // ghost dedup: only emit deletes for keys that existed at v1 — through
    // a scan PRUNED to the key interval the in-range delta files record
    // (every touched key lies within some delta file's [keyLo, keyHi], so
    // v1 files outside the union interval cannot hold a matching key; the
    // semi-join re-applies exact equality). Without this the ghost check
    // reads the ENTIRE v1 snapshot for a one-key delete — at 100 TB the
    // difference between a tablet read and a table read.
    val v1Keys = read(prunedTo(m1, keyIntervalFilters(m2, inRange)), hidden = true)
      .select(m2.keyCols.map(col): _*)
    val dels = latest.filter(col(OpCol) === OpDelete)
      .join(v1Keys, m2.keyCols, "left_semi")
    val ups = latest.filter(col(OpCol) =!= OpDelete)
    ups.unionByName(dels)
      .select(m2.visibleColumns.map(c => col(c.name)) :+
        (col(OpCol) === OpDelete).as(DeletedCol): _*)
  }

  /** [[changesSince]]'s fast path when the window's delta bytes fit
    * [[GraftTable.broadcastDeltaBytes]], on the driver, as Kudu's diff scan
    * runs inside the tablet: the window's rows are read by the scan's own
    * readers (GraftV2Scan.readTail) and those with seq in `(v1, v2]` kept
    * (a folded file also carries older rows), folded per key
    * (MorOverlay.latestPerKey), and the ghost check — a tombstone emits
    * only for a key live at v1 — is a keyed read at v1 of the deleted
    * keys alone ([[keyedRows]]; none when the window holds no tombstone).
    * The rows come back as a local relation, which is safe because the
    * versions `(v1, v2]` are immutable. None when the ghost check's keyed
    * read is past the bound. */
  private def changesOnDriver(m1: TableMeta, m2: TableMeta,
      inRange: Seq[DataFileMeta], v1: Long): Option[DataFrame] = {
    val n = m2.columns.length
    val types = m2.columns.map(_.dataType).toArray
    val keyIdx = m2.keyCols.map(k => m2.columns.indexWhere(_.name == k)).toArray
    val latest = MorOverlay.latestPerKey(windowRows(m2, inRange, v1), keyIdx, types,
      n, Some(n + 1)).values.asScala.toSeq
    val (dels, ups) = latest.partition(MorOverlay.isDelete(_, n))
    val live = if (dels.isEmpty) Some((_: InternalRow) => false)
      else liveAt(m1, m2, dels, keyIdx).map(_.matcher(keyIdx, types))
    val visible = m2.visibleColumns.map(c => m2.columns.indexOf(c))
    live.map { live =>
      val out = (ups ++ dels.filter(live))
        .map { r =>
          val vals = visible.map(i => r.get(i, types(i))) :+ MorOverlay.isDelete(r, n)
          org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
        }
      localRelation(spark, StructType(m2.visibleColumns.map(_.toField) :+
        StructField(DeletedCol, BooleanType, nullable = false)), out)
    }
  }

  /** The rows of `m2`'s delta files `inRange` committed after `v1` (every
    * table column, then op and seq), read on the driver
    * (GraftV2Scan.readTail). */
  private def windowRows(m2: TableMeta, inRange: Seq[DataFileMeta], v1: Long)
      : Iterator[InternalRow] = {
    val seqIdx = m2.columns.length + 1
    GraftV2Scan.readTail(m2, inRange).rows.filter(_.getLong(seqIdx) > v1)
  }

  /** The keys of `rows` (`m2`'s key columns at `keyIdx`) that are live in
    * snapshot `m1`, as a key set: a keyed read at
    * `m1` on the driver ([[keyedRows]]); None past the bound. Key columns
    * match by column id, so a rename inside the window reads `m1`'s name. */
  private def liveAt(m1: TableMeta, m2: TableMeta, rows: Seq[InternalRow],
      keyIdx: Array[Int]): Option[MorOverlay.KeySet] = {
    val keyCols = m2.keyCols.map { k =>
      val c = m2.column(k)
      m1.columns.find(_.id == c.id).getOrElse(c)
    }
    val keySchema = StructType(keyCols.map(c => StructField(c.name, c.dataType)))
    val keys = rows.map(r => org.apache.spark.sql.catalyst.InternalRow.fromSeq(
      keyIdx.toSeq.zip(keyCols).map { case (i, c) => r.get(i, c.dataType) }))
    keyedRows(m1, keySchema, keys, hidden = true).map { case (schema, found) =>
      new MorOverlay.KeySet(found.iterator, keySchema.fieldNames.map(schema.fieldIndex),
        schema.fields.map(_.dataType))
    }
  }

  /** Conservative leading-PK interval filters covering every key the given
    * delta files can touch, from their recorded per-file key bounds
    * ([min keyLo, max keyHi] — encoded bounds are order-preserving, so
    * min/max over the encodings IS the value interval). Empty when any
    * file lacks bounds (older manifests) or the bound does not round-trip
    * the encoding — callers must then scan unpruned. */
  private def keyIntervalFilters(m: TableMeta, files: Seq[DataFileMeta])
      : Seq[org.apache.spark.sql.sources.Filter] = {
    val lead = m.keyCols.head
    val dt = m.column(lead).dataType
    val bounds = files.map(f => (f.keyLo, f.keyHi))
    if (bounds.isEmpty || bounds.exists(b => b._1.isEmpty || b._2.isEmpty))
      return Nil
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(dt)
    (for {
      lo <- GraftTable.decodeBound(dt, bounds.map(_._1.get).min)
      hi <- GraftTable.decodeBound(dt, bounds.map(_._2.get).max)
    } yield Seq[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThanOrEqual(lead, conv(lo)),
      org.apache.spark.sql.sources.LessThanOrEqual(lead, conv(hi))))
      .getOrElse(Nil)
  }

  /** Distinct `cols` projections (key columns only — delta tombstones
    * carry nothing else) touched by any commit in `(v1, v2]` — the
    * maintenance-refresh primitive (rollup/index refreshes re-derive state
    * from the LIVE base per touched key). Cheaper than [[changesSince]]:
    * the per-key latest fold and the ghost-delete dedup are irrelevant
    * when the caller recomputes from the current snapshot (a ghost key
    * re-derives to the same nothing, a superseded upsert to the same
    * latest), so the fast path reads ONLY the window's delta rows — no
    * window function, no v1 snapshot scan. A minor delta fold inside the
    * window keeps the fast path (see [[cdcFastPath]]); a base rewrite or a
    * range drop falls back to the logical diff. A fast-path window within
    * [[GraftTable.broadcastDeltaBytes]] is read on the driver and comes
    * back as a local relation, with no Spark job. */
  def touchedKeys(v1: Long, v2: Long, cols: Seq[String]): DataFrame = {
    val m1 = readVersion(v1)
    val m2 = readVersion(v2)
    val keySet = m2.keyCols.toSet
    require(cols.nonEmpty && cols.forall(keySet.contains),
      s"touchedKeys serves key columns only (asked ${cols.mkString(",")}; " +
        s"keys ${m2.keyCols.mkString(",")})")
    if (!cdcFastPath(m1, m2))
      return changes(v1, v2).select(cols.map(col): _*).distinct()
    val inRange = m2.deltaFiles.filter(f => f.seq > v1 && f.seq <= v2)
    if (inRange.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(cols.map(n =>
          m2.column(n).toField.copy(nullable = true))))
    if (GraftTable.deltaBytes(inRange) <= GraftTable.broadcastDeltaBytes) {
      // the window's distinct keys on the driver, as changesSince's
      val idx = cols.map(c => m2.columns.indexWhere(_.name == c)).toArray
      val types = m2.columns.map(_.dataType).toArray
      val seen = new java.util.LinkedHashMap[Seq[Any], InternalRow]()
      windowRows(m2, inRange, v1).foreach { r =>
        val k = MorOverlay.keyOf(r, idx, types)
        if (!seen.containsKey(k)) seen.put(k,
          org.apache.spark.sql.catalyst.InternalRow.fromSeq(idx.toSeq.map(i => r.get(i, types(i)))))
      }
      return localRelation(spark, StructType(cols.map(m2.column(_).toField)),
        seen.values.asScala.toSeq)
    }
    // callers persist() this frame: size its distinct's exchange by the
    // in-range delta bytes (foldPartitions)
    windowDeltas(m2, inRange, v1).select(cols.map(col): _*)
      .repartition(foldPartitions(inRange), cols.map(col): _*).distinct()
  }

  // --------------------------------------------------------------- write

  /** INSERT: error if any PK already exists (W1, tablet/tablet.cc:836
    * InsertOrUpsertUnlocked error path; presence check BulkCheckPresence
    * :1148 → here a batch anti/semi-join). */
  def insert(df: DataFrame): Unit = withCommitRetry(insertImpl(df, ignore = false))

  /** INSERT_IGNORE: silently skip rows whose PK exists (W2). */
  def insertIgnore(df: DataFrame): Unit = withCommitRetry(insertImpl(df, ignore = true))

  private def insertImpl(df: DataFrame, ignore: Boolean): Unit = {
    val m = meta
    val keys = m.keyCols
    val batch = conform(m, assignAutoInc(m, df))
    if (m.hasAutoInc && !df.columns.contains(AutoIncName)) {
      // Non-unique PK: duplicates are the point; every row gets a fresh id.
      commitDelta(m, batch.withColumn(OpCol, lit(OpUpsert)),
        if (ignore) "insert_ignore" else "insert")
      return
    }
    val clash = concat(lit(s"INSERT key already present in ${m.name}: ("),
      concat_ws(",", keys.map(c => col(c).cast("string")): _*), lit(")"))
    presentOnDriver(m, batch, keys) match {
      case Some((rows, present)) if !ignore =>
        rows.find(present).foreach { r =>
          throw new PrimaryKeyException(
            bindOn(spark, batch.schema, _.select(clash))._1.head.eval(r).toString)
        }
        commitDelta(m, batch.withColumn(OpCol, lit(OpUpsert)), "insert",
          guardDupKeys = true)
      case Some((rows, present)) =>
        val idx = keys.map(batch.schema.fieldIndex).toArray
        val types = batch.schema.fields.map(_.dataType)
        val seen = new java.util.HashSet[Seq[Any]]()
        val fresh = rows.filter(r =>
          seen.add(MorOverlay.keyOf(r, idx, types)) && !present(r))
        commitDelta(m, localRelation(spark, batch.schema, fresh.toSeq)
          .withColumn(OpCol, lit(OpUpsert)), "insert_ignore")
      case None if !ignore =>
        // both preconditions (keys already present in the table; duplicate
        // keys inside the batch) are evaluated by the commit itself —
        // present keys raise_error out of a left join against the pruned
        // presence scan as the commit collects or writes the batch,
        // intra-batch dups use commitDelta's guard — so an INSERT pays no
        // stats job per mutation batch. The per-row error message carries
        // the clashing key itself (no second sample-fetch job).
        val existing = scanForBatch(m, batch, keys).select(keys.map(col): _*)
          .withColumn("_graft_ex", lit(1))
        val keyDt = m.column(keys.head).dataType
        val guarded = batch.join(existing, keys, "left")
          .withColumn(keys.head,
            when(col("_graft_ex").isNotNull, raise_error(clash).cast(keyDt))
              .otherwise(col(keys.head)))
          .drop("_graft_ex")
        commitDelta(m, guarded.withColumn(OpCol, lit(OpUpsert)), "insert",
          guardDupKeys = true)
      case None =>
        val existing = scanForBatch(m, batch, keys).select(keys.map(col): _*)
        val fresh = batch.dropDuplicates(keys).join(existing, keys, "left_anti")
        commitDelta(m, fresh.withColumn(OpCol, lit(OpUpsert)), "insert_ignore")
    }
  }

  /** The presence check of a local write batch on the driver, Kudu's
    * `BulkCheckPresence` (tablet/tablet.cc:1148): the batch's rows,
    * collected with no job, and whether a row's `keys` are present in
    * snapshot `m` — one keyed read of the batch's keys ([[keyedRows]]).
    * None when the batch is not local ([[GraftTable.isLocal]]) or the
    * keyed read is past the bound; callers then join the batch against
    * the pruned presence scan ([[scanForBatch]]). */
  private def presentOnDriver(m: TableMeta, batch: DataFrame, keys: Seq[String])
      : Option[(Array[InternalRow], InternalRow => Boolean)] = {
    if (!GraftTable.isLocal(batch)) return None
    val rows = GraftSqlBridge.collectInternal(batch)
    val idx = keys.map(batch.schema.fieldIndex).toArray
    val types = batch.schema.fields.map(_.dataType)
    val keyRows = rows.toSeq.map(r => org.apache.spark.sql.catalyst.InternalRow
      .fromSeq(idx.toSeq.map(i => r.get(i, types(i)))))
    keyedRows(m, StructType(keys.map(batch.schema(_))), keyRows, hidden = true)
      .map { case (schema, found) =>
        (rows, new MorOverlay.KeySet(found.iterator, keys.map(schema.fieldIndex).toArray,
          schema.fields.map(_.dataType)).matcher(idx, types))
      }
  }

  /** UPSERT: insert-or-replace by PK (W3 — the Spark sink's default op,
    * kudu-spark DefaultSource.scala:270-272). Writing a different value to an
    * `immutable` column errors (ColumnSchemaPB immutable,
    * common/common.proto:134-177).
    *
    * Duplicate keys WITHIN one batch error at write time: the ops of one
    * commit are unordered (a DataFrame is a set — there is no session order
    * to make "last" meaningful, unlike the reference's ordered sessions,
    * row_operations.proto), so an arbitrary winner would be
    * nondeterministic. Use the [[upsert(df:DataFrame,lastWinsBy:String)*]]
    * overload to define last-wins by an explicit ordering column. */
  def upsert(df: DataFrame): Unit =
    withCommitRetry(upsertImpl(df, ignoreImmutable = false, None))

  /** UPSERT with defined intra-batch conflict resolution: when several rows
    * of `df` share a PK, the row with the HIGHEST `lastWinsBy` value wins
    * (remaining columns break exact ties deterministically). The analog of
    * the reference's apply-in-session-order for a batch that carries its
    * own order (e.g. a CDC sequence number). */
  def upsert(df: DataFrame, lastWinsBy: String): Unit =
    withCommitRetry(upsertImpl(df, ignoreImmutable = false, Some(lastWinsBy)))

  /** UPSERT_IGNORE: like upsert, but changes to immutable columns are
    * silently dropped instead of erroring (W6, row_operations.proto:43). */
  def upsertIgnore(df: DataFrame): Unit =
    withCommitRetry(upsertImpl(df, ignoreImmutable = true, None))

  private def upsertImpl(df: DataFrame, ignoreImmutable: Boolean,
      lastWinsBy: Option[String]): Unit = {
    val m = meta
    require(!m.hasAutoInc || df.columns.contains(AutoIncName),
      s"UPSERT on non-unique-PK table ${m.name} must carry $AutoIncName " +
        "(from scanWithHidden) to address individual rows")
    val deduped = lastWinsBy match {
      case Some(oc) =>
        require(df.columns.contains(oc), s"lastWinsBy column $oc not in batch")
        // deterministic last-wins: highest ordering value per key; the
        // remaining columns break exact ordering ties so equal-order
        // duplicates still resolve identically on every run
        val others = df.columns.filterNot(c => m.keyCols.contains(c) || c == oc)
          .map(c => col(c).desc).toSeq
        val w = Window.partitionBy(m.keyCols.map(col): _*)
          .orderBy(col(oc).desc +: others: _*)
        df.withColumn(RnCol, row_number().over(w)).filter(col(RnCol) === 1).drop(RnCol)
      case None => df
    }
    var batch = conform(m, deduped)
    val immutables = m.columns.filter(c => c.immutable && !c.isKey)
    if (immutables.nonEmpty) {
      val existing = scanForBatch(m, batch, m.keyCols)
      val exCols = m.keyCols.map(col) ++
        immutables.map(c => col(c.name).as(s"_graft_cur_${c.name}"))
      val joined = batch.join(existing.select(exCols: _*), m.keyCols, "left")
      if (!ignoreImmutable) {
        val violated = immutables.map(c =>
          col(s"_graft_cur_${c.name}").isNotNull &&
            !(col(c.name) <=> col(s"_graft_cur_${c.name}"))).reduce(_ || _)
        if (joined.filter(violated).limit(1).count() > 0)
          throw new PrimaryKeyException(
            s"UPSERT would modify immutable column(s) on ${m.name}; use upsertIgnore")
      }
      // keep the current value for immutable columns of existing rows
      batch = joined.select(m.columns.map { c =>
        if (c.immutable && !c.isKey)
          coalesce(col(s"_graft_cur_${c.name}"), col(c.name)).as(c.name)
        else col(c.name)
      }: _*)
    }
    commitDelta(m, batch.withColumn(OpCol, lit(OpUpsert)), "upsert",
      guardDupKeys = lastWinsBy.isEmpty)
  }

  /** ALTER ... CHANGE DEFAULT: changes the WRITE default only (the
    * reference's AlterTableOptions.changeDefault; common/common.proto
    * :134-177 keeps read_default_value and write_default_value separate).
    * Files written before the column existed keep reading the original
    * read default — no history rewrite; writes from now on that omit the
    * column fill with `default` (None = NULL, i.e. removeDefault). */
  def changeDefault(colName: String, default: Option[String]): Unit = {
    val m = meta
    require(m.columns.exists(_.name == colName), s"no such column: $colName")
    bumpMeta(m.copy(columns = m.columns.map(c =>
      if (c.name == colName)
        c.copy(writeDefault = default, hasWriteDefault = Some(true))
      else c)), "alter_column")
  }

  /** Marks a column immutable (settable via ALTER, D2). */
  def setImmutable(colName: String, immutable: Boolean = true): Unit = {
    val m = meta
    require(m.columns.exists(_.name == colName), s"no such column: $colName")
    bumpMeta(m.copy(columns = m.columns.map(c =>
      if (c.name == colName) c.copy(immutable = immutable) else c)), "alter_column")
  }

  /** VARCHAR(n) length attribute on a string column (ColumnSchemaPB
    * type_attributes.length, common/common.proto:127): enforced on every
    * subsequent write; existing rows are validated once here. */
  def setVarcharLength(colName: String, length: Int): Unit = {
    val m = meta
    val cm = m.column(colName)
    require(cm.dataType == StringType, s"$colName is not a string column")
    require(length > 0, "varchar length must be positive")
    val over = read(m, hidden = true).filter(org.apache.spark.sql.functions.length(col(colName)) > length)
    if (over.limit(1).count() > 0)
      throw new IllegalArgumentException(
        s"existing rows of ${m.name}.$colName exceed varchar($length)")
    bumpMeta(m.copy(columns = m.columns.map(c =>
      if (c.name == colName) c.copy(varcharLength = Some(length)) else c)), "alter_column")
  }

  /** Per-column storage encoding attribute (common/common.proto:90-100):
    * "dictionary" | "plain", applied to base writes as the parquet
    * per-column dictionary toggle. */
  def setColumnEncoding(colName: String, enc: String): Unit = {
    val m = meta
    require(m.columns.exists(_.name == colName), s"no such column: $colName")
    require(Seq("dictionary", "plain").contains(enc), s"unknown encoding $enc")
    bumpMeta(m.copy(columns = m.columns.map(c =>
      if (c.name == colName) c.copy(encoding = Some(enc)) else c)), "alter_column")
  }

  /** Per-column bloom-filter attribute: key columns always carry parquet
    * blooms (the per-rowset PK bloom files, cfile/bloomfile.cc); this
    * extends the same storage-level membership filtering to a NON-key
    * column — the reference's BloomFilter predicate (P5) served from the
    * file itself on the next base rewrite, instead of a runtime semi-join.
    * parquet-mr still adaptively skips the bloom where a column ends up
    * fully dictionary-encoded (the dictionary already filters exactly). */
  def setColumnBloom(colName: String, on: Boolean): Unit = {
    val m = meta
    require(m.columns.exists(_.name == colName), s"no such column: $colName")
    bumpMeta(m.copy(columns = m.columns.map(c =>
      if (c.name == colName) c.copy(bloom = Some(on)) else c)), "alter_column")
  }

  /** Table-default parquet codec for base rewrites (compression attribute
    * analog; parquet codecs are per-file). */
  def setCompression(codec: String): Unit = {
    require(GraftTable.CodecStrength.contains(codec), s"unknown codec $codec " +
      s"(supported: ${GraftTable.CodecStrength.keys.mkString(", ")})")
    bumpMeta(meta.copy(compressionCodec = Some(codec)), "alter_table")
  }

  /** Per-column compression attribute (ColumnSchemaPB compression,
    * common/common.proto:90-100). Parquet codecs apply per FILE, so column
    * requests resolve to one file codec: all-agree → that codec; mixed →
    * the strongest requested (a column that asked for compression must not
    * end up uncompressed); none → the table default. `None` clears. */
  def setColumnCompression(colName: String, codec: Option[String]): Unit = {
    val m = meta
    require(m.columns.exists(_.name == colName), s"no such column: $colName")
    codec.foreach(cc => require(GraftTable.CodecStrength.contains(cc),
      s"unknown codec $cc (supported: ${GraftTable.CodecStrength.keys.mkString(", ")})"))
    bumpMeta(m.copy(columns = m.columns.map(c =>
      if (c.name == colName) c.copy(compression = codec) else c)), "alter_column")
  }

  /** UPDATE / UPDATE_IGNORE: mutate existing rows; `df` carries the PK plus
    * any subset of non-key columns to set (W4, KuduContext.updateRows:319).
    * Missing PKs error unless ignore. Duplicate keys within one batch error
    * at write time (same unordered-commit reasoning as [[upsert]]). */
  def update(df: DataFrame, ignore: Boolean = false): Unit = withCommitRetry {
    val m = meta
    val keys = m.keyCols
    val setCols = df.columns.filterNot(keys.contains).toSeq
    require(setCols.nonEmpty, "UPDATE batch must set at least one non-key column")
    val updates = df
    val existing = scanForBatch(m, updates, keys)
    if (!ignore) {
      val missing = updates.join(existing.select(keys.map(col): _*), keys, "left_anti")
      if (missing.limit(1).count() > 0)
        throw new PrimaryKeyException(s"UPDATE key not found in ${m.name}")
    }
    val u = updates.select(updates.columns.toIndexedSeq.map(c =>
      if (keys.contains(c)) col(c) else col(c).as(s"_set_$c")): _*)
    val merged = existing.join(u, keys, "inner").select(
      m.columns.map { c =>
        if (setCols.contains(c.name)) col(s"_set_${c.name}").cast(c.dataType).as(c.name)
        else col(c.name)
      }: _*)
    commitDelta(m, merged.withColumn(OpCol, lit(OpUpsert)),
      if (ignore) "update_ignore" else "update", guardDupKeys = true)
  }

  /** SQL-style UPDATE ... SET ... WHERE — materializes the updated rows. */
  def updateWhere(condition: Column, set: Map[String, Column]): Unit = withCommitRetry {
    val m = meta
    val updated = read(m, hidden = true).filter(condition).select(
      m.columns.map { c =>
        set.get(c.name).map(_.cast(c.dataType).as(c.name)).getOrElse(col(c.name))
      }: _*)
    commitDelta(m, updated.withColumn(OpCol, lit(OpUpsert)), "update")
  }

  /** DELETE / DELETE_IGNORE by PK (W5, KuduContext.deleteRows:355);
    * tombstone delta rows. */
  def delete(keysDf: DataFrame, ignore: Boolean = false): Unit = withCommitRetry {
    val m = meta
    val keys = m.keyCols
    val k = keysDf.select(keys.map(col): _*)
    if (!ignore) {
      val found = presentOnDriver(m,
        k.select(keys.map(c => col(c).cast(m.column(c).dataType).as(c)): _*), keys)
      val anyMissing = found match {
        case Some((rows, present)) => !rows.forall(present)
        case None => k.join(scanForBatch(m, k, keys).select(keys.map(col): _*),
          keys, "left_anti").limit(1).count() > 0
      }
      if (anyMissing) throw new PrimaryKeyException(s"DELETE key not found in ${m.name}")
    }
    commitDelta(m, tombstoneRows(m, k).withColumn(OpCol, lit(OpDelete)),
      if (ignore) "delete_ignore" else "delete", dropDupKeys = true)
  }

  /** OVERWRITE: replace the table's live rows with `df` in ONE atomic
    * commit — tombstones for current keys absent from the batch plus
    * upserts for the batch, a single delta fileset under a single snapshot
    * version. Unlike deleteWhere + upsert, a failure anywhere commits
    * nothing (the two-commit form can leave the table truncated when the
    * second step fails). SaveMode.Overwrite and SQL INSERT OVERWRITE both
    * map here. Pre-overwrite snapshots stay readable via time travel. */
  def overwrite(df: DataFrame): Unit = withCommitRetry {
    val m = meta
    val batch = conform(m, assignAutoInc(m, df))
    val newKeys = batch.select(m.keyCols.map(col): _*)
    val gone = read(m, hidden = true).select(m.keyCols.map(col): _*)
      .join(newKeys, m.keyCols, "left_anti")
    val tombstones = tombstoneRows(m, gone).withColumn(OpCol, lit(OpDelete))
    commitDelta(m, batch.withColumn(OpCol, lit(OpUpsert)).unionByName(tombstones),
      "overwrite", guardDupKeys = true)
  }

  /** Apply a CDC-shaped change batch (full rows + `_deleted` flag — the
    * [[changes]]/[[changesSince]] output shape) as ONE atomic delta commit:
    * upserts as upserts, deletes as ignore-tombstones, a single fileset
    * under a single snapshot version. This is the replication/restore APPLY
    * primitive — the reference applies a relayed batch as one session flush
    * (java/kudu-replication), where a per-op-kind commit pair doubles
    * version churn and write jobs. The batch must carry at most one action
    * per key (CDC output is latest-per-key by construction; the in-write
    * dup guard enforces it). Validation beyond that is the SOURCE's job:
    * the stream's rows already passed the source's immutability/existence
    * checks, so the apply trusts them — deletes never require presence,
    * upserts never re-check immutables. */
  def applyChanges(changes: DataFrame,
      propsUpdate: Map[String, Option[String]] = Map.empty,
      sizeHintBytes: Option[Long] = None): Unit = withCommitRetry {
    val m = meta
    require(changes.columns.contains(DeletedCol),
      s"applyChanges expects the CDC shape (columns..., $DeletedCol)")
    require(!m.hasAutoInc || changes.columns.contains(AutoIncName),
      s"applyChanges on non-unique-PK table ${m.name} must carry $AutoIncName")
    // A NULL _deleted is a malformed batch, not a row to route: both the
    // upsert filter (!flag) and the delete filter (flag) exclude NULLs, so
    // without this guard a bad CDC batch would silently DROP those actions.
    // raise_error fires during the commit's own evaluation — no extra job.
    val checked = changes.withColumn(DeletedCol,
      when(col(DeletedCol).isNotNull, col(DeletedCol))
        .otherwise(raise_error(lit(
          s"applyChanges on ${m.name}: NULL $DeletedCol — a CDC batch must " +
            "mark every row UPSERT (false) or DELETE (true)")))
        .cast(org.apache.spark.sql.types.BooleanType))
    val ups = conform(m, checked.filter(!col(DeletedCol)).drop(DeletedCol))
      .withColumn(OpCol, lit(OpUpsert))
    val tombstones = tombstoneRows(m,
      checked.filter(col(DeletedCol)).select(m.keyCols.map(col): _*))
      .withColumn(OpCol, lit(OpDelete))
    // propsUpdate commits ATOMICALLY with the data — a derived-table
    // refresh records its watermark in the same version as its rows, so
    // no crash window can leave the table marked behind (or ahead of)
    // what its rows actually reflect
    commitDelta(m, ups.unionByName(tombstones), "apply_changes",
      guardDupKeys = true, propsUpdate = propsUpdate,
      sizeHintBytes = sizeHintBytes)
  }

  /** DELETE WHERE — resolves matching PKs at current snapshot then deletes. */
  def deleteWhere(condition: Column): Unit = withCommitRetry {
    val m = meta
    val keys = read(m, hidden = true).filter(condition).select(m.keyCols.map(col): _*)
    commitDelta(m, tombstoneRows(m, keys).withColumn(OpCol, lit(OpDelete)),
      "delete")
  }

  /**
   * Multi-row transaction, scoped (W9): every op staged in `body` commits
   * as ONE delta fileset under ONE snapshot version — readers see all of
   * it or none of it, and a failure anywhere (validation or conflict)
   * commits nothing. Conflict detection is the engine's optimistic
   * version guard: if another writer committed since the transaction
   * began, the commit aborts with IllegalStateException.
   *
   * Scope vs the reference (client/client.h:429-531, src/kudu/
   * transactions/): Kudu v1 transactions are INSERT-only sessions with a
   * two-phase commit across tablet servers; this is single-writer
   * multi-op atomicity (inserts, upserts, deletes) with the restriction
   * that a transaction touches each primary key at most once — within
   * one commit there is no op ordering, so multiple writes to one key
   * would be ambiguous, and the engine rejects them instead.
   */
  def transaction(body: GraftTxn => Unit): Unit = {
    val txn = new GraftTxn(this, meta)
    body(txn)
    txn.commit()
  }

  private[table] def txnCommit(m: TableMeta, rows: DataFrame): Unit =
    commitDelta(m, rows, "txn")

  private[table] def txnConform(m: TableMeta, df: DataFrame): DataFrame =
    conform(m, assignAutoInc(m, df))

  /** The keys of `m` a transaction batch's keys can match: for a local
    * batch within the bound, exactly its keys present in `m`, read on the
    * driver ([[presentOnDriver]]); otherwise the pruned presence scan's
    * keys ([[scanForBatch]]). Either way a semi or anti join of the batch
    * against it on the key columns is exact. */
  private[table] def txnPresence(m: TableMeta, batch: DataFrame): DataFrame = {
    val keys = m.keyCols
    presentOnDriver(m, batch, keys) match {
      case Some((rows, present)) =>
        val idx = keys.map(batch.schema.fieldIndex)
        val types = batch.schema.fields.map(_.dataType)
        localRelation(spark, StructType(keys.map(batch.schema(_))), rows.toSeq.filter(present)
          .map(r => org.apache.spark.sql.catalyst.InternalRow.fromSeq(
            idx.map(i => r.get(i, types(i))))))
      case None => scanForBatch(m, batch, keys).select(keys.map(col): _*)
    }
  }

  // ---------------------------------------------------------- maintenance

  /**
   * Maintenance policy: compact when the delta set is worth folding —
   * delta:base size ratio or delta file count over threshold (the greedy
   * analog of the reference's budgeted compaction policy,
   * tablet/compaction_policy.h:50-60 PickRowSets; SURVEY.md §4 "rewrite file
   * groups when delta:base ratio or file-count exceeds thresholds").
   * Returns true if a compaction ran. A pass that loses the commit race to
   * a foreground writer YIELDS (returns false) instead of throwing — a
   * maintenance loop must never crash on a busy table, and the next pass
   * re-evaluates the policy against the new head (the reference's
   * maintenance manager likewise just reschedules a preempted op).
   *
   * `perTablet = true` is the 100 TB posture: a tripped ratio folds ONLY
   * the tablets carrying delta pressure (largest first, up to
   * `maxTablets`, via [[compactTablet]] — O(touched tablets + deltas))
   * instead of rewriting the whole base. Falls back to the full rewrite
   * when the table has no partition coordinates or pending range drops
   * need retiring.
   */
  /**
   * Budgeted maintenance plan — METADATA ONLY, no Spark job (the
   * reference's compaction policy scores candidate ops from rowset stats
   * and picks under an I/O budget, compaction_policy.h:50-60 "budgeted
   * knapsack"). Candidates:
   *  - one MAJOR compaction per delta-carrying tablet (routed delta files
   *    attribute by their recorded coordinate): score = the fraction of
   *    the tablet's read bytes that stop being delta after the fold
   *    (deltaBytes / (baseBytes + deltaBytes)) — benefit per I/O byte;
   *    cost = read + rewrite of the tablet.
   *  - one in-place TAIL-MERGE when the unrouted tail is fragmented
   *    (> 3 filesets): hygiene rather than read-amp removal, scored below
   *    any materially delta-pressured tablet but above barely-dirty ones.
   * Actions come back sorted by score; [[maintain]] with `ioBudgetBytes`
   * executes them greedily within the budget.
   */
  def maintenancePlan(): Seq[MaintenanceAction] = {
    val m = meta
    val routed = m.deltaFiles.filter(f => f.bucket.isDefined || f.rangeKey.isDefined)
    val tail = m.deltaFiles.filterNot(f => f.bucket.isDefined || f.rangeKey.isDefined)
    def bytes(fs: Seq[DataFileMeta]) = fs.map(f => fileSize(f.path)).sum
    val tabletActions =
      if (m.rangeDrops.nonEmpty) Nil // compactTablet refuses under drops
      else routed
        // "__null"-range files are range-wildcards (trusted tombstones of
        // non-key range columns) — not a real tablet to compact
        .filterNot(_.rangeKey.contains("__null"))
        .groupBy(f => (f.bucket, f.rangeKey))
        .toSeq.map { case ((b, rk), dfs) =>
          val dBytes = bytes(dfs)
          val baseB = bytes(m.baseFiles.filter(f =>
            (b.isEmpty || f.bucket == b) && (rk.isEmpty || f.rangeKey == rk)))
          MaintenanceAction("compact_tablet", b, rk,
            ioBytes = 2L * (baseB + dBytes),
            score = dBytes.toDouble / math.max(1L, baseB + dBytes))
        }
    val tailAction =
      if (tail.size <= 3) Nil
      else Seq(MaintenanceAction("merge_tail", None, None,
        ioBytes = 2L * bytes(tail),
        score = 0.05 * (1.0 - 1.0 / tail.size)))
    (tabletActions ++ tailAction).sortBy(-_.score)
  }

  /** Execute the [[maintenancePlan]] greedily within an I/O budget
    * (estimated bytes read+written). Returns the actions that ran.
    * `minScore` drops barely-dirty candidates — a periodic scheduler
    * ([[MaintenanceScheduler]]) would otherwise churn every tablet with a
    * single delta row on every tick. */
  def maintain(ioBudgetBytes: Long): Seq[MaintenanceAction] =
    maintain(ioBudgetBytes, 0.0)

  def maintain(ioBudgetBytes: Long, minScore: Double): Seq[MaintenanceAction] = {
    var spent = 0L
    val ran = scala.collection.mutable.ArrayBuffer[MaintenanceAction]()
    maintenancePlan().takeWhile(_.score >= minScore).foreach { a =>
      if (spent + a.ioBytes <= ioBudgetBytes && runMaintenance(a)) {
        spent += a.ioBytes; ran += a
      }
    }
    ran.toSeq
  }

  /** Execute one [[maintenancePlan]] action — the one executor of both
    * budgeted loops (this table's [[maintain]] and the warehouse's
    * `GraftTools.maintainWarehouseBudgeted`). Returns whether it did work:
    * false when a racing writer preempted it (a [[ConcurrentCommitException]]
    * — skip, keep the budget) or a tail merge found nothing to fold. */
  private[graft] def runMaintenance(a: MaintenanceAction): Boolean =
    try {
      a.kind match {
        case "compact_tablet" => compactTablet(a.bucket, a.rangeKey); true
        case "merge_tail" => mergeTailDeltas()
      }
    } catch { case _: ConcurrentCommitException => false }

  /**
   * History retention GC — the reference's ancient-history-mark
   * (`--tablet_history_max_age_sec`: row history older than the mark is
   * garbage-collected and snapshot reads below it refuse). Without it a
   * mutable 100 TB table doubles its storage on every full compaction:
   * superseded base filesets stay referenced by old version manifests
   * forever.
   *
   * Expires the longest PREFIX of the version chain satisfying BOTH
   * knobs — the newest `retainLast` versions always survive, and a
   * version only expires once its commit timestamp is `olderThanMs` old
   * (the grace that keeps an in-flight time-travel reader safe, same
   * posture as fsckRepair's window). The mark is COMMITTED FIRST as a
   * files-unchanged snapshot version (`operation = "expire_versions"`,
   * `TableMeta.expiredBefore`) through the same CREATE_NEW guard as every
   * other commit — concurrent writers are safe, streams see an empty
   * version (no delta files stamped with it), and readers learn the floor
   * before any file vanishes. Then the expired manifests and every data
   * file referenced ONLY by them are deleted — FENCED to this table's own
   * directory, so zero-copy registered sources survive. Time travel/CDC
   * below the new floor fail with a clear error; everything at-or-above
   * is untouched. Returns the deleted paths (manifests + data files).
   *
   * Derived tables and forks are PROTECTED, not footguns: the expiry
   * prefix floors at the smallest source-version watermark of every
   * registered derived table (rollup/secondary/vector index — their
   * incremental refresh needs `source@watermark` readable, and the only
   * recovery past it is a full rebuild, catastrophic at 100 TB), and
   * files any live [[fork]]ed child's manifests still reference are
   * treated as referenced even when this table's own survivors no longer
   * need them. Dead registrations (dropped derived tables, dropped
   * children) are cleaned as they are discovered.
   */
  def expireVersions(retainLast: Int = 1, olderThanMs: Long = 0L): Seq[String] =
    withCommitRetry {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val m = meta
      val onDisk = TableMeta.versionsOnDisk(location)
      // derived-table floor: a registered rollup/index refreshes by reading
      // `source@watermark` (CDC before-image), so every version >= the
      // smallest live watermark must survive — otherwise one missed refresh
      // tick (session down, index in another warehouse) turns the next
      // refresh into a forced full rebuild. Registrations whose table is
      // gone or re-pointed are dead: drop the marker, ignore the floor.
      val regNowMs = System.currentTimeMillis()
      // a watermark-less marker's protection window is floored at a FIXED
      // build grace, independent of the caller's olderThanMs: retainLast-
      // only retention (olderThanMs = 0) would otherwise give a
      // registered-but-not-yet-committed build ZERO grace — a concurrent
      // commit plus one expiry tick expires the very version the build is
      // reading and deregisters its marker mid-build. Five minutes default
      // (conf graft.derived.buildGraceMs) bounds how long a dead marker
      // (crashed build) can stall retention; a completed build re-writes
      // its marker at commit, so liveness never depends on the grace alone.
      val buildGraceMs = math.max(
        spark.conf.getOption("graft.derived.buildGraceMs")
          .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(300_000L),
        math.max(0L, olderThanMs))
      val derivedFloor = graft.tools.DerivedTables.registered(location)
        .flatMap { d =>
          graft.tools.DerivedTables.watermarkFor(d, location).orElse {
            // no answerable watermark: a dropped derived table, a foreign
            // rebuild — or a build IN FLIGHT that registered its marker
            // but has not committed its watermark property yet. The
            // marker's recorded registration-time version floors while
            // the marker is younger than the build grace; past it the
            // registration is dead and cleans.
            val floor = graft.tools.DerivedTables.markerFloor(location, d)
              .collect { case (v, mtime)
                  if regNowMs - mtime <= buildGraceMs => v }
            if (floor.isEmpty) graft.tools.DerivedTables.deregister(location, d)
            floor
          }
        }.foldLeft(Long.MaxValue)(math.min)
      val keep = onDisk.takeRight(math.max(1, retainLast)).toSet + m.version
      val cutoffTs = System.currentTimeMillis() - math.max(0L, olderThanMs)
      // the expired versions with their manifests, each read once
      val expired = onDisk.iterator
        .takeWhile(v => !keep.contains(v) && v < derivedFloor)
        // unreadable: keep, fsck's problem
        .map(v => v -> scala.util.Try(TableMeta.read(location, v)).toOption)
        .takeWhile(_._2.exists(_.timestampMs <= cutoffTs))
        .map { case (v, vm) => v -> vm.get }.toSeq
      val prefix = expired.map(_._1)
      if (prefix.isEmpty) return Nil
      def files(vm: TableMeta): Seq[String] = (vm.baseFiles ++ vm.deltaFiles).map(_.path)
      // a surviving version a concurrent expiry deleted after the listing
      // references nothing: its files were that expiry's to reclaim
      val survivors = onDisk.filterNot(prefix.contains)
      val referenced = survivors.flatMap(v =>
        try files(TableMeta.read(location, v))
        catch { case _: java.nio.file.NoSuchFileException => Nil })
        .map(p => Paths.get(p).normalize.toString).toSet ++
        // a fork()ed child reads the PARENT's files by path: every file any
        // of a live child's manifests still references must survive the
        // parent's retention (the child compacting itself self-contained —
        // and expiring its own history — releases them). Dead child
        // markers clean up here.
        GraftTable.forkChildren(location).flatMap { child =>
          if (!TableMeta.exists(child)) {
            GraftTable.deregisterFork(location, child); Nil
          } else GraftTable.manifestFilePaths(child)
        }
      // Only files UNDER this table's location are ever deleted — the same
      // invariant as [[drop]]: zero-copy registered raw data and files
      // shared with a fork()ed table live outside `location` and must
      // survive this table's retention decisions.
      val ownRoot = Paths.get(location).normalize.toString + "/"
      val deletable = expired.flatMap(e => files(e._2)).distinct
        .filter(p => Paths.get(p).normalize.toString.startsWith(ownRoot))
        .filterNot(p => referenced.contains(Paths.get(p).normalize.toString))
      // No-op when nothing is reclaimable and only ONE manifest would be
      // trimmed: the mark itself commits a version, so a periodic caller
      // (MaintenanceScheduler) would otherwise expire its own previous
      // mark every tick forever — pure churn. Trimming n>1 manifests, or
      // any data bytes, is real work and proceeds.
      if (deletable.isEmpty && prefix.size <= 1) return Nil
      // 1. publish the mark (the only step that can race — guard-protected)
      TableMeta.write(m.copy(version = m.version + 1, timestampMs = now(),
        operation = "expire_versions",
        // never below a concurrent expiry's mark: its versions are gone
        expiredBefore = Some(math.max(prefix.max + 1, m.historyFloor))))
      // 2. drop expired manifests, then exclusively-referenced data files.
      // A crash between 1 and 3 leaves only already-expired residue that a
      // re-run or fsckRepair's orphan sweep finishes.
      val gone = scala.collection.mutable.ArrayBuffer[String]()
      prefix.foreach { v =>
        val vf = TableMeta.versionFile(location, v)
        if (Files.deleteIfExists(vf)) gone += vf.toString
      }
      deletable.foreach { p =>
        if (Files.deleteIfExists(Paths.get(p))) gone += p
      }
      gone.toSeq
    }

  def maintain(maxDeltaRatio: Double = 0.2, maxDeltaFiles: Int = 64,
      perTablet: Boolean = false, maxTablets: Int = Int.MaxValue): Boolean = {
    val m = meta
    if (m.deltaFiles.isEmpty) return false
    val deltaBytes = m.deltaFiles.map(f => fileSize(f.path)).sum.toDouble
    val baseBytes = m.baseFiles.map(f => fileSize(f.path)).sum.toDouble max 1.0
    try {
      if (deltaBytes / baseBytes > maxDeltaRatio) {
        val tabletWise = perTablet && m.rangeDrops.isEmpty &&
          (m.hash.nonEmpty || m.range.isDefined)
        if (tabletWise) {
          val hasBucket = m.hash.nonEmpty
          val dirty = deltaTabletStats().collect()
          // Per-tablet folding pays off when dirtiness is SKEWED (the usual
          // 100 TB shape: a few hot tablets breach, the rest stay clean —
          // fold only the dirty ones, whose base I/O sums to less than the
          // table). When EVERY tablet is dirty (a uniform bulk mutation),
          // K per-tablet passes read the same total I/O as one whole-table
          // rewrite PLUS K job rounds of fixed overhead and K manifest
          // commits — the 20M-row scale smoke measured 16 serialized folds
          // at 43 s vs one distributed rewrite at ~8 s. One merged pass is
          // also the reference's policy shape: its budgeted knapsack picks
          // overlapping rowsets together, not one-at-a-time
          // (compaction_policy.h). An explicit maxTablets cap is a caller
          // budgeting I/O per tick — honor it, never escalate.
          val tablets = math.max(1,
            m.baseFiles.map(f => (f.bucket, f.rangeKey)).distinct.size)
          if (maxTablets == Int.MaxValue && dirty.length >= tablets)
            compact()
          else dirty.take(maxTablets).foreach { r =>
            val bucket = if (hasBucket) Some(r.getInt(0)) else None
            val rk = if (m.range.isDefined)
              Some(r.getString(if (hasBucket) 1 else 0)) else None
            compactTablet(bucket, rk)
          }
        } else compact()
        true
      } else if (m.deltaFiles.size > maxDeltaFiles) {
        // many SMALL files (streaming micro-batch commits): the minor fold is
        // O(delta bytes); the full rewrite is O(base bytes) — at scale the
        // difference is the whole table. When the unflushed tail is the
        // pressure, fold ONLY it (O(tail)) and leave earlier flushed
        // filesets untouched; a flushed set fragmented across many minor
        // passes needs the full refold to actually shrink.
        val tail = m.deltaFiles.count(f => f.bucket.isEmpty && f.rangeKey.isEmpty)
        compactDeltas(tailOnly = tail > m.deltaFiles.size / 2)
        true
      } else false
    } catch {
      case _: ConcurrentCommitException =>
        false
    }
  }

  /**
   * MINOR delta compaction (reference: tablet/delta_compaction.cc — fold
   * many small delta files into one without touching the base): collapses
   * the live delta set to latest-per-key and rewrites it as a compact
   * delta fileset. Each surviving row KEEPS its original `_graft_seq`, so
   * merge-on-read and CDC window semantics are unchanged — only the file
   * count drops. This is the streaming-sink remedy at scale: 10^4
   * micro-batch commits leave 10^4 one-file deltas, and folding them is
   * O(delta bytes), not the O(base bytes) of a full [[compact]].
   *
   * On partitioned tables the fold is ROUTED: files are written per tablet
   * coordinate (the same `partitionBy` dirs as a base write) and each
   * records its bucket/rangeKey — the reference's DMS flush into
   * per-rowset delta stores (tablet/deltafile.h). The V2 read then
   * attaches each tablet's flushed deltas to its own split straight from
   * disk (no broadcast, no shuffle, at any delta size), and predicate
   * pruning drops whole flushed-delta tablets the way it drops base files.
   *
   * `tailOnly = true` folds ONLY the unflushed tail (coordinate-less delta
   * files — the commits since the last flush) and carries every earlier
   * flushed fileset over in the manifest BY IDENTITY: the incremental
   * flush is O(tail), never O(total deltas), the reference's repeated
   * minor-compaction posture under a sustained write stream (a new flush
   * must not re-fold the 10^4 files already flushed). Cross-fileset key
   * overlap is resolved at read time by the per-row `_graft_seq` fold,
   * exactly as overlapping delta stores merge in the reference.
   *
   * A fold within [[GraftTable.broadcastDeltaBytes]] runs on the driver
   * with no Spark job ([[writeFold]]); a single unrouted file still
   * flushes into its tablets on a partitioned table.
   */
  def compactDeltas(tailOnly: Boolean = false): Unit = {
    val m = meta
    // the unrouted "tomb" files of an untrusted-layout flush carry no
    // coordinate either — refolding them with the tail is correct (their
    // seqs ride along) and re-offers them for routing if the layout's
    // trust changed (e.g. after dropping the non-key range column)
    val (kept, fold) =
      if (!tailOnly) (Nil, m.deltaFiles)
      else m.deltaFiles.partition(f => f.bucket.isDefined || f.rangeKey.isDefined)
    // fold layout: unpartitioned tables stay unrouted; a route that reads a
    // NON-KEY column (tombstones carry it as null — their coords would be
    // garbage) routes only the upserts and leaves tombstones unrouted
    // (coordinate-less files ride the V2 tail's global dead set, and CDC
    // sees each op exactly once)
    val layout =
      if (m.hash.isEmpty && m.range.isEmpty) Layout.Unrouted(DeltaWritePartitions)
      else if (GraftTable.deleteRouteTrusted(m)) Layout.Routed
      else Layout.RoutedUpserts
    // one file gains nothing from a fold, unless a routed layout flushes
    // it into its tablets (a bounded commit writes one file); a flush's
    // unrouted tombstone file is already where that layout leaves it
    def flushed(f: DataFileMeta) =
      f.bucket.isDefined || f.rangeKey.isDefined || f.path.contains("/tomb/")
    if (fold.isEmpty || (fold.size == 1 &&
        (layout.isInstanceOf[Layout.Unrouted] || flushed(fold.head)))) return
    val v = m.version + 1
    // the merged fileset's manifest seq is the HIGHEST folded commit — CDC
    // range selection (changesSince file filter) stays conservative and the
    // row-level _graft_seq filter inside it restores exactness
    publish { a =>
      val files = writeFold(a, m, fold, v, FoldToken, layout)
      m.copy(version = v, timestampMs = now(), operation = "compact_deltas",
        deltaFiles = kept ++ files)
    }
  }

  /**
   * TAIL-MERGE — the lightest minor delta compaction (the reference's
   * minor pass merges delta files without touching the base or earlier
   * stores, tablet/delta_compaction.cc): folds ONLY the coordinate-less
   * tail files into one compact, STILL-UNROUTED fileset. Unlike
   * [[compactDeltas]]`(tailOnly)` — which flushes the tail into routed
   * per-tablet files — this keeps the result in the tail: no route
   * computation, no partitionBy, just file-count hygiene, cheap enough
   * for the streaming sink to run inline between real flushes (a
   * sustained micro-batch stream otherwise leaves one delta fileset per
   * commit). Per-row `_graft_seq` survives the fold, so merge-on-read
   * windows and CDC range selection are unchanged; the output dir carries
   * the fold token the streaming sources exclude
   * ([[GraftTable.committedDeltas]]). A tail within
   * [[GraftTable.broadcastDeltaBytes]] is read, folded and written on the
   * driver with no Spark job ([[writeFold]]).
   * Returns true when a merge happened.
   */
  def mergeTailDeltas(minFiles: Int = 2): Boolean = {
    val m = meta
    val tail = m.deltaFiles.filter(f => f.bucket.isEmpty && f.rangeKey.isEmpty)
    if (tail.size < math.max(2, minFiles)) return false
    // the streaming tail is small — collapse to one file per ~128 MB
    val parts = math.max(1, math.min(DeltaWritePartitions,
      (GraftTable.deltaBytes(tail) / (128L * 1024 * 1024)).toInt))
    val v = m.version + 1
    val flushed = m.deltaFiles.filter(f => f.bucket.isDefined || f.rangeKey.isDefined)
    publish { a =>
      val files = writeFold(a, m, tail, v, s"${FoldToken}_tail", Layout.Unrouted(parts))
      m.copy(version = v, timestampMs = now(), operation = "merge_tail",
        deltaFiles = flushed ++ files)
    }
    true
  }

  /**
   * ANALYZE: ONE aggregate job over the current snapshot computes, per
   * visible column, an approximate distinct count (HLL), the exact null
   * count, min/max for orderable atomic types (stored in external string
   * form) and avg/max byte lengths for strings/binary, and commits them to
   * the manifest. The V2 scan reports them through
   * `SupportsReportStatistics.columnStats` so Spark's cost-based optimizer
   * can size joins over engine tables without its own scans. The reference
   * surfaces table statistics through the client API
   * (KuduTable getTableStatistics — on-disk size / live rows); per-column
   * NDV is what the planner on top additionally needs.
   */
  def analyze(histograms: Boolean = false, histogramBins: Int = 64): Unit = {
    val m = meta
    val df = scan()
    def isNumeric(dt: DataType) = dt.isInstanceOf[NumericType]
    val aggs = m.visibleColumns.flatMap { c =>
      val n = col(c.name)
      val base = Seq(
        approx_count_distinct(n).as(s"${c.name}!ndv"),
        count(when(n.isNull, lit(1))).as(s"${c.name}!nulls"))
      // histogram domain: catalyst histograms are double-valued over the
      // column's INTERNAL numeric form — days since epoch for dates,
      // microseconds for timestamps (what the CBO's EstimationUtils
      // compares predicates against)
      val histCol: Option[Column] = c.dataType match {
        case dt if isNumeric(dt) => Some(n.cast("double"))
        case DateType => Some(unix_date(n).cast("double"))
        case TimestampType => Some(unix_micros(n).cast("double"))
        // NTZ: internal micros == wall micros under the engine's UTC
        // sessions, so the cast is value-preserving there
        case TimestampNTZType => Some(unix_micros(n.cast("timestamp")).cast("double"))
        case _ => None
      }
      val extra = c.dataType match {
        case dt if isNumeric(dt) || dt == DateType ||
            dt == TimestampType || dt == TimestampNTZType || dt == BooleanType =>
          // TimestampType's string form depends on the session timezone,
          // but the read side (estimateStatistics) reconstructs internal
          // values zone-independently — so store the INTERNAL micros for
          // zoned timestamps. Date/NTZ string forms are already zone-free.
          val (minC, maxC) =
            if (dt == TimestampType)
              (unix_micros(min(n)).cast("string"), unix_micros(max(n)).cast("string"))
            else (min(n).cast("string"), max(n).cast("string"))
          Seq(minC.as(s"${c.name}!min"), maxC.as(s"${c.name}!max")) ++
            (if (histograms && histCol.isDefined)
              // equi-height bin boundaries: B+1 approximate quantiles in
              // the same single aggregate pass (t-digest per column)
              Seq(percentile_approx(histCol.get,
                lit((0 to histogramBins).map(_.toDouble / histogramBins).toArray),
                lit(10000)).as(s"${c.name}!hist"))
            else Nil)
        case dt if dt.isInstanceOf[StringType] || dt == BinaryType =>
          Seq(ceil(avg(length(n))).cast("long").as(s"${c.name}!avglen"),
            max(length(n)).cast("long").as(s"${c.name}!maxlen"))
        case _ => Nil
      }
      base ++ extra
    } :+ count(lit(1)).as("!rows")
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val idx = row.schema.fieldNames.zipWithIndex.toMap
    def get[T](name: String): Option[T] = idx.get(name)
      .filterNot(row.isNullAt).map(i => row.get(i).asInstanceOf[T])
    val stats = m.visibleColumns.map { c =>
      val ndv = get[Long](s"${c.name}!ndv").getOrElse(0L)
      val nulls = get[Long](s"${c.name}!nulls").getOrElse(0L)
      val hist = get[scala.collection.Seq[Double]](s"${c.name}!hist").map { qs =>
        // per-bin NDV is the equi-height estimate (total NDV spread over
        // the bins, bounded by the bin's row height) — the exact per-bin
        // count would need a second pass per column, and the CBO consumes
        // these as estimates either way
        val binNdv = math.max(1L, ndv / histogramBins)
        qs.iterator.sliding(2).withPartial(false)
          .map(w => HBin(w.head, w.last, binNdv)).toSeq
      }
      c.name -> ColStat(
        ndv = ndv,
        nullCount = nulls,
        min = get[String](s"${c.name}!min"),
        max = get[String](s"${c.name}!max"),
        avgLen = get[Long](s"${c.name}!avglen"),
        maxLen = get[Long](s"${c.name}!maxlen"),
        histogram = hist,
        histogramHeight = hist.map(_ =>
          math.max(0L, get[Long]("!rows").getOrElse(0L) - nulls).toDouble /
            histogramBins))
    }.toMap
    val v = m.version + 1
    TableMeta.write(m.copy(version = v, timestampMs = now(),
      operation = "analyze", colStats = Some(stats), analyzedVersion = Some(v)))
  }

  /** Set (merge) free-form table properties — the reference's
    * extra_configs surface (AlterTableOptions.alterExtraConfigs). A `None`
    * value removes the key. Commits one files-unchanged metadata version
    * under the usual optimistic guard; change streams emit nothing for it
    * (no delta files carry its seq), same as analyze(). */
  def setProperties(kv: Map[String, Option[String]]): Unit = {
    val m = meta
    val merged = kv.foldLeft(m.propsMap) {
      case (acc, (k, Some(v))) => acc + (k -> v)
      case (acc, (k, None)) => acc - k
    }
    TableMeta.write(m.copy(version = m.version + 1, timestampMs = now(),
      operation = "set_properties",
      props = if (merged.isEmpty) None else Some(merged)))
  }

  /** Free-form table properties (see [[setProperties]]). */
  def properties: Map[String, String] = meta.propsMap

  /** Per-tablet delta pressure: live-delta row/tombstone counts grouped by
    * the tablet coordinates the base writer partitions with — the pick
    * list for [[compactTablet]] (the analog of the reference's maintenance
    * manager scoring per-rowset compactions, tablet/compaction_policy.h:50
    * PickRowSets). One aggregate job over the delta set — O(delta), cheap
    * whenever maintenance keeps deltas bounded. */
  def deltaTabletStats(): DataFrame = {
    val m = meta
    require(m.hash.nonEmpty || m.range.isDefined,
      s"${m.name} has no partitioning — use compact()")
    val deltas = readRaw(spark, m, m.deltaFiles)
    val coords = ArrayBuffer[Column]()
    if (m.hash.nonEmpty) coords += bucketExpr(m, col).as("bucket")
    m.range.foreach(r => coords += rangeKeyExprM(m, r, col).as("range_key"))
    deltas.groupBy(coords.toSeq: _*)
      .agg(count(lit(1)).as("delta_rows"),
        sum(when(col(OpCol) === lit(OpDelete), 1).otherwise(0)).as("tombstones"))
      .orderBy(col("delta_rows").desc)
  }

  /**
   * MAJOR compaction of ONE tablet: folds the live delta rows belonging to
   * the named (bucket and/or range-key) tablet into a fresh PK-sorted base
   * fileset for that tablet only, and rewrites the remaining INSPECTED
   * delta rows latest-per-key (original seqs kept). Routed delta files
   * (per-tablet flush) whose coordinate contradicts the target are left
   * untouched in the manifest — the fold costs O(tablet deltas + unrouted
   * tail), never O(all deltas). This is the 100 TB maintenance path: the
   * reference compacts
   * per rowset precisely so a huge table never pays a full rewrite
   * (tablet/delta_compaction.cc major delta compaction;
   * compaction_policy.h budgeted pick); [[compact]] is the whole-table
   * fold. Pick delta-heavy tablets from [[deltaTabletStats]].
   *
   * Membership is computed with the SAME bucket/range expressions the base
   * writer partitions with, so the rewritten files' coordinates always
   * agree with the existing layout, and a key belongs to exactly one
   * tablet (bucket and range key are functions of PK columns). Refuses
   * while range-drop masks are pending — their seq-aware masking semantics
   * belong to [[compact]], which retires them. CDC stays exact: the commit
   * carries no new-seq delta files (nothing streams), and a diff scan
   * window crossing it falls back to the logical snapshot diff because the
   * base filesets differ.
   */
  def compactTablet(bucket: Option[Int] = None, rangeKey: Option[String] = None): Unit = {
    val m = meta
    require(bucket.isDefined || rangeKey.isDefined, "name a bucket and/or a range key")
    require(m.rangeDrops.isEmpty,
      s"${m.name} has pending range drops; compact() retires them first")
    bucket.foreach(_ => require(m.hash.nonEmpty, s"${m.name} has no hash component"))
    rangeKey.foreach(_ => require(m.range.isDefined, s"${m.name} has no range component"))
    val inTablet = m.baseFiles.filter(f =>
      bucket.forall(b => f.bucket.contains(b)) &&
        rangeKey.forall(rk => f.rangeKey.contains(rk)))
    // Tombstones materialize only key columns: when a member expression
    // reads a NON-KEY column, a DELETE row evaluates it over null and can
    // MATCH the "__null" tablet even though its real base row lives
    // elsewhere — folding it there would drop the tombstone and resurrect
    // the row. Such ambiguous tombstones never fold; they stay in the
    // rewritten delta set (conservative, read-time MOR still applies them).
    val memberCols = (bucket.map(_ => m.hash.flatMap(_.cols)).getOrElse(Nil) ++
      rangeKey.map(_ => m.range.get.columns).getOrElse(Nil)).distinct
    val ambiguous: Column = memberCols.filterNot(m.keyCols.contains) match {
      case Seq() => lit(false)
      case nk => col(OpCol) === lit(OpDelete) && nk.map(col(_).isNull).reduce(_ || _)
    }
    val member: Column = ((
      bucket.map(bv => bucketExpr(m, col) === lit(bv)).toSeq ++
        rangeKey.map(rk => rangeKeyExprM(m, m.range.get, col) === lit(rk)).toSeq)
      .reduce(_ && _)) && !ambiguous
    val v = m.version + 1
    // File-level pruning: a routed delta file (per-tablet flush) whose
    // coordinate contradicts the target tablet cannot hold a member row —
    // leave it UNTOUCHED in the manifest instead of reading and rewriting
    // it. The fold then costs O(tablet deltas + unrouted tail), never
    // O(all deltas) — the reference's per-rowset delta compaction posture.
    // "__null"-range files are range-WILDCARDS: trusted tombstones of a
    // non-key range column flush there (their range value is null), so
    // they may hold entries for keys of ANY range — always inspect them.
    def mayContain(f: DataFileMeta): Boolean =
      bucket.forall(b => f.bucket.forall(_ == b)) &&
        rangeKey.forall(rk => f.rangeKey.forall(v => v == rk || v == "__null"))
    val (touch, untouched) = m.deltaFiles.partition(mayContain)
    val deltas = readRaw(spark, m, touch)
    val dLatest = latestOf(m, deltas.filter(member), touch)
    val live = readRaw(spark, m, inTablet).drop(OpCol, SeqCol)
      .join(dLatest.select(m.keyCols.map(col): _*), m.keyCols, "left_anti")
      .unionByName(dLatest.filter(col(OpCol) =!= lit(OpDelete))
        .select(m.columns.map(c => col(c.name).cast(c.dataType).as(c.name)): _*))
    // a persisted clustering spec applies to the tablet rewrite too —
    // maintenance must not de-cluster the tablets it folds. This rewrite
    // covers ONE tablet, so its share of the table's clustered file count
    // is clusterFiles / tablets (min 1 — the pre-cluster per-tablet
    // posture), never the whole-table count per fold.
    val perTabletFiles = {
      val whole = m.clusterFiles.filter(_ > 0).getOrElse(
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      // tablet count from the MANIFEST's actual coordinates — dividing by
      // hash buckets alone under-counts range×hash layouts (and counts 1
      // for range-only tables), handing ONE tablet the whole-table file
      // budget on every background fold
      val tablets = math.max(1,
        m.baseFiles.map(f => (f.bucket, f.rangeKey)).distinct.size)
      math.max(1, whole / tablets)
    }
    // tablet-local row count from the manifest sizes the sample fraction
    val tabletRows =
      if (inTablet.forall(_.rows >= 0L))
        Some(inTablet.map(_.rows).sum + touch.map(f => math.max(0L, f.rows)).sum)
      else None
    // tablet bytes from the manifest: the fold reads exactly these files
    val tabletBytes = (inTablet ++ touch).map(f => GraftTable.fileSize(f.path)).sum
    publish { a =>
      val newBase = writeFileset(a, m, live, v, BaseToken,
        Layout.Base(clusterColsOf(m).map(zc =>
          buildClusterSpecFrom(m, zc, perTabletFiles, live, tabletRows))),
        v, Some(BigInt(tabletBytes)))
      val restFiles =
        if (touch.isEmpty) Nil
        else {
          val rest0 = latestOf(m, deltas.filter(!member), touch)
          // A non-member entry superseded by a FOLDED entry for the same
          // key must not survive: the folded row's seq is gone (it lives
          // in the new base), so a stale non-member tombstone left behind
          // would kill it at read. Keep only rest entries NEWER than what
          // folded for their key (an ambiguous tombstone newer than the
          // folded upsert correctly still kills it).
          val foldCol = "_graft_fold_seq"
          val foldedKeys = dLatest.select(
            m.keyCols.map(col) :+ col(SeqCol).as(foldCol): _*)
          val rest = rest0.join(foldedKeys, m.keyCols, "left")
            .filter(col(foldCol).isNull || col(foldCol) < col(SeqCol))
            .drop(foldCol)
          // highest folded commit, like compactDeltas — CDC file selection
          // stays conservative, the row-level seq filter restores
          // exactness; an all-in-tablet delta set folds to nothing, so
          // its empty part files go now, never to read as orphans
          writeFileset(a, m, rest, v, FoldToken,
            Layout.Unrouted(DeltaWritePartitions), m.deltaFiles.map(_.seq).max,
            None, dropEmpty = true)
        }
      m.copy(version = v, timestampMs = now(), operation = "compact_tablet",
        baseFiles = m.baseFiles.filterNot(inTablet.contains) ++ newBase,
        deltaFiles = untouched ++ restFiles)
    }
  }

  /** Merge deltas into a fresh hash/range-partitioned, PK-sorted base and
    * clear the delta set (minor+major delta compaction + rowset merge analog,
    * tablet/compaction.cc, tablet/delta_compaction.cc). */
  def compact(): Unit = {
    val m = meta
    // honor a persisted clustering spec: background maintenance must not
    // silently de-cluster a table the operator paid to cluster (ids that
    // no longer resolve — a dropped clusterBy column — degrade to the
    // plain PK-sorted rewrite)
    clusterColsOf(m) match {
      case Some(zc) =>
        rewriteBase(m, "compact",
          Some(buildClusterSpec(m, zc, m.clusterFiles.getOrElse(0))),
          m.clusterBy, m.clusterFiles, m.clusterMode)
      case None =>
        rewriteBase(m, "compact", None, m.clusterBy, m.clusterFiles,
          m.clusterMode)
    }
  }

  /** The persisted clusterBy ids resolved to current column names — None
    * when unset or no longer fully resolvable (fewer than 2 survive). */
  private def clusterColsOf(m: TableMeta): Option[Seq[String]] =
    m.clusterBy.map(_.flatMap(id => m.columns.find(_.id == id))
        .filter(c => GraftTable.zClusterable(c.dataType)).map(_.name))
      .filter(_.size >= 2)

  /** Z-ORDER CLUSTER: a major rewrite (compact + fold, like [[compact]])
    * whose output files follow the Morton interleave of `zcols`' quantile
    * bins instead of the PK sort — every file then covers a tight interval
    * of EACH cluster column, so the recorded zone maps
    * (DataFileMeta.colLo/colHi) prune multi-column non-key predicates at
    * the manifest level. The scale posture for "filter on user_id AND
    * event_time over 100 TB whose PK is event_id": a PK-sorted layout
    * scatters both columns across every file; a clustered one opens
    * O(selectivity^(1/k)) of them. One approx-quantile job (bounded
    * driver-side cut arrays) + one full rewrite; hash/range partition
    * coordinates are preserved (clustering happens WITHIN them).
    * `nFiles` 0 = spark.sql.shuffle.partitions per coordinate-less layout.
    * The reference has no counterpart (its rowsets are PK-ordered by
    * construction); this is the Spark-native answer to the same
    * scan-pruning goal its key-bounds rowset tree serves. */
  def cluster(zcols: Seq[String], nFiles: Int = 0,
      mode: String = "z"): Unit = {
    val m = meta
    require(mode == "z" || mode == "lead",
      s"cluster mode must be 'z' (Morton interleave) or 'lead' " +
        s"(lexicographic value slabs on the first column), got '$mode'")
    require(zcols.size >= 2 && zcols.size <= 8,
      s"cluster needs 2..8 columns, got ${zcols.size} (one column wants a " +
        "plain sorted rewrite, not an interleave)")
    require(zcols.distinct.size == zcols.size, s"duplicate cluster columns: $zcols")
    zcols.foreach { c =>
      val dt = m.column(c).dataType
      require(GraftTable.zClusterable(dt),
        s"cannot z-cluster on $c: ${dt.simpleString} (needs an order-" +
          "preserving zone-map encoding; float/double refuse — parquet " +
          "min/max are undefined under NaN)")
    }
    val modeOpt = Some(mode).filter(_ != "z")
    rewriteBase(m, "cluster",
      Some(buildClusterSpec(m.copy(clusterMode = modeOpt), zcols, nFiles)),
      Some(zcols.map(c => m.column(c).id)), Some(nFiles).filter(_ > 0),
      modeOpt)
  }

  /** Clear the persisted clustering spec with a plain PK-sorted rewrite —
    * later compactions stop re-clustering. */
  def uncluster(): Unit = rewriteBase(meta, "uncluster", None, None, None, None)

  /** Equi-depth cut points per cluster column (bounded driver work at any
    * table size) folded into the Morton-code spec the base writer applies. Row
    * count for the sampling fraction comes from MANIFEST footer counts
    * (no extra count job); unknown counts (-1 in old manifests) fall back
    * to one count job. */
  private def buildClusterSpec(m: TableMeta, zcols: Seq[String],
      nFiles: Int): GraftTable.ZCluster = {
    val manifestRows =
      if (m.baseFiles.forall(_.rows >= 0L))
        Some(m.baseFiles.map(_.rows).sum + m.deltaFiles.map(f => math.max(0L, f.rows)).sum)
      else None
    buildClusterSpecFrom(m, zcols, nFiles, read(m, hidden = true), manifestRows)
  }

  /** Spec over an explicit frame: compactTablet clusters one tablet with
    * TABLET-LOCAL cuts (tighter bins than global ones there).
    *
    * Cuts come from a DETERMINISTIC hash sample of the ORDER-PRESERVING
    * ENCODED values (encodeKeyExpr — the zone maps' own comparison
    * domain), sorted driver-side and thinned to ≤255 evenly-spaced
    * separators per column: exact ordering for 64-bit domains and
    * full-length strings where approxQuantile's double domain collapses
    * everything past 2^53 (a measured failure: 50 distinct host names
    * binned identically). The sample hashes ROW IDENTITY (the PK
    * columns) — hashing the cluster values would sample whole distinct
    * TUPLES all-or-nothing, which on low-NDV combinations is an empty
    * sample (silent no-op clustering) or a heavy-hitter driver collect.
    * Driver memory is bounded by the ~60k-row sample × 64-char truncated
    * cuts (a truncated separator is still a valid monotone separator —
    * bins shift, order never inverts); the 2^40 hash modulus keeps the
    * fraction scaling down past 10^10 rows. `rowsHint` (manifest footer
    * counts) sizes the fraction without a count job — the rewrite pays
    * one sample pass plus the write. A fraction ~2× off from a stale
    * hint only moves the sample size, never correctness. */
  private def buildClusterSpecFrom(m: TableMeta, zcols: Seq[String],
      nFiles: Int, snapshot: DataFrame,
      rowsHint: Option[Long]): GraftTable.ZCluster = {
    def encCol(c: String, resolve: String => Column): Column =
      GraftTable.encodeKeyExpr(m.column(c).dataType, resolve(c)).getOrElse(
        throw new IllegalStateException(
          s"cluster column $c passed zClusterable but has no encoding (guard drift)"))
    val zAlias = zcols.indices.map(i => s"_graft_zc$i")
    val keyed = snapshot.select(
      m.keyCols.map(col) ++
        zcols.zip(zAlias).map { case (c, a) => encCol(c, col(_)).as(a) }: _*)
    val n = rowsHint.getOrElse(keyed.count())
    val mod = 1L << 40
    val thresh = math.max(1L,
      math.min(mod, (60000.0 / math.max(1L, n) * mod).toLong))
    val sampled = keyed
      .filter(pmod(xxhash64(m.keyCols.map(col): _*), lit(mod)) < lit(thresh))
      .select(zAlias.map(col): _*)
      .collect()
    // "lead" mode: only the FIRST column bins — the combined code is then
    // monotone in the lead alone (zorderExpr spreads a lone non-zero bin
    // order-preservingly), so repartitionByRange cuts pure lead-value
    // slabs. The trailing columns still order rows WITHIN a slab file
    // (sortWithinPartitions appends the PK), they just claim no bits.
    val leadOnly = m.clusterMode.contains("lead")
    val cuts: Map[String, Seq[String]] = zcols.zipWithIndex.map { case (c, i) =>
      val vs =
        if (leadOnly && i > 0) Array.empty[String]
        else sampled.flatMap(r => Option(r.getString(i))).sorted
      // 255 evenly-spaced quantile indices — a floor(len/256) stride would
      // overshoot and truncate separators from the TOP of the domain,
      // collapsing up to half the range into the highest bin
      c -> (1 to 255).map(q => q * vs.length / 256)
        .filter(j => j > 0 && j < vs.length)
        .map(j => vs(j).take(64)).distinct.sorted
    }.toMap
    GraftTable.ZCluster(resolve =>
      GraftTable.zorderExpr(zcols.map(c => (encCol(c, resolve), cuts(c)))),
      nFiles)
  }

  private def rewriteBase(m: TableMeta, op: String,
      spec: Option[GraftTable.ZCluster],
      newClusterBy: Option[Seq[Int]],
      newClusterFiles: Option[Int],
      newClusterMode: Option[String]): Unit = {
    val v = m.version + 1
    // the rewritten base has no dropped-range rows → the masks retire
    // (uncovered ranges stay uncovered for writes)
    publish { a =>
      // the write must see the clusterBy being COMMITTED (the first
      // cluster() rewrite happens before the ids land in the manifest) so
      // boundsColumns prioritizes the cluster columns inside the zone-map cap
      val files = writeFileset(a, m.copy(clusterBy = newClusterBy), read(m, hidden = true), v,
        BaseToken, Layout.Base(spec), v,
        // snapshot bytes from the manifest — never run the optimizer over
        // the MOR fold just to size the write
        Some(BigInt((m.baseFiles ++ m.deltaFiles).map(f => GraftTable.fileSize(f.path)).sum)))
      m.copy(version = v, timestampMs = now(), operation = op,
        baseFiles = files, deltaFiles = Nil, droppedRanges = None,
        clusterBy = newClusterBy, clusterFiles = newClusterFiles,
        clusterMode = newClusterMode)
    }
  }

  // ------------------------------------------------------ schema evolution

  /** ADD_COLUMN (D2, master/master.proto:795-802). Old files readable; the
    * new column is filled from `default` on read. */
  def addColumn(colName: String, dataType: DataType, nullable: Boolean = true,
      default: Option[String] = None): Unit = {
    val m = meta
    require(!m.columns.exists(_.name == colName), s"column exists: $colName")
    // rows written before the add read the default; without one a
    // non-nullable column would read NULL, contradicting its own schema
    // (the reference likewise requires a default for non-nullable adds)
    require(nullable || default.isDefined,
      s"non-nullable column $colName requires a default (existing rows must read something)")
    val used = m.columns.map(_.physName).toSet ++ m.retiredPhysNames
    val phys = if (used.contains(colName)) s"${colName}_cid${m.nextColId}" else colName
    val cm = ColumnMeta(m.nextColId, colName, phys, nullableNested(dataType).json, nullable,
      isKey = false, defaultValue = default)
    bumpMeta(m.copy(columns = m.columns :+ cm, nextColId = m.nextColId + 1), "add_column")
  }

  /** RENAME_COLUMN — logical name only; files keep the physical name, so no
    * rewrite (the point of id-based schemas, common/schema.h:723). Hash and
    * range component references follow the rename (they store column NAMES;
    * the physical layout is unchanged since bucketing resolves through the
    * column's physName, which a rename never touches). */
  def renameColumn(from: String, to: String): Unit = {
    val m = meta
    require(m.columns.exists(_.name == from), s"no such column: $from")
    require(!m.columns.exists(_.name == to), s"column exists: $to")
    bumpMeta(m.copy(
      columns = m.columns.map(c => if (c.name == from) c.copy(name = to) else c),
      hash = m.hash.map(hc => hc.copy(cols = hc.cols.map(c => if (c == from) to else c))),
      range = m.range.map { r =>
        val r2 = if (r.col == from) r.copy(col = to) else r
        r2.copy(moreCols = r2.moreCols.map(_.map(c => if (c == from) to else c)))
      }),
      "rename_column")
  }

  /** RENAME TABLE — logical name only, the storage location is the
    * table's identity (reference: `kudu table rename_table`,
    * AlterTableOptions.RenameTable). */
  def renameTable(newName: String): Unit = {
    require(newName.nonEmpty, "table name must be non-empty")
    bumpMeta(meta.copy(name = newName), "rename_table")
  }

  /** ALTER column comment (reference: `kudu table column_set_comment`;
    * ColumnSchemaPB.comment, common/common.proto:134-177). None clears. */
  def setComment(colName: String, comment: Option[String]): Unit = {
    val m = meta
    m.column(colName) // existence check
    bumpMeta(m.copy(columns = m.columns.map(c =>
      if (c.name == colName) c.copy(comment = comment) else c)), "set_comment")
  }

  /** DROP_COLUMN — metadata-only; physName is retired so a later add of the
    * same name can't resurrect old file data. */
  def dropColumn(colName: String): Unit = {
    val m = meta
    val cm = m.column(colName)
    require(!cm.isKey, s"cannot drop key column $colName")
    require(!m.hash.exists(_.cols.contains(colName)),
      s"cannot drop hash-partition column $colName")
    require(!m.range.exists(_.columns.contains(colName)),
      s"cannot drop range-partition column $colName")
    bumpMeta(m.copy(columns = m.columns.filterNot(_.name == colName),
      retiredPhysNames = m.retiredPhysNames :+ cm.physName), "drop_column")
  }

  /** ALTER column type, widening only (INT8→…→INT64, FLOAT→DOUBLE, int→
    * DOUBLE, DECIMAL precision growth). Metadata-only: the column gets a new
    * id + physical name, files written before the widen keep their narrow
    * physical type and are cast up at read via the prior-generation remap
    * ([[physGenOf]]) — the same id-based machinery that serves renames/adds
    * (common/schema.cc GetMappedReadProjection; the reference itself forbids
    * type ALTER, master.cc AlterTable — this engine widens losslessly
    * instead, the operation a long-lived training-data pipeline actually
    * needs when a counter outgrows INT32). Key / hash / range columns are
    * rejected: their bytes feed partition hashing and range keys, which must
    * stay stable across the fileset. */
  def widenColumnType(colName: String, to: DataType): Unit = {
    val m = meta
    val cm = m.column(colName)
    val from = cm.dataType
    require(!cm.isKey, s"cannot widen key column $colName")
    require(!m.hash.exists(_.cols.contains(colName)),
      s"cannot widen hash-partition column $colName")
    require(!m.range.exists(_.columns.contains(colName)),
      s"cannot widen range-partition column $colName")
    require(widens(from, to),
      s"not a lossless widening: ${from.simpleString} -> ${to.simpleString}")
    val used = m.columns.map(_.physName).toSet ++ m.retiredPhysNames
    val phys0 = s"${colName}_cid${m.nextColId}"
    val phys = if (used.contains(phys0)) s"${phys0}_w" else phys0
    val widened = cm.copy(id = m.nextColId, physName = phys,
      dataTypeJson = to.json,
      priorGens = Some(cm.priorGenerations :+
        PriorGen(cm.id, cm.physName, cm.dataTypeJson)))
    bumpMeta(m.copy(
      columns = m.columns.map(c => if (c.name == colName) widened else c),
      nextColId = m.nextColId + 1,
      retiredPhysNames = m.retiredPhysNames :+ cm.physName), "widen_column_type")
  }

  /** Lossless type widenings (every `from` value is exactly representable
    * in `to`): the integer chain, FLOAT→DOUBLE, 32-bit-or-narrower ints →
    * DOUBLE (53-bit mantissa), and DECIMAL growth that does not shrink
    * scale or integer digits. */
  private def widens(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType)  => true
    case (ShortType, IntegerType | LongType | DoubleType)             => true
    case (IntegerType, LongType | DoubleType)                         => true
    case (FloatType, DoubleType)                                      => true
    case (a: DecimalType, b: DecimalType) =>
      b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale &&
        (b.precision > a.precision || b.scale > a.scale)
    case (ByteType, b: DecimalType)    => b.precision - b.scale >= 3
    case (ShortType, b: DecimalType)   => b.precision - b.scale >= 5
    case (IntegerType, b: DecimalType) => b.precision - b.scale >= 10
    case (LongType, b: DecimalType)    => b.precision - b.scale >= 19
    case _ => false
  }

  private def bumpMeta(m: TableMeta, op: String): Unit =
    TableMeta.write(m.copy(version = m.version + 1, timestampMs = now(), operation = op))

  /**
   * DROP RANGE PARTITION (the other half of D2 — reference:
   * AlterTableOptions.java:362-394 dropRangePartition, master.proto
   * AlterTableRequestPB.DROP_RANGE_PARTITION). Metadata-only, the
   * time-series retention fast path: base files carrying the range's
   * partition coordinate leave the fileset without being read, delta rows
   * in the range written at or before this version are masked at read time
   * (made physical by the next compaction), and the range becomes
   * non-covered — writes touching it error until [[addRangePartition]]
   * re-covers it (the master's non-covered-range error).
   */
  def dropRangePartition(rangeKey: String): Unit = {
    val m = meta
    require(m.range.isDefined, s"table ${m.name} has no range component")
    require(!m.uncovered.contains(rangeKey), s"range $rangeKey already dropped")
    TableMeta.write(m.copy(version = m.version + 1, timestampMs = now(),
      operation = "drop_range_partition",
      baseFiles = m.baseFiles.filterNot(_.rangeKey.contains(rangeKey)),
      droppedRanges = Some(m.rangeDrops :+ RangeDrop(rangeKey, m.version)),
      uncoveredRanges = Some(m.uncovered :+ rangeKey)))
  }

  /** ADD RANGE PARTITION — re-covers a previously dropped range so writes
    * land again (granularity tables auto-cover all other ranges, so only a
    * dropped range needs explicit re-adding; AlterTableOptions.java:321).
    * `hashBuckets` optionally gives the re-added range its own hash bucket
    * count (per-range custom hash schema, common/partition.h:268 — the
    * reference likewise fixes it at range-add time); the layout
    * materializes at the next compaction. */
  def addRangePartition(rangeKey: String, hashBuckets: Option[Int] = None): Unit = {
    val m = meta
    require(m.range.isDefined, s"table ${m.name} has no range component")
    require(m.uncovered.contains(rangeKey),
      s"range $rangeKey is already covered (granularity ranges auto-cover on write)")
    hashBuckets.foreach { b =>
      require(m.hash.size == 1,
        "per-range hash schemas support a single hash component")
      require(b > 0, "bucket count must be positive")
      require(!m.baseFiles.exists(_.rangeKey.contains(rangeKey)),
        s"range $rangeKey still has base files; its hash schema is fixed")
    }
    TableMeta.write(m.copy(version = m.version + 1, timestampMs = now(),
      operation = "add_range_partition",
      uncoveredRanges = Some(m.uncovered.filterNot(_ == rangeKey)),
      rangeHashBuckets = hashBuckets
        .map(b => m.rangeHashBucketsMap + (rangeKey -> b))
        .orElse(m.rangeHashBuckets)))
  }

  /** The rows a drop record kills, as a predicate over the range column.
    * Bounds-mode drops use the remembered interval (the key left the
    * covering list at drop time); granularity drops match the derived key. */
  private def dropRowPred(m: TableMeta, r: RangeComponent, d: RangeDrop): Column = {
    if (d.bounded.contains(true)) {
      val cs = r.columns.map(col)
      val dts = r.columns.map(m.column(_).dataType)
      boundContainsT(d.lowerTuple, d.upperTuple, cs, dts) &&
        cs.map(_.isNotNull).reduce(_ && _)
    } else rangeKeyExprM(m, r, col) === lit(d.key)
  }

  /** The rows pending range drops killed, as a predicate over the range
    * columns (None: no drop pending). Base files never postdate a live drop
    * record (compaction clears the records), so every base row in a
    * dropped range is dead; the V2 scan masks the base rows that can hold
    * them — those of coordinate-less files — with it. A delta row
    * (`deltas`, the predicate then also reads the seq column) in a dropped
    * range is dead only if written at or before the drop: rows upserted
    * after a re-add live. A dead delta row reads as its key's tombstone,
    * never as nothing: an upsert that moved a key into the range
    * superseded the key's older rows elsewhere, which must stay dead. */
  private def droppedRows(m: TableMeta, deltas: Boolean): Option[Column] =
    (m.rangeDrops, m.range) match {
      case (drops, Some(r)) if drops.nonEmpty =>
        Some(drops.map { d =>
          val in = dropRowPred(m, r, d)
          if (deltas) in && col(SeqCol) <= lit(d.version) else in
        }.reduce(_ || _))
      case _ => None
    }

  /** ADD RANGE PARTITION with explicit [lower, upper) bounds (bounds-mode
    * tables; CreateTableOptions.addRangePartition /
    * AlterTableOptions.java:321-361 analog). The new bound must not overlap
    * any existing one. */
  def addRangeBound(key: String, lower: Option[String], upper: Option[String]): Unit =
    addRangeBoundT(key, lower.map(Seq(_)), upper.map(Seq(_)))

  /** ADD RANGE PARTITION with tuple-lexicographic [lower, upper) bounds —
    * the multi-column form (composite encoded bounds, common/partition.h:169).
    * Single-column tables may use either entry point. */
  def addRangeBoundT(key: String, lowers: Option[Seq[String]],
      uppers: Option[Seq[String]]): Unit = {
    val m = meta
    val r = m.range.getOrElse(
      throw new IllegalArgumentException(s"table ${m.name} has no range component"))
    require(r.isBounds, s"table ${m.name} uses granularity ranges; use addRangePartition")
    require(!r.boundsList.exists(_.key == key), s"range bound $key already exists")
    val dts = r.columns.map(m.column(_).dataType)
    (lowers.toSeq ++ uppers.toSeq).foreach { t =>
      require(t.length == r.columns.length,
        s"bound tuple arity ${t.length} != range columns ${r.columns.mkString("(", ",", ")")}")
    }
    (lowers, uppers) match {
      case (Some(l), Some(u)) =>
        require(ltValsT(dts, l, u),
          s"empty range bound: [${l.mkString(",")}, ${u.mkString(",")})")
      case _ =>
    }
    val nb =
      if (r.isMulti) RangeBound(key, None, None, lowers = lowers, uppers = uppers)
      else RangeBound(key, lowers.map(_.head), uppers.map(_.head))
    r.boundsList.find(b => boundsOverlapT(dts, b, nb)).foreach { clash =>
      throw new IllegalArgumentException(
        s"range bound $key overlaps existing bound ${clash.key}")
    }
    TableMeta.write(m.copy(version = m.version + 1, timestampMs = now(),
      operation = "add_range_partition",
      range = Some(r.copy(bounds = Some(r.boundsList :+ nb)))))
  }

  /** DROP RANGE PARTITION by bound key (bounds-mode tables): metadata-only —
    * base files with the coordinate leave the fileset unread, delta rows in
    * the interval written at or before this version are masked, and the
    * interval becomes non-covered until a bound covering it is re-added. */
  def dropRangeBound(key: String): Unit = {
    val m = meta
    val r = m.range.getOrElse(
      throw new IllegalArgumentException(s"table ${m.name} has no range component"))
    require(r.isBounds, s"table ${m.name} uses granularity ranges; use dropRangePartition")
    val b = r.boundsList.find(_.key == key).getOrElse(
      throw new IllegalArgumentException(s"no such range bound: $key"))
    TableMeta.write(m.copy(version = m.version + 1, timestampMs = now(),
      operation = "drop_range_partition",
      baseFiles = m.baseFiles.filterNot(_.rangeKey.contains(key)),
      range = Some(r.copy(bounds = Some(r.boundsList.filterNot(_.key == key)))),
      droppedRanges = Some(m.rangeDrops :+
        RangeDrop(key, m.version, b.lower, b.upper, bounded = Some(true),
          lowers = b.lowers, uppers = b.uppers))))
  }

  /** Key→partition-id column for this table's spec — the client-side
    * Partitioner analog (D6, client/client.h:3572 KuduPartitioner). Apply to
    * any DataFrame carrying the hash columns. */
  def partitionIdColumn(): Column = bucketExpr(meta, col)

  /**
   * Tablet coordinates for one primary key (`kudu table locate_row`,
   * tools/tool_action_table.cc LocateRow): evaluates the writer's own
   * partition expressions over the key values — metadata-only, no scan,
   * no job. Key values arrive in external string form (like the CLI's
   * JSON-array argument) and cast to the key column types; returns
   * (hash bucket, range key) — None for the components the layout lacks.
   */
  def locateRow(keyValues: Map[String, String]): (Option[Int], Option[String]) = {
    val m = meta
    val partCols = (m.hash.flatMap(_.cols) ++
      m.range.toSeq.flatMap(_.columns)).distinct
    val missing = partCols.filterNot(keyValues.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"locate_row needs values for partition columns: ${missing.mkString(",")}")
    import spark.implicits._
    val row = keyValues.toSeq.foldLeft(Seq(1).toDF("_one")) { case (df, (n, v)) =>
      df.withColumn(n, lit(v).cast(m.column(n).dataType))
    }
    var sel = row
    var outs = Seq.empty[String]
    if (m.hash.nonEmpty) {
      sel = sel.withColumn("_graft_b", GraftTable.bucketExpr(m, col))
      outs :+= "_graft_b"
    }
    m.range.foreach { r =>
      sel = sel.withColumn("_graft_r", GraftTable.rangeKeyExprM(m, r, col))
      outs :+= "_graft_r"
    }
    if (outs.isEmpty) return (None, None)
    val res = sel.select(outs.map(col): _*).collect()(0)
    val bucket = if (m.hash.nonEmpty && !res.isNullAt(res.fieldIndex("_graft_b")))
      Some(res.getInt(res.fieldIndex("_graft_b"))) else None
    val rk = if (m.range.isDefined && !res.isNullAt(res.fieldIndex("_graft_r")))
      Some(res.getString(res.fieldIndex("_graft_r"))) else None
    // the reference's "row does not belong to any currently existing
    // tablet" error: a key routing into a dropped / never-declared range
    rk.foreach { k =>
      if (k == GraftTable.UncoveredKey || m.uncovered.contains(k))
        throw new IllegalArgumentException(
          s"row does not belong to any covered range of ${m.name} (range $k)")
    }
    (bucket, rk)
  }

  /** Registers the current snapshot as a temp view so `spark.sql` works over
    * the engine table (the `kudu table scan` SQL surface, E1). */
  def createOrReplaceView(viewName: String): Unit =
    scan().createOrReplaceTempView(viewName)

  // ------------------------------------------------------------- helpers

  /** Assigns hidden auto-increment ids to an incoming batch that lacks them
    * (per-user-key sequence continuing past the current max — the analog of
    * per-tablet assignment, integration-tests/auto_incrementing-itest.cc). */
  private def assignAutoInc(m: TableMeta, df: DataFrame): DataFrame = {
    if (!m.hasAutoInc || df.columns.contains(AutoIncName)) return df
    val userKeys = m.userKeyCols
    // the max-id lookup joins on the user key — prune it like a presence check
    val maxes = scanForBatch(m, df, userKeys)
      .groupBy(userKeys.map(col): _*)
      .agg(max(col(AutoIncName)).as("_graft_maxid"))
    val orderCols = df.columns.filterNot(userKeys.contains).map(col).toSeq
    val w = Window.partitionBy(userKeys.map(col): _*)
      .orderBy((if (orderCols.nonEmpty) orderCols else Seq(lit(1))): _*)
    df.join(maxes, userKeys, "left")
      .withColumn(AutoIncName,
        coalesce(col("_graft_maxid"), lit(0L)) + row_number().over(w))
      .drop("_graft_maxid")
  }

  /** Casts/raises a batch to exactly the current schema (WRITE defaults
    * applied for absent columns — ColumnSchemaPB write_default_value; the
    * read default fills old FILES, the write default fills new ROWS, and
    * [[changeDefault]] moves only the latter). */
  private def conform(m: TableMeta, df: DataFrame): DataFrame = {
    val cols = m.columns.map { c =>
      if (df.columns.contains(c.name)) col(c.name).cast(c.dataType).as(c.name)
      else writeDefaultLit(c).as(c.name)
    }
    df.select(cols: _*)
  }

  /** Bounded optimistic retry for PK-based mutations (the engine analog of
    * the reference client's transparent retry of transient conflicts —
    * client/client.h:429-531 session error handling retries a batch that
    * hit a concurrent-modification error): a writer that loses the
    * version race re-reads the new head and re-applies the SAME logical
    * operation against it. This is safe because every mutation entry point
    * is a pure function of (current snapshot, input batch) — each attempt
    * re-reads `meta` from scratch — and the loser's attempt fileset was
    * already swept by commitDelta before the conflict propagated, so
    * retries leave no orphans. Only the commit-guard conflict retries;
    * real failures (PK violations, validation errors) surface immediately,
    * and [[transaction]] deliberately does NOT retry (its contract is
    * optimistic abort on any concurrent commit).
    *
    * The retry budget is TIME-based — `graft.commit.retryTimeoutMs`
    * (default 30 s, the reference client's default operation timeout;
    * 0 restores throw-on-first-conflict) — because a count budget starves
    * under contention: N racing writers serialize one commit per round, so
    * the last writer needs ~N-1 rounds whatever the count. Jittered
    * exponential backoff de-aligns the herd. `graft.commit.maxRetries`
    * additionally caps the attempt count when set. */
  private def withCommitRetry[T](body: => T): T = {
    val deadline = System.nanoTime() +
      spark.conf.getOption("graft.commit.retryTimeoutMs").map(_.toLong)
        .getOrElse(30000L) * 1000000L
    val maxAttempts = spark.conf.getOption("graft.commit.maxRetries").map(_.toInt)
      .getOrElse(Int.MaxValue)
    var attempt = 0
    while (true) {
      try return body
      catch {
        case _: ConcurrentCommitException
            if attempt < maxAttempts && System.nanoTime() < deadline =>
          attempt += 1
          Thread.sleep(math.min(25L << math.min(attempt, 5), 400L) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(100L))
      }
    }
    sys.error("unreachable")
  }

  /** A write guard's failure as the typed exception it stands for, the
    * same on both commit paths. A guard raised with raise_error (a
    * duplicate key within the batch, an INSERT key already present, a
    * NULL `_deleted`) reaches the caller wrapped in Spark's job and task
    * errors when a job evaluates it, and bare when the driver does; its
    * raised message becomes a PrimaryKeyException (the key guards) or an
    * IllegalArgumentException (a malformed batch). Any other failure
    * rethrows untouched. */
  private def guardError(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: org.apache.spark.SparkThrowable if s.getCondition == "USER_RAISED_EXCEPTION" =>
        s.getMessageParameters.get("errorMessage")
    } match {
      case Some(msg) if msg.contains("already present in") || msg.contains("duplicate key within") =>
        new PrimaryKeyException(msg)
      case Some(msg) if msg.contains(s"NULL $DeletedCol") => new IllegalArgumentException(msg)
      case _ => e
    }

  /** Commits `rows` (table columns plus the op column) as one delta
    * fileset under version `m.version + 1`, with `propsUpdate` merged into
    * the table properties. `guardDupKeys` fails a batch that names a key
    * twice (the ops of one commit are unordered); `dropDupKeys` keeps one
    * row per key instead (a delete naming a key twice).
    *
    * A batch whose estimated bytes — the caller's manifest-derived hint
    * when it has one (refresh commits join pruned base reads, whose
    * optimizer estimate is garbage-large), else the plan estimate — fit
    * [[GraftTable.broadcastDeltaBytes]] commits on the driver
    * ([[commitOnDriver]]): no write job. A bigger one commits through a
    * Spark write job ([[commitWithJob]]). Both raise the same typed
    * guard errors ([[guardError]]). */
  private def commitDelta(m: TableMeta, rows: DataFrame, op: String,
      guardDupKeys: Boolean = false, dropDupKeys: Boolean = false,
      propsUpdate: Map[String, Option[String]] = Map.empty,
      sizeHintBytes: Option[Long] = None): Unit = {
    val bound = GraftTable.broadcastDeltaBytes
    val estBytes = sizeHintBytes.map(BigInt(_))
      .getOrElse(GraftTable.planBytes(rows, bound))
    val props = propsUpdate.foldLeft(m.propsMap) {
      case (acc, (k, Some(value))) => acc + (k -> value)
      case (acc, (k, None)) => acc - k
    }
    // a known-tiny batch plans statically: a derived batch's collect (or
    // the job path's write) runs as ONE job, not one per shuffle stage;
    // big batches keep AQE
    try {
      if (estBytes <= bound)
        commitOnDriver(m, rows, op, guardDupKeys, dropDupKeys, props, estBytes)
      else commitWithJob(m, rows, op, guardDupKeys, dropDupKeys, props, estBytes)
    } catch { case e: Throwable => throw guardError(e) }
  }

  /** Publishes version `m.version + 1` adding the delta files `write`
    * produces, with table properties `props`. */
  private def publishDelta(m: TableMeta, op: String, props: Map[String, String])(
      write: Attempt => Seq[DataFileMeta]): Unit =
    publish { a =>
      val files = write(a)
      m.copy(version = m.version + 1, timestampMs = now(), operation = op,
        deltaFiles = m.deltaFiles ++ files,
        props = if (props.isEmpty) None else Some(props))
    }

  /** The row checks a write batch with columns `cols` must pass, each the
    * predicate a violating row satisfies and the error it raises:
    * [[coverageCheck]], then [[varcharCheck]]. */
  private def rowChecks(m: TableMeta, cols: Seq[String]): Seq[(Column, () => Throwable)] =
    coverageCheck(m, cols).toSeq ++ varcharCheck(m, cols)

  /** A write touching a non-covered range: a granularity range that was
    * dropped and not re-added, or — in bounds mode — any value outside
    * every declared [lower, upper) bound (reference: non-covered-range row
    * error, row_operations). */
  private def coverageCheck(m: TableMeta, cols: Seq[String]): Option[(Column, () => Throwable)] = {
    val unc = m.uncovered
    m.range.filter(_.columns.forall(cols.contains)).collect {
      case r if r.isBounds =>
        (rangeKeyExprM(m, r, col) === lit(UncoveredKey), () => new PrimaryKeyException(
          s"write touches a range not covered by any declared bound of " +
            s"${m.name} (bounds: ${r.boundsList.map(_.key).mkString(",")}); " +
            "addRangeBound first"))
      case r if unc.nonEmpty =>
        (rangeKeyExprM(m, r, col).isin(unc: _*), () => new PrimaryKeyException(
          s"write touches non-covered range partition(s) ${unc.mkString(",")} " +
            s"of ${m.name}; addRangePartition first"))
    }
  }

  /** A write exceeding a VARCHAR(n) attribute (the reference rejects
    * over-length VARCHAR writes per row). */
  private def varcharCheck(m: TableMeta, cols: Seq[String]): Option[(Column, () => Throwable)] = {
    val limited = m.columns.filter(c => c.varcharLength.isDefined && cols.contains(c.name))
    Option.when(limited.nonEmpty)((
      limited.map(c => length(col(c.name)) > c.varcharLength.get).reduce(_ || _),
      () => new IllegalArgumentException(
        s"write exceeds varchar length on ${m.name} (" +
          limited.map(c => s"${c.name} varchar(${c.varcharLength.get})").mkString(", ") + ")")))
  }

  /** Runs `checks` over `rows` (of `estBytes`, [[GraftTable.planned]]),
    * one bounded probe each. */
  private def requireRows(rows: DataFrame, checks: Seq[(Column, () => Throwable)],
      estBytes: Option[BigInt] = None): Unit =
    checks.foreach { case (bad, error) =>
      if (GraftTable.planned(rows.filter(bad).limit(1), estBytes).count() > 0) throw error()
    }

  /** Errors when a write batch touches a non-covered range ([[coverageCheck]]). */
  private[table] def requireCovered(m: TableMeta, rows: DataFrame): Unit =
    requireRows(rows, coverageCheck(m, rows.columns.toSeq).toSeq)

  /** The error a duplicate key within one `op` batch raises, naming the key. */
  private def dupKeyMessage(m: TableMeta, op: String): Column =
    concat(
      lit(s"duplicate key within one $op batch on ${m.name}: ("),
      concat_ws(",", m.keyCols.map(c => col(c).cast("string")): _*),
      lit(") — ops within one commit are unordered; " +
        "use upsert(df, lastWinsBy = <orderCol>) for defined last-wins"))

  /** A batch whose key columns are ALL constant-foldable (e.g.
    * withColumn(key, lit(...))): Catalyst folds a window's partition spec
    * over them away entirely, so it is one key group by construction, and
    * "more than one row" is its duplicate. Partially foldable keys
    * partition correctly. */
  private def keysAllFoldable(m: TableMeta, rows: DataFrame): Boolean =
    rows.select(m.keyCols.map(col): _*).queryExecution.optimizedPlan match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.forall {
          // Alias never reports foldable itself — ask its child
          case a: org.apache.spark.sql.catalyst.expressions.Alias =>
            a.child.foldable
          case e => e.foldable
        }
      case _ => false
    }

  private def constantKeyError(m: TableMeta, op: String): PrimaryKeyException =
    new PrimaryKeyException(
      s"duplicate key within one $op batch on ${m.name}: every row " +
        "carries the same constant key — ops within one commit are " +
        "unordered; use upsert(df, lastWinsBy = <orderCol>) for defined " +
        "last-wins")

  /** The driver commit of a bounded batch, the reference's in-tablet
    * apply of a write batch (tablet/memrowset.h, tablet/deltamemstore.h):
    * no distributed write job. The batch, cast to the table types, is
    * collected through its executed plan
    * ([[GraftSqlBridge.collectInternal]]: a local batch or an inline read
    * collects with no job, a derived batch in its own collect); the row
    * checks and the duplicate-key guard run over the collected rows with
    * the job path's messages, and the rows are written on the driver as
    * one PK-sorted file ([[writeFileset]]). A failed guard leaves no
    * attempt dir: it fails before the write. */
  private def commitOnDriver(m: TableMeta, rows: DataFrame, op: String,
      guardDupKeys: Boolean, dropDupKeys: Boolean, props: Map[String, String],
      estBytes: BigInt): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Predicate
    val v = m.version + 1
    val schema = deltaStruct(m)
    val batch = rows.select(m.columns.map(c => col(c.name).cast(c.dataType).as(c.name)) ++
      Seq(col(OpCol), lit(v).as(SeqCol)): _*)
    // local rows collect with no job under any plan
    val collected = GraftSqlBridge.collectInternal(
      if (GraftTable.isLocal(rows)) batch else GraftTable.planned(batch, Some(estBytes)))
    rowChecks(m, rows.columns.toSeq).foreach { case (bad, error) =>
      val p = Predicate.createInterpreted(bindOn(spark, schema, _.filter(bad))._2.get)
      if (collected.exists(p.eval)) throw error()
    }
    val keyIdx = m.keyCols.map(k => m.columns.indexWhere(_.name == k)).toArray
    val types = schema.fields.map(_.dataType)
    val seen = new java.util.HashSet[Seq[Any]]()
    val kept =
      if (dropDupKeys) collected.filter(r => seen.add(MorOverlay.keyOf(r, keyIdx, types)))
      else if (!guardDupKeys) collected
      else {
        collected.find(r => !seen.add(MorOverlay.keyOf(r, keyIdx, types))).foreach { dup =>
          if (keysAllFoldable(m, rows)) throw constantKeyError(m, op)
          val msg = bindOn(spark, schema, _.select(dupKeyMessage(m, op)))._1.head
          throw new PrimaryKeyException(msg.eval(dup).toString)
        }
        collected
      }
    publishDelta(m, op, props)(a =>
      writeFileset(a, m, kept, v, DeltaToken, Layout.Unrouted(1), v))
  }

  /** The Spark-job commit of a batch past the driver bound. */
  private def commitWithJob(m: TableMeta, rows0: DataFrame, op: String,
      guardDupKeys: Boolean, dropDupKeys: Boolean, props: Map[String, String],
      estBytes: BigInt): Unit = {
    val rows = if (dropDupKeys) rows0.dropDuplicates(m.keyCols) else rows0
    requireRows(rows, rowChecks(m, rows.columns.toSeq), Some(estBytes))
    val v = m.version + 1
    val out0 = rows.withColumn(SeqCol, lit(v))
    // Intra-batch duplicate-key guard, evaluated INSIDE the write job (a
    // window count piggybacked on the commit's own shuffle — no extra Spark
    // job per mutation): a duplicate key fails the write before any
    // metadata commits. Attached to SeqCol, which is always materialized,
    // so column pruning cannot drop the check. An all-constant key folds
    // the window's partition spec away (a GLOBAL single-partition window),
    // so that rare shape checks "more than one row" with a limit(2) probe
    // instead ([[keysAllFoldable]]).
    val foldable = guardDupKeys && keysAllFoldable(m, out0)
    if (foldable && GraftTable.planned(rows.limit(2), Some(estBytes)).count() > 1)
      throw constantKeyError(m, op)
    val out = if (guardDupKeys && !foldable) {
      // size the guard window's exchange by the batch's estimated bytes —
      // the same derivation as the CDC fold; AQE previously re-coalesced
      // this width at runtime, the explicit width is right either way
      val guardParts = ((estBytes + GraftTable.CdcFoldTargetBytes - 1) /
        GraftTable.CdcFoldTargetBytes)
        .min(BigInt(spark.conf.get("spark.sql.shuffle.partitions").toInt))
        .max(BigInt(1)).toInt
      val w = Window.partitionBy(m.keyCols.map(col): _*)
      out0.repartition(guardParts, m.keyCols.map(col): _*).withColumn(SeqCol,
        when(count(lit(1)).over(w) > 1, raise_error(dupKeyMessage(m, op)).cast(LongType))
          .otherwise(col(SeqCol)))
    } else out0
    // Deltas stay small between compactions; a few sorted files keep the
    // merge-on-read broadcast cheap. graft.delta.writePartitions tunes file
    // count (streaming sinks commit many small batches → 1 file each).
    // Single-file commits coalesce instead of adding a whole extra shuffle
    // — the upstream dedup shuffle already bounded the partition count,
    // and a micro-batch is small by construction. A failed write job (e.g.
    // an in-job PK guard fired) or a lost metadata race sweeps the attempt.
    val deltaParts = spark.conf.getOption("graft.delta.writePartitions")
      .map(_.toInt).getOrElse(DeltaWritePartitions)
    publishDelta(m, op, props)(a =>
      writeFileset(a, m, out, v, DeltaToken,
        Layout.Unrouted(deltaParts, shuffle = deltaParts != 1), v, Some(estBytes)))
  }

  // ---------------------------------------------------------- file writer

  /** The attempt directories of one commit — swept together when any
    * write, footer read or the manifest publish fails. */
  private final class Attempt {
    private val dirs = ArrayBuffer[String]()
    def add(dir: String): String = { dirs += dir; dir }
    def sweep(): Unit = dirs.foreach(d => sweepTree(Paths.get(d)))
  }

  /** Publishes the manifest `body` builds from the filesets it writes
    * through [[writeFileset]]. The manifest write is the CREATE_NEW guard:
    * a lost race, like a failed write job or footer read inside `body`,
    * sweeps every attempt dir and rethrows — nothing committed, nothing
    * orphaned (fsckRepair stays the backstop for a writer that died
    * before reaching the sweep). */
  private def publish(body: Attempt => TableMeta): Unit = {
    val a = new Attempt
    try TableMeta.write(body(a))
    catch {
      case e: Throwable =>
        a.sweep()
        throw e
    }
  }

  /**
   * THE data-file writer: every base and delta fileset the table stores is
   * laid out, written and statted here — the role of the reference's one
   * CFile writer under both base rowsets and delta stores
   * (cfile/cfile_writer.cc, tablet/deltafile.h), so a column's codec or
   * encoding attribute reaches every file. `rows` are logical rows (plus
   * `_graft_op`/`_graft_seq` for a delta layout). The writer projects
   * them to physical names, adds the tablet route columns the layout
   * needs, PK-sorts within each file and writes INT64-micros timestamps
   * (Spark's INT96 default records no usable statistics, so timestamp
   * keys would get no bounds) with the table codec into the attempt dir
   * `c<v>_<token>_<nonce>` ([[GraftTable.attemptDir]]). It returns the
   * files' manifest entries stamped `seq` ([[GraftTable.fileMetas]]).
   * `planBytes` is the write's input size: at or under
   * [[GraftTable.StaticPlanBytes]] the write plans statically, None
   * keeps AQE. Both settings hold for the write alone: it plans in a clone
   * of the session ([[GraftSqlBridge.planIn]]), and its writer options
   * name [[GraftSqlBridge.localWriteFs]]. `dropEmpty` deletes zero-row
   * part files (and the whole dir when nothing is left).
   *
   * This writes through a Spark job. A delta fileset whose rows are
   * already on the driver — a bounded commit ([[commitOnDriver]]) or fold
   * ([[writeFold]]), within [[GraftTable.broadcastDeltaBytes]] — is
   * written there by the overload below, into the same layout; every
   * `Base` layout and every input past the bound takes this path.
   */
  private def writeFileset(a: Attempt, m: TableMeta, rows0: DataFrame, v: Long,
      token: String, layout: Layout, seq: Long, planBytes: Option[BigInt],
      dropEmpty: Boolean = false): Seq[DataFileMeta] = {
    val dir = a.add(attemptDir(location, v, token))
    val rows = GraftSqlBridge.planIn(rows0, GraftTable.staticPlan(planBytes) +
      (org.apache.spark.sql.internal.SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
        FileTimestampType))
    // every layout PK-sorts within each output file — except the
    // clustered rewrite, whose file order is (z, PK)
    val (kind, sorted) = layout match {
      case Layout.Base(cluster) => ("base", Some(cluster.isEmpty))
      case _ => ("delta", None)
    }
    val base = kind == "base"
    // every field optional, as every writer writes it
    def optional(c: Column) = GraftSqlBridge.toColumn(
      graft.functions.expressions.Optional(GraftSqlBridge.toExpression(c)))
    val out = rows.select(
      m.columns.map(c => optional(col(c.name).cast(c.dataType)).as(c.physName)) ++
        (if (base) Nil else Seq(optional(col(OpCol)).as(OpCol),
          optional(col(SeqCol)).as(SeqCol))): _*)
    val keys = m.columns.filter(_.isKey).map(c => col(c.physName))
    val partCols = (if (m.hash.nonEmpty) Seq(BucketCol) else Nil) ++
      (if (m.range.isDefined) Seq(RangeCol) else Nil)
    lazy val routed = m.range.foldLeft(
      if (m.hash.isEmpty) out
      else out.withColumn(BucketCol, bucketExpr(m, n => col(m.column(n).physName)))) {
      (df, r) => df.withColumn(RangeCol, rangeKeyExprM(m, r, n => col(m.column(n).physName)))
    }
    def unrouted(df: DataFrame, files: Int, shuffle: Boolean) =
      (if (shuffle) df.repartition(files) else df.coalesce(files))
        .sortWithinPartitions(keys: _*).write
    def byTablet(df: DataFrame) =
      df.repartition(partCols.map(col): _*)
        .sortWithinPartitions(partCols.map(col) ++ keys: _*)
        .write.partitionBy(partCols: _*)
    val writes = layout match {
      case Layout.Unrouted(files, shuffle) => Seq(unrouted(out, files, shuffle) -> dir)
      case Layout.Routed => Seq(byTablet(routed) -> dir)
      case Layout.RoutedUpserts => Seq(
        byTablet(routed.filter(col(OpCol) =!= lit(OpDelete))) -> s"$dir/routed",
        unrouted(out.filter(col(OpCol) === lit(OpDelete)), DeltaWritePartitions,
          shuffle = true) -> s"$dir/tomb")
      case Layout.Base(cluster) =>
        Seq(baseWriter(m, routed, partCols, keys, cluster,
          planBytes.getOrElse(BigInt(Long.MaxValue))) -> dir)
    }
    // per-column encoding attribute → parquet dictionary toggle; table
    // codec attribute → file codec (common/common.proto:90-100 analog)
    def withAttrs(w: DataFrameWriter[Row]) = {
      val enc = m.columns.filter(_.encoding.isDefined).foldLeft(w) { (w, c) =>
        w.option(s"parquet.enable.dictionary#${c.physName}",
          (c.encoding.get == "dictionary").toString)
      }
      effectiveCodec(m).fold(enc)(cc => enc.option("compression", cc))
        .options(GraftSqlBridge.localWriteFs)
    }
    writes.foreach { case (w, d) => withAttrs(w).mode("overwrite").parquet(d) }
    val files = fileMetas(spark, m, listParquet(dir), kind, seq, Some(dir), sorted)
    if (!dropEmpty) files
    else {
      val (kept, empty) = files.partition(_.rows != 0)
      if (kept.isEmpty) sweepTree(Paths.get(dir))
      else empty.foreach(f => Files.deleteIfExists(Paths.get(f.path)))
      kept
    }
  }

  /** [[writeFileset]]'s delta layouts written on the driver, from delta
    * rows already there: every table column under its logical name and
    * current type, then op and seq ([[deltaStruct]] order). No Spark job
    * runs and no session conf changes: each file goes through the stock
    * parquet writer ([[GraftSqlBridge.openParquetRowWriter]]) under
    * [[GraftSqlBridge.parquetWriterConf]], which pins INT64-micros
    * timestamps and the table codec; the encoding attributes ride the
    * same conf. The attempt dir, physical projection and route values are
    * the job path's (`_b=`/`_r=` dirs from the route expressions, bound on
    * the driver by [[GraftTable.bindOn]]). Rows are PK-sorted within each
    * file, one file per route; an unrouted set is one route, written even
    * when empty, like the job path's first write task. */
  private def writeFileset(a: Attempt, m: TableMeta, rows: Array[InternalRow], v: Long,
      token: String, layout: Layout, seq: Long): Seq[DataFileMeta] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, InterpretedUnsafeProjection, SortOrder}
    val dir = a.add(attemptDir(location, v, token))
    val conf = GraftSqlBridge.parquetWriterConf(spark, deltaFileSchema(m), effectiveCodec(m)).value
    // per-column encoding attribute → parquet dictionary toggle
    m.columns.filter(_.encoding.isDefined).foreach { c =>
      conf.set(s"parquet.enable.dictionary#${c.physName}",
        (c.encoding.get == "dictionary").toString)
    }
    val pkOrder = new InterpretedOrdering(m.columns.zipWithIndex.filter(_._1.isKey)
      .map { case (c, i) => SortOrder(BoundReference(i, c.dataType, nullable = true), Ascending) })
    def write(d: String, rs: Seq[InternalRow]): Unit = {
      val w = GraftSqlBridge.openParquetRowWriter(
        s"$d/part-00000-${java.util.UUID.randomUUID()}-c000.parquet", conf)
      try rs.sorted(pkOrder).foreach(w.write) finally w.close()
    }
    val routeCols = (if (m.hash.nonEmpty) Seq(BucketCol -> bucketExpr(m, col)) else Nil) ++
      m.range.map(r => RangeCol -> rangeKeyExprM(m, r, col))
    lazy val route = InterpretedUnsafeProjection.createProjection(bindOn(spark, deltaStruct(m),
      _.select(routeCols.map(_._2.cast(StringType)): _*))._1)
    def byRoute(d: String, rs: Seq[InternalRow]): Unit =
      rs.groupBy { r =>
        val x = route(r)
        routeCols.indices.map(i => if (x.isNullAt(i)) null else x.getUTF8String(i).toString)
      }.foreach { case (values, group) =>
        write(routeCols.map(_._1).zip(values).foldLeft(d) { case (p, (n, value)) =>
          s"$p/${ExternalCatalogUtils.getPartitionPathString(n, value)}"
        }, group)
      }
    layout match {
      case Layout.Unrouted(_, _) => write(dir, rows.toSeq)
      case Layout.Routed => byRoute(dir, rows.toSeq)
      case Layout.RoutedUpserts =>
        val (tomb, ups) = rows.toSeq.partition(MorOverlay.isDelete(_, m.columns.length))
        byRoute(s"$dir/routed", ups)
        write(s"$dir/tomb", tomb)
      case Layout.Base(_) =>
        throw new IllegalArgumentException("a base fileset is written by a Spark job")
    }
    fileMetas(spark, m, listParquet(dir), "delta", seq, Some(dir))
  }

  /** A minor fold's fileset: the latest delta row per key of the delta
    * files `fold`, pending range drops masked, under the newest folded
    * seq (each row keeps its own). A fold of at most
    * [[GraftTable.broadcastDeltaBytes]] reads its rows on the driver
    * through the V2 scan's readers (GraftV2Scan.readTail), folds them with
    * the scan's own fold (MorOverlay.latestPerKey) and writes them on the
    * driver; a bigger one folds and writes in a Spark job
    * ([[latestDeltas]]). */
  private def writeFold(a: Attempt, m: TableMeta, fold: Seq[DataFileMeta], v: Long,
      token: String, layout: Layout): Seq[DataFileMeta] = {
    val bytes = GraftTable.deltaBytes(fold)
    val seq = fold.map(_.seq).max
    if (bytes <= GraftTable.broadcastDeltaBytes) {
      val names = m.columns.map(_.name)
      val latest = MorOverlay.latestPerKey(GraftV2Scan.readTail(m, fold).rows,
        m.keyCols.map(names.indexOf).toArray, m.columns.map(_.dataType).toArray,
        names.length, Some(names.length + 1))
      writeFileset(a, m, latest.values.asScala.toArray, v, token, layout, seq)
    } else writeFileset(a, m, latestDeltas(m, fold), v, token, layout, seq, Some(BigInt(bytes)))
  }

  /** The base layouts over `out` (physical rows with their route columns):
    * hash-bucket (+ range) partition dirs, PK-sorted within each file — one
    * writer per "tablet" (KuduContext.repartitionRows:464-509 analog) —
    * or a z-clustered, salted or range-sorted rewrite; key columns (and
    * columns with the bloom attribute) carry parquet bloom filters. */
  private def baseWriter(m: TableMeta, out: DataFrame, partCols: Seq[String],
      keysPhys: Seq[Column], clusterSpec: Option[GraftTable.ZCluster],
      estBytes: BigInt): DataFrameWriter[Row] = {
    // graft.base.filesPerTablet (default 1): write parallelism within one
    // tablet. One writer per tablet is the reference posture and keeps each
    // tablet a single PK-sorted file (best range-scan pruning) — but a full
    // rewrite of a table whose tablet count is far below the cluster's core
    // count serializes on the tablet count (96 tablets of a 100 TB table =
    // ~1 TB per writer task). A salt on hash(PK) spreads each tablet's rows
    // over N tasks/files; key sets stay disjoint per file (a key has one
    // salt), each file stays PK-sorted, so merge-on-read and point lookups
    // are unchanged — the cost is PK-RANGE scans opening all N files of a
    // tablet (each spans the whole key range), which is why 1 is default.
    val filesPerTablet = spark.conf.getOption("graft.base.filesPerTablet")
      .map(_.toInt).getOrElse(1)
    // explicit partition count when salting: AQE's small-partition coalesce
    // would otherwise merge the salt groups right back into one task
    lazy val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val writer0 = clusterSpec match {
      case Some(zc) =>
        // Z-ORDER clustered rewrite: file assignment follows the Morton
        // interleave of the cluster columns' quantile bins (inside each
        // partition coordinate when the table is hash/range-partitioned),
        // so every output file covers a TIGHT interval of each cluster
        // column and the recorded zone maps prune multi-column predicates.
        // The within-file order is (z, PK): PK-range row-group locality
        // trades away for cluster-column locality — the caller asked for
        // exactly that; point lookups keep the PK bloom filters.
        val zCol = zc.expr(n => col(m.column(n).physName))
        val nOut = if (zc.files > 0) zc.files else nShuffle
        val ranged = out.withColumn(ZOrderCol, zCol)
          .repartitionByRange(nOut, partCols.map(col) :+ col(ZOrderCol): _*)
          .sortWithinPartitions(
            partCols.map(col) ++ Seq(col(ZOrderCol)) ++ keysPhys: _*)
          .drop(ZOrderCol)
        if (partCols.nonEmpty) ranged.write.partitionBy(partCols: _*)
        else ranged.write
      case None if partCols.nonEmpty =>
        // width deliberately unsized: one task per tablet coordinate is
        // the write parallelism that matters (each tablet's rows hash to
        // ONE task regardless), and a bytes-derived narrow width here
        // would SERIALIZE the per-tablet file writes into few tasks
        val repartitioned =
          if (filesPerTablet > 1)
            out.repartition(nShuffle,
              partCols.map(col) :+ pmod(hash(keysPhys: _*), lit(filesPerTablet)): _*)
          else out.repartition(partCols.map(col): _*)
        repartitioned
          .sortWithinPartitions(partCols.map(col) ++ keysPhys: _*)
          .write.partitionBy(partCols: _*)
      case None if filesPerTablet > 1 =>
        out.repartition(nShuffle, pmod(hash(keysPhys: _*), lit(filesPerTablet)))
          .sortWithinPartitions(keysPhys: _*).write
      case None =>
        // global PK sort with a bytes-derived range-partition width — a
        // small unpartitioned load writes one PK-sorted file instead of a
        // session-constant-wide range exchange's worth of tiny files.
        // ~16 MB of PLAN-estimated bytes per task: estimates are
        // uncompressed-leaning, so real files land near the 50–150 MB
        // range, and mid-size loads keep enough write parallelism (the
        // estimate-blind session constant remains the cap / cluster knob).
        val target = 16L * 1024 * 1024
        val sortParts = ((estBytes + target - 1) / target)
          .min(BigInt(nShuffle)).max(BigInt(1)).toInt
        out.repartitionByRange(sortParts, keysPhys: _*)
          .sortWithinPartitions(keysPhys: _*).write
    }
    // Parquet bloom filters on key columns: the base-file analog of the
    // reference's per-rowset bloom files for PK presence checks/point
    // lookups (cfile/bloomfile.cc, tablet/diskrowset.cc:115-154). parquet-mr
    // adaptively skips the bloom when a column ends up fully
    // dictionary-encoded — the dictionary already gives exact row-group
    // filtering there, so only high-entropy key columns pay for a bloom.
    m.columns.filter(c => c.isKey || c.bloom.contains(true)).foldLeft(
      // adaptive sizing: without it every bloom is the 1MB max regardless of
      // NDV, which dwarfs small files (and the delta:base maintenance ratio)
      writer0.option("parquet.bloom.filter.adaptive.enabled", "true")) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#${c.physName}", "true")
    }
  }

  /** Commits delta files ALREADY WRITTEN under `dir` as one snapshot
    * version — the V2 row-level-operations path (SQL UPDATE/MERGE) streams
    * its executor-side writers straight into the attempt directory, then
    * calls this with the version it stamped into the rows' SeqCol. The
    * CREATE_NEW metadata guard aborts the loser of a concurrent race; the
    * caller sweeps the attempt directory on any failure. */
  private[graft] def commitPrewrittenDeltas(expectedVersion: Long, dir: String,
      op: String, onlyPaths: Seq[String] = Nil): Unit = {
    val m = meta
    require(m.version + 1 == expectedVersion,
      s"concurrent commit on ${m.name}: expected to write version " +
        s"$expectedVersion but the table is at ${m.version}")
    // Trust the caller's task-reported file list when given (retry/
    // speculation safety: a stray partial file in the dir is NOT committed);
    // fall back to a directory listing for single-writer callers.
    val paths = if (onlyPaths.nonEmpty) onlyPaths else listParquet(dir)
    val files = fileMetas(spark, m, paths, "delta", expectedVersion)
    if (files.isEmpty) return // nothing matched — no version churn
    TableMeta.write(m.copy(version = expectedVersion, timestampMs = now(),
      operation = op, deltaFiles = m.deltaFiles ++ files))
  }
}

object GraftTable {
  /** Hidden key column backing non-unique PKs (Schema.java:44-48). */
  val AutoIncName = "auto_incrementing_id"

  /** The raw read (GraftV2Table `raw`): data files `files` of table `m`
    * as stored, every column (hidden included) by its current name, then
    * `_graft_op` and `_graft_seq`, with no overlay and no drop mask,
    * through the same per-generation readers as every table read. */
  private[graft] def readRaw(spark: SparkSession, m: TableMeta,
      files: Seq[DataFileMeta]): DataFrame =
    GraftSqlBridge.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new graft.sources.v2.GraftV2Table(m.copy(baseFiles = files, deltaFiles = Nil,
          droppedRanges = None), raw = true), None, None))

  /** Spark Filter → Column, for the subset the engine evaluates itself:
    * the comparison/IN/NULL/prefix conjunctions, plus the Or/Not/contains
    * surface the SQL DELETE path wants (metadata pruning still only
    * consumes the conjunctive shapes and ignores the rest). */
  def toColumn(f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(col(a) === v)
      case EqualNullSafe(a, v) => Some(col(a) <=> v)
      case GreaterThan(a, v) => Some(col(a) > v)
      case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
      case LessThan(a, v) => Some(col(a) < v)
      case LessThanOrEqual(a, v) => Some(col(a) <= v)
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case StringEndsWith(a, s) => Some(col(a).endsWith(s))
      case StringContains(a, s) => Some(col(a).contains(s))
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case And(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
      case Not(c) => toColumn(c).map(!_)
      case _ => None
    }
  }

  /** Supported parquet codecs, by compression strength (resolution order
    * for mixed per-column requests — see [[GraftTable.setColumnCompression]]). */
  val CodecStrength: Map[String, Int] = Map(
    "uncompressed" -> 0, "lz4" -> 1, "snappy" -> 2, "gzip" -> 3, "zstd" -> 4)

  /** File codec for a base write: per-column compression attributes resolve
    * to the strongest requested (parquet-mr codecs are per file); absent
    * any, the table default; absent that, the Spark session default. */
  def effectiveCodec(m: TableMeta): Option[String] = {
    val requested = m.columns.flatMap(_.compression).distinct
    if (requested.nonEmpty) Some(requested.maxBy(CodecStrength))
    else m.compressionCodec
  }
  val OpCol = "_graft_op"
  val SeqCol = "_graft_seq"
  val RnCol = "_graft_rn"
  val BucketCol = "_b"
  val RangeCol = "_r"
  /** Transient Morton-code column of a clustered rewrite (never written). */
  val ZOrderCol = "_graft_z"

  /** Fileset tokens — the middle of an attempt dir `c<v>_<token>_<nonce>`
    * ([[attemptDir]]): base filesets, commit deltas, and the minor folds
    * (compactDeltas and compactTablet's rest; mergeTailDeltas writes
    * `<FoldToken>_tail`), which carry folded rows under their original
    * seqs, never a commit's own changes. */
  val BaseToken = "base"
  val DeltaToken = "delta"
  val FoldToken = "deltamerge"

  /** Parquet timestamp type of every data file: INT64 micros, whose footer
    * statistics order (Spark's INT96 default records none usable). */
  val FileTimestampType = "TIMESTAMP_MICROS"

  /** A commit attempt's data dir `<location>/data/c<v>_<token>_<nonce>`:
    * the nonce is per ATTEMPT, so two writers racing to version v never
    * share a path (the loser's write would clobber the winner's committed
    * files before the manifest guard aborts it); manifests record explicit
    * file paths, so the suffix is otherwise invisible. */
  private[graft] def attemptDir(location: String, v: Long, token: String): String =
    Paths.get(location, "data",
      s"c${v}_${token}_${java.util.UUID.randomUUID().toString.take(8)}").toString

  /** The delta files commit `v` itself wrote: stamped `seq == v` and not a
    * fold rewrite (a minor fold re-emits nothing) — what a change stream
    * emits for version `v` of manifest `m`. */
  private[graft] def committedDeltas(m: TableMeta, v: Long): Seq[DataFileMeta] =
    m.deltaFiles.filter(f => f.seq == v && !f.path.contains(s"_${FoldToken}_"))

  /** The physical schema of `m`'s delta files — what the writer's
    * projection produces: every column under its physical name, then op
    * and seq. Executor-side writers (SQL UPDATE/MERGE) write it directly. */
  private[graft] def deltaFileSchema(m: TableMeta): StructType =
    StructType(m.columns.map(c => StructField(c.physName, c.dataType, nullable = true)) ++
      Seq(StructField(OpCol, StringType, nullable = true),
        StructField(SeqCol, LongType, nullable = true)))

  /** How [[GraftTable.writeFileset]] lays a fileset out. */
  private[table] sealed trait Layout
  private[table] object Layout {
    /** `files` PK-sorted files; `shuffle = false` coalesces instead of
      * adding an exchange. */
    case class Unrouted(files: Int, shuffle: Boolean = true) extends Layout
    /** PK-sorted files per tablet coordinate, under `_b=`/`_r=` dirs. */
    case object Routed extends Layout
    /** Upserts routed by tablet (under `routed/`), tombstones unrouted
      * (under `tomb/`): for a route that reads a non-key column, which a
      * tombstone carries as null. */
    case object RoutedUpserts extends Layout
    /** A base fileset: routed by tablet, z-clustered by `cluster`, or
      * range-sorted when the table has no partitioning. */
    case class Base(cluster: Option[ZCluster]) extends Layout
  }

  /** The one manifest-entry builder for data files, from ONE footer open
    * per file ([[statFiles]]): row count plus the lead key's
    * [keyLo, keyHi]. A base file also records zone maps and null counts
    * over [[boundsColumns]]; a delta file records only its key interval
    * (the reference's per-store delta stats, tablet/deltafile.h — scans
    * with a first-PK predicate skip delta files that cannot meet it;
    * files without usable stats keep None and callers stay conservative).
    * Tablet coordinates parse from `_b=`/`_r=` dirs below `routedUnder`
    * (the writer's attempt dir); other files record none. */
  private[graft] def fileMetas(spark: SparkSession, m: TableMeta,
      paths: Seq[String], kind: String, seq: Long,
      routedUnder: Option[String] = None,
      sorted: Option[Boolean] = None): Seq[DataFileMeta] = {
    val base = kind == "base"
    val lead = m.keyCols.headOption.map(m.column)
    val leadId = lead.map(_.id.toString)
    val cols =
      if (base) boundsColumns(spark, m)
      else lead.map(c => (c.id, c.physName, c.dataType)).toSeq
    def zone[A](byCol: Map[String, A]) = Some(byCol).filter(_.nonEmpty && base)
    statFiles(spark, paths, cols).map { case (p, st) =>
      def coord(c: String) = routedUnder.flatMap(d => partFromPath(p.stripPrefix(d), c))
      DataFileMeta(p, kind, seq, st.rows, m.columns.map(_.id),
        bucket = coord(BucketCol).map(_.toInt), rangeKey = coord(RangeCol),
        keyLo = leadId.flatMap(st.lo.get), keyHi = leadId.flatMap(st.hi.get),
        colLo = zone(st.lo), colHi = zone(st.hi), colNulls = zone(st.nulls),
        sorted = sorted)
    }
  }

  /** Best-effort recursive delete of a commit attempt's fileset — the
    * no-orphans half of every abort path. */
  private[graft] def sweepTree(dir: java.nio.file.Path): Unit =
    try {
      if (Files.exists(dir))
        Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
    } catch { case _: Exception => }

  /** Tombstone rows for `keys` (a frame holding `m`'s key columns): the
    * key columns kept, every other column a typed null. */
  private[graft] def tombstoneRows(m: TableMeta, keys: DataFrame): DataFrame =
    keys.select(m.columns.map { c =>
      if (m.keyCols.contains(c.name)) col(c.name)
      else lit(null).cast(c.dataType).as(c.name)
    }: _*)

  /** A clustered-rewrite request: `expr` builds the Morton code over a
    * name resolver (the base writer resolves to PHYSICAL columns), `files` is the
    * output file count (0 = spark.sql.shuffle.partitions). */
  private[table] case class ZCluster(
      expr: (String => org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      files: Int)

  /** Types a clustered rewrite accepts — exactly the zone-map-encodable
    * set: clustering bins through the order-preserving encoding
    * ([[encodeKeyExpr]]), and it is pointless on columns whose bounds the
    * manifest cannot record (float/double are excluded by the
    * NaN-undefined parquet stats ordering). */
  def zClusterable(dt: org.apache.spark.sql.types.DataType): Boolean =
    keyBoundEncodable(dt)

  /** Morton (Z-order) code over equi-depth-binned columns. Each column
    * derives through the order-preserving STRING encoding (encodeKeyExpr
    * — the same domain the zone maps compare in), so binning is exact for
    * full 64-bit ranges and full-length strings alike (a double-based
    * derivation collapses values past 2^53 — host-name prefixes read as
    * an 8-byte integer all rounded to the same bin). The bin is the count
    * of cut points ≤ the value (≤255 broadcast strings, rank-normalized
    * so skew cannot starve a column's bits); bit j of column i lands at
    * position j*k + i — pure codegen'd bitwise ops above the one
    * array-predicate scan. A null (or all-null column) bins to 0 —
    * deterministic, clusters nulls together. */
  def zorderExpr(cols: Seq[(org.apache.spark.sql.Column, Seq[String])])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val k = cols.length
    val bins = cols.map { case (c, cuts) =>
      if (cuts.isEmpty) lit(0L)
      else {
        // binary-search bin kernel (ZBin, codegen'd): the HOF form scanned
        // all ≤255 cut strings per row with an interpreted lambda — ×3
        // full-table evaluations per rewrite, measured 3.1 s → 11.2 s on
        // the q51 gate. Null values bin to 0 (nulls cluster together).
        // Then scale the raw cut-count (0..cuts.size) onto the FULL 0..255
        // range: a low-NDV column (say 50 distinct values → ~49 cuts)
        // would otherwise never set its high bits and lose the interleave
        // to its neighbors entirely — measured: host names binned 0..49
        // let the timestamp own every significant bit (pruning kept 8/8)
        val raw = org.apache.spark.sql.GraftSqlBridge.toColumn(
          graft.functions.expressions.ZBin(
            org.apache.spark.sql.GraftSqlBridge.toExpression(c), cuts))
        (coalesce(raw, lit(0L)) * lit(256L) / lit(cuts.size + 1L)).cast(LongType)
      }
    }
    bins.zipWithIndex.foldLeft(lit(0L)) { case (acc, (bin, i)) =>
      (0 until 8).foldLeft(acc) { (a, j) =>
        a.bitwiseOR(shiftleft(shiftright(bin, j).bitwiseAND(lit(1L)), j * k + i))
      }
    }
  }
  val DeletedCol = "_deleted"
  val OpUpsert = "U"
  val OpDelete = "D"
  /** Commit operations that retire delta files while keeping every
    * surviving row's `_graft_seq` and the latest row per key: the minor
    * delta folds, which leave a CDC window on the delta fast path. */
  private val SeqPreservingFolds = Set("merge_tail", "compact_deltas")
  /** Merge-on-read broadcast bound for the delta tail, chosen PER SCAN
    * (`graft.mor.broadcastBytes` remains an explicit override — specs use
    * it to force past-bound paths with tiny data). Past the bound the V2
    * overlay shuffles deltas into per-route spills instead of
    * broadcasting. The same bound caps the bytes a point read may open on
    * the driver with no job (graft.plans.InlineReads).
    *
    * The adaptive default derives from what the session already declares
    * about broadcast appetite instead of a fixed engine constant (the
    * reference sizes its maintenance decisions from observed pressure the
    * same way — budgeted policy, tablet/compaction_policy.h:50-60):
    * broadcast delta state lands decoded on the driver AND every executor,
    * so the bound is a small multiple of Spark's own
    * `autoBroadcastJoinThreshold` (the user's stated per-relation
    * broadcast budget), capped at a driver-heap fraction so a generous
    * join threshold can never OOM the collect, and floored so a
    * deliberately tiny join threshold degrades to spill (always correct)
    * rather than to failure. */
  def broadcastDeltaBytes: Long =
    org.apache.spark.sql.SparkSession.active.conf
      .getOption("graft.mor.broadcastBytes").map(_.toLong)
      .getOrElse(adaptiveBroadcastDeltaBytes)

  /** The adaptive bound: max(64 KB, min(4 x autoBroadcastJoinThreshold,
    * driverHeap/16)); a disabled (-1) join threshold falls back to a
    * conservative 16 MB — "never broadcast a join side" is about join
    * build relations, not the delta overlay, but the spirit is honored by
    * staying small. */
  def adaptiveBroadcastDeltaBytes: Long = {
    val auto = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val fromAuto = if (auto > 0) 4L * auto else 16L * 1024 * 1024
    val driverCap = Runtime.getRuntime.maxMemory() / 16
    math.max(64L * 1024, math.min(fromAuto, driverCap))
  }

  /** Columnar merge-on-read toggle (`graft.mor.columnar`, default true):
    * when false the V2 overlay factory serves row-based readers only —
    * a safety valve, and the A/B knob the columnar win was measured with. */
  def columnarMorEnabled: Boolean =
    org.apache.spark.sql.SparkSession.active.conf
      .getOption("graft.mor.columnar").forall(_.toBoolean)
  /** Base filesets below this size skip the presence-check prune probe —
    * scanning them outright is cheaper than the extra probe job. */
  val PresencePruneMinBytes: Long = 64L * 1024 * 1024
  val DeltaWritePartitions = 4
  /** Target bytes per task for the CDC per-key fold ([[GraftTable.changesSince]]):
    * the fold's exchange sizes itself from the in-range delta bytes
    * (ceil(bytes / this), capped at the session's shuffle partitions)
    * instead of inheriting the session constant — a one-commit CDC window
    * folds in one task, a backfill window still spreads cluster-wide. */
  val CdcFoldTargetBytes: Long = 64L * 1024 * 1024

  /** Input bytes at or under which an engine action plans STATICALLY
    * (adaptive execution off for that one action, [[planned]]). AQE
    * materializes every exchange as its own job plus a driver replan; on
    * the engine's maintenance/commit paths every exchange is already
    * explicitly sized from manifest bytes and every small join side
    * explicitly broadcast/local, so for a manifest-known-tiny input those
    * per-stage round-trips are the dominant cost of the whole operation
    * (a 1-row index refresh ran 11 jobs) with nothing left for AQE to
    * decide. The gate is the action's INPUT BYTES, never a core count: a
    * 100 TB table's 1-row maintenance tick plans statically, a backfill
    * keeps AQE. */
  val StaticPlanBytes: Long = 64L * 1024 * 1024

  /** The SQL settings of an engine action over `inputBytes` of input:
    * adaptive execution off when the input is known and at most
    * [[StaticPlanBytes]], else none. */
  private[graft] def staticPlan(inputBytes: Option[BigInt]): Map[String, String] =
    if (inputBytes.exists(_ <= StaticPlanBytes))
      Map(org.apache.spark.sql.internal.SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false")
    else Map.empty

  /** `df` as one engine action over `inputBytes` of input runs it
    * ([[GraftSqlBridge.planIn]] with [[staticPlan]]): a static plan, one
    * job per action instead of one per query stage, when the input is
    * small, planned in a clone of the session, so no other query of the
    * session sees the setting. */
  private[graft] def planned(df: DataFrame, inputBytes: Option[BigInt]): DataFrame =
    GraftSqlBridge.planIn(df, staticPlan(inputBytes))

  /** Persists `df` (memory and disk) as [[planned]] plans it, and returns
    * `df`: the cache entry matches `df`'s plan in any session, so every
    * later action over `df` reads it, and `df.unpersist` drops it. */
  private[graft] def persisted(df: DataFrame, inputBytes: Option[BigInt]): DataFrame = {
    planned(df, inputBytes).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** The projection and filter `body` applies to rows of `schema`, bound
    * to those rows on the driver: the analyzer resolves `body` over an
    * empty local relation, so no job runs and no data is read. Driver-side
    * readers evaluate the result per row (the generation remap, the drop
    * masks, the delta route). Every Project and Filter of `body` folds
    * into the result, each expression inlined into the ones above it —
    * never left out, as an extractor declining to duplicate an expression
    * would leave out a filter. */
  private[graft] def bindOn(spark: SparkSession, schema: StructType,
      body: DataFrame => DataFrame): (Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      Option[org.apache.spark.sql.catalyst.expressions.Expression]) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeMap, BoundReference, Expression}
    import org.apache.spark.sql.catalyst.plans.logical
    // (the plan's output, the conditions under it), over the input row
    def fold(p: logical.LogicalPlan): (Seq[Expression], Seq[Expression]) = p match {
      case logical.Project(list, c) =>
        val (below, conds) = fold(c)
        (list.map(inlined(_, c.output, below)), conds)
      case logical.Filter(cond, c) =>
        val (below, conds) = fold(c)
        (below, conds :+ inlined(cond, c.output, below))
      case rel: logical.LocalRelation =>
        (rel.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) },
          Nil)
    }
    def inlined(e: Expression, attrs: Seq[Attribute], exprs: Seq[Expression]) = {
      val by = AttributeMap(attrs.zip(exprs.map {
        case a: Alias => a.child
        case x => x
      }))
      e.transformUp { case a: Attribute => by.getOrElse(a, a) }
    }
    val (projects, conds) = fold(
      body(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
        .queryExecution.analyzed)
    (projects, conds.reduceOption(And))
  }

  /** `rows` (catalyst values of `schema`) as a local relation: collecting
    * it, or a projection or filter over it, runs no job. */
  private[graft] def localRelation(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    GraftSqlBridge.ofRows(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
        StructType(schema.fields.map(_.copy(nullable = true)))), rows))

  /** Whether `df` is local rows: projections, filters and unions of local
    * relations whose expressions evaluate on the driver. Collecting it
    * runs no job (the optimizer folds it into local relations, and
    * GraftSqlBridge.collectInternal collects a union of them child by
    * child), so an engine step over it needs no static plan. */
  private[graft] def isLocal(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical
    def local(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.LocalRelation => true
      case logical.Project(list, c) =>
        list.forall(graft.plans.InlineReads.driverEvaluable) && local(c)
      case logical.Filter(cond, c) =>
        graft.plans.InlineReads.driverEvaluable(cond) && local(c)
      case u: logical.Union => u.children.forall(local)
      case _ => false
    }
    local(df.queryExecution.analyzed)
  }

  /** Size estimate of a frame's input, exact enough to compare with
    * `bound`. The ANALYZED plan's estimate decides when it already fits —
    * running the optimizer just to size a commit costs real driver time
    * (Catalyst folds projections over LocalRelations eagerly,
    * re-evaluating a streaming batch's rows), and analysis-time estimates
    * only shrink under optimization (pushdown prunes scans), so "analyzed
    * fits" is final. A bigger analyzed estimate consults the optimized
    * plan (a point mutation over a huge table fits only after file
    * pruning). Unavailable/inflated estimates (windows, joins) return
    * huge — the conservative direction. */
  private[graft] def planBytes(df: org.apache.spark.sql.DataFrame, bound: Long): BigInt =
    try {
      val a = df.queryExecution.analyzed.stats.sizeInBytes
      if (a <= BigInt(bound)) a
      else df.queryExecution.optimizedPlan.stats.sizeInBytes
    } catch { case _: Exception => BigInt(Long.MaxValue) }

  private[table] def now(): Long = System.currentTimeMillis()

  /** READ-default for a column absent from a data file — fixed at
    * column-add time, so files written before the column existed keep
    * their original fill even after the write default is ALTERed
    * (ColumnSchemaPB read_default_value, common/common.proto:134-177). */
  private[table] def defaultLit(c: ColumnMeta): Column =
    c.defaultValue match {
      case Some(v) => lit(v).cast(c.dataType)
      case None    => lit(null).cast(c.dataType)
    }

  /** WRITE-default for a column absent from a write batch
    * (ColumnSchemaPB write_default_value — the ALTERable one). */
  private[table] def writeDefaultLit(c: ColumnMeta): Column =
    c.effectiveWriteDefault match {
      case Some(v) => lit(v).cast(c.dataType)
      case None    => lit(null).cast(c.dataType)
    }

  /** Multi-level hash-bucket id: fold over hash components
    * (PartitionSchema::EncodeKey analog, common/partition.cc). With
    * per-range overrides (rangeHashBuckets), the single component's modulus
    * is chosen by the row's range key — the expression then also needs the
    * range column resolvable. */
  def bucketExpr(m: TableMeta, resolve: String => Column): Column = {
    val default = m.hash.foldLeft(lit(0)) { (acc, hc) =>
      acc * hc.buckets + pmod(hash(hc.cols.map(resolve): _*), lit(hc.buckets))
    }
    val ovs = m.rangeHashBucketsMap
    (m.range, m.hash) match {
      case (Some(r), Seq(hc)) if ovs.nonEmpty =>
        val h = hash(hc.cols.map(resolve): _*)
        val rk = rangeKeyExprM(m, r, resolve)
        ovs.toSeq.sortBy(_._1).foldRight(default) { case ((k, b), els) =>
          when(rk === lit(k), pmod(h, lit(b))).otherwise(els)
        }
      case _ => default
    }
  }

  def totalBuckets(m: TableMeta): Int = m.hash.map(_.buckets).product

  /** Whether a DELETE delta row's computed route can be trusted: tombstones
    * materialize only key columns ([[GraftTable.deleteWhere]]), so any
    * route component derived from a NON-KEY column evaluates over null and
    * lands in the "__null" partition — garbage. Uniform-hash layouts route
    * by bucket alone, so a non-key RANGE column is harmless there; the
    * range key participates in the route only under per-range bucket
    * overrides or hash-less range layouts. Untrusted layouts must keep
    * tombstones off the per-route decomposition (flush writes them
    * unrouted; the spill overlay duplicates them into every owned route —
    * dead-set-only duplication, the same trick interval routing uses). */
  def deleteRouteTrusted(m: TableMeta): Boolean = {
    val hashOk = m.hash.flatMap(_.cols).forall(m.keyCols.contains)
    val rangeInRoute = m.rangeHashBucketsMap.nonEmpty ||
      (m.hash.isEmpty && m.range.isDefined)
    val rangeOk = m.range.forall(_.columns.forall(m.keyCols.contains))
    hashOk && (!rangeInRoute || rangeOk)
  }

  /** Range key of a dropped bound no longer in the covering list. */
  val UncoveredKey = "__uncovered"

  /** Value → range-partition key. Bounds mode maps a value to the covering
    * [lower, upper) bound's key ([[UncoveredKey]] when no bound covers it);
    * granularity mode derives the key from the value. `dt` is the range
    * column's type — bound endpoints are stored as strings and cast to it,
    * so comparisons run in the column's own type (never a lossy string or
    * double coercion). */
  def rangeKeyExpr(r: RangeComponent, c: Column, dt: DataType): Column =
    r.bounds match {
      case Some(bs) =>
        val mapped = bs.foldRight(lit(UncoveredKey): Column) { (b, els) =>
          when(boundContains(b, c, dt), lit(b.key)).otherwise(els)
        }
        when(c.isNull, lit("__null")).otherwise(mapped)
      case None => r.granularity match {
        case "year"  => coalesce(date_format(c, "yyyy"), lit("__null"))
        case "month" => coalesce(date_format(c, "yyyy-MM"), lit("__null"))
        case "day"   => coalesce(date_format(c, "yyyy-MM-dd"), lit("__null"))
        case _       => coalesce(c.cast(StringType), lit("__null"))
      }
    }

  /** value ∈ [lower, upper) for a bound, in the range column's type. */
  private[graft] def boundContains(b: RangeBound, c: Column, dt: DataType): Column = {
    val lowOk = b.lower.map(v => c >= lit(v).cast(dt)).getOrElse(lit(true))
    val upOk = b.upper.map(v => c < lit(v).cast(dt)).getOrElse(lit(true))
    lowOk && upOk
  }

  /** (c1..cn) >= (v1..vn) tuple-lexicographically, each compared in its
    * column's own type. Built right-to-left: ci > vi || (ci == vi && rest). */
  private[graft] def lexGe(cs: Seq[Column], dts: Seq[DataType], vals: Seq[String]): Column = {
    val vlits = dts.zip(vals).map { case (dt, v) => lit(v).cast(dt) }
    cs.zip(vlits).init.foldRight(cs.last >= vlits.last: Column) {
      case ((c, v), rest) => (c > v) || (c === v && rest)
    }
  }

  /** (c1..cn) < (v1..vn) tuple-lexicographically. */
  private[graft] def lexLt(cs: Seq[Column], dts: Seq[DataType], vals: Seq[String]): Column = {
    val vlits = dts.zip(vals).map { case (dt, v) => lit(v).cast(dt) }
    cs.zip(vlits).init.foldRight(cs.last < vlits.last: Column) {
      case ((c, v), rest) => (c < v) || (c === v && rest)
    }
  }

  /** tuple ∈ [lowerTuple, upperTuple) for a (possibly multi-column) bound. */
  private[graft] def boundContainsT(lowerT: Option[Seq[String]], upperT: Option[Seq[String]],
      cs: Seq[Column], dts: Seq[DataType]): Column = {
    val lowOk = lowerT.map(ls => lexGe(cs, dts, ls)).getOrElse(lit(true))
    val upOk = upperT.map(us => lexLt(cs, dts, us)).getOrElse(lit(true))
    lowOk && upOk
  }

  /** Driver-side tuple-lexicographic a < b in the range columns' types. */
  private[graft] def ltValsT(dts: Seq[DataType], a: Seq[String], b: Seq[String]): Boolean = {
    var i = 0
    while (i < a.length) {
      if (ltVals(dts(i), a(i), b(i))) return true
      if (ltVals(dts(i), b(i), a(i))) return false
      i += 1
    }
    false // equal tuples
  }

  /** Do two tuple [lower, upper) bounds overlap? (None = unbounded end.) */
  private[graft] def boundsOverlapT(dts: Seq[DataType], a: RangeBound, b: RangeBound): Boolean = {
    def below(x: RangeBound, y: RangeBound): Boolean = (x.upperTuple, y.lowerTuple) match {
      case (Some(u), Some(l)) => !ltValsT(dts, l, u) // u <= l
      case _ => false
    }
    !below(a, b) && !below(b, a)
  }

  /** General range-key expression: single-column components delegate to
    * [[rangeKeyExpr]]; multi-column (bounds-mode) components map the value
    * tuple to the covering bound's key by lexicographic containment. A NULL
    * in any range column maps to the "__null" partition. */
  def rangeKeyExprM(m: TableMeta, r: RangeComponent, resolve: String => Column): Column =
    if (!r.isMulti) rangeKeyExpr(r, resolve(r.col), m.column(r.col).dataType)
    else {
      val cs = r.columns.map(resolve)
      val dts = r.columns.map(m.column(_).dataType)
      val mapped = r.boundsList.foldRight(lit(UncoveredKey): Column) { (b, els) =>
        when(boundContainsT(b.lowerTuple, b.upperTuple, cs, dts), lit(b.key)).otherwise(els)
      }
      when(cs.map(_.isNull).reduce(_ || _), lit("__null")).otherwise(mapped)
    }

  /** Driver-side comparison of two external values in the range column's
    * type (Catalyst cast + comparison, so timestamps/dates/numerics all
    * compare in their own domain). */
  private[graft] def ltVals(dt: DataType, a: String, b: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, LessThan, Literal}
    def v(s: String) = Literal.create(Cast(Literal(s), dt, Some("UTC")).eval(null), dt)
    LessThan(v(a), v(b)).eval(null).asInstanceOf[Boolean]
  }

  private def partFromPath(p: String, partCol: String): Option[String] =
    s"/$partCol=([^/]+)/".r.findFirstMatchIn(p).map(_.group(1))

  /** Key types the order-preserving bound encoding supports (the types the
    * interval-routed merge-on-read overlay can serve for coordinate-less
    * base files). */
  def keyBoundEncodable(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | StringType => true
      // fixed-scale decimals up to 18 digits: unscaled-long order equals
      // value order, so they ride the integral encoding (parquet stores
      // them as INT32/INT64 unscaled, so footer stats line up too);
      // wider decimals would need a 128-bit encoding on BOTH the
      // expression and footer sides — callers degrade to keep-all
      case d: DecimalType if d.precision <= 18 => true
      case _ => false
    }
  }

  /** Order-preserving string encoding of an integral key value: XOR the
    * sign bit, render as fixed-width unsigned hex — lexicographic order of
    * the encodings equals numeric order of the values, so interval
    * containment checks are plain string compares with no per-type
    * comparators on either side. */
  def encodeKeyLong(v: Long): String = f"${v ^ Long.MinValue}%016X"

  /** The SAME encoding as a Catalyst expression over a key column — used on
    * the delta frame at spill time; MUST stay in lockstep with
    * [[encodeKeyLong]] / [[encodeKeyBytes]] / [[parquetKeyBounds]] (Spark's
    * hex() is uppercase, matching %016X / %02X). Strings encode as the hex
    * of their UTF-8 bytes: hex-pair lexicographic order == unsigned-byte
    * order == parquet's binary stats ordering, for ANY code point (Java
    * String ordering would diverge at supplementary characters). */
  def encodeKeyExpr(dt: org.apache.spark.sql.types.DataType,
      c: org.apache.spark.sql.Column): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def enc(l: org.apache.spark.sql.Column) =
      lpad(hex(l.bitwiseXOR(lit(Long.MinValue))), 16, "0")
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(enc(c.cast(LongType)))
      case DateType => Some(enc(datediff(c, to_date(lit("1970-01-01"))).cast(LongType)))
      case TimestampType => Some(enc(unix_micros(c)))
      case TimestampNTZType => Some(enc(unix_micros(c.cast(TimestampType))))
      case StringType => Some(hex(encode(c, "UTF-8")))
      case d: DecimalType if d.precision <= 18 =>
        // unscaled value: exact for precision <= 18 (fits a long); the
        // multiply widens the decimal, so the long cast cannot round
        Some(enc((c * lit(java.math.BigDecimal.ONE.scaleByPowerOfTen(d.scale)))
          .cast(LongType)))
      case _ => None
    }
  }

  /** Hex of raw bytes — the string-key bound encoding (unsigned-byte
    * lexicographic through hex pairs). */
  def encodeKeyBytes(b: Array[Byte]): String =
    b.map(x => f"$x%02X").mkString

  /** Invert the order-preserving bound encoding back to the
    * catalyst-INTERNAL value — THE decode core: the V2 metadata-aggregate
    * path (GraftScanBuilder) and the zone_stats display both ride this
    * one implementation, so an encoding change cannot silently diverge
    * them. Whitelist matches the encoder minus TimestampNTZ (its encoding
    * shifts through the session zone — not losslessly invertible here). */
  def decodeBound(dt: org.apache.spark.sql.types.DataType,
      enc: String): Option[Any] = {
    import org.apache.spark.sql.types._
    try {
      def decLong: Long = java.lang.Long.parseUnsignedLong(enc, 16) ^ Long.MinValue
      dt match {
        case ByteType => Some(decLong.toByte)
        case ShortType => Some(decLong.toShort)
        case IntegerType => Some(decLong.toInt)
        case LongType => Some(decLong)
        case DateType => Some(decLong.toInt) // internal days
        case TimestampType => Some(decLong) // internal micros (UTC, zone-free)
        case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(
          enc.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray))
        case d: DecimalType if d.precision <= 18 => Some(Decimal(
          scala.math.BigDecimal(BigInt(decLong), d.scale), d.precision, d.scale))
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** Human-readable rendering of an encoded bound (the zone_stats display
    * face — [[decodeBound]] plus a render layer; falls back to the raw
    * encoding on anything uninvertible). */
  def decodeBoundDisplay(dt: org.apache.spark.sql.types.DataType,
      enc: String): String = {
    import org.apache.spark.sql.types._
    decodeBound(dt, enc).map { v =>
      (dt, v) match {
        case (DateType, days: Int) => java.time.LocalDate.ofEpochDay(days.toLong).toString
        case (TimestampType, micros: Long) =>
          java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
            Math.floorMod(micros, 1000000L) * 1000L).toString
        case _ => v.toString
      }
    }.getOrElse(enc)
  }

  /** The bound encoding for a DRIVER-SIDE literal (a pushed filter's value)
    * — same order-preserving form as [[encodeKeyLong]]/[[encodeKeyExpr]],
    * so a predicate can be tested against DataFileMeta.keyLo/keyHi with
    * plain string compares. None for unsupported types/values (callers
    * must then keep the file). */
  def encodeKeyValue(dt: org.apache.spark.sql.types.DataType, v: Any): Option[String] = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (_, null) => None
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        Some(encodeKeyLong(n.longValue()))
      case (DateType, d: java.sql.Date) => Some(encodeKeyLong(d.toLocalDate.toEpochDay))
      case (DateType, d: java.time.LocalDate) => Some(encodeKeyLong(d.toEpochDay))
      case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
        Some(encodeKeyLong(Math.addExact(
          Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
          t.getNanos / 1000L)))
      case (TimestampType | TimestampNTZType, i: java.time.Instant) =>
        Some(encodeKeyLong(Math.addExact(
          Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano / 1000L)))
      case (TimestampNTZType, t: java.time.LocalDateTime) =>
        Some(encodeKeyLong(Math.addExact(Math.multiplyExact(
          t.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L), t.getNano / 1000L)))
      case (StringType, s: String) =>
        Some(encodeKeyBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case (d: DecimalType, b: java.math.BigDecimal) if d.precision <= 18 =>
        scala.util.Try(encodeKeyLong(
          b.setScale(d.scale).unscaledValue().longValueExact())).toOption
      case (d: DecimalType, b: scala.math.BigDecimal) if d.precision <= 18 =>
        scala.util.Try(encodeKeyLong(
          b.underlying().setScale(d.scale).unscaledValue().longValueExact())).toOption
      case _ => None
    }
  }

  /** Min/max of `physName` across a parquet file's row groups (footer
    * statistics only — no data pages read), encoded order-preservingly.
    * (None, None) when statistics are absent, the column is all-null, or
    * the type is unsupported — callers treat that as "file can hold any
    * key" (past the broadcast bound the scan then reads such files as
    * one split). */
  private[graft] def parquetKeyBounds(p: String, physName: String,
      dt: org.apache.spark.sql.types.DataType): (Option[String], Option[String]) = {
    val st = parquetFileStats(p, Seq((0, physName, dt)))
    (st.lo.get("0"), st.hi.get("0"))
  }

  /** Columns whose zone maps a base write records: key columns first (the
    * lead key doubles as keyLo/keyHi), then every other bound-encodable
    * column in schema order, capped at graft.bounds.maxColumns (default 32)
    * — manifest growth is per-file × per-column, so a 4000-column table
    * must not pay 4000 map entries per file for columns nobody filters on
    * (the cap is the analog of Iceberg's write.metadata.metrics defaults).
    * Un-encodable types (float/double — NaN makes parquet min/max
    * undefined — binary, nested) never record bounds; null counts are
    * gathered for capped columns regardless of type. */
  private[graft] def boundsColumns(spark: org.apache.spark.sql.SparkSession,
      m: graft.catalog.TableMeta): Seq[(Int, String, org.apache.spark.sql.types.DataType)] =
    boundsColumns(spark, m.columns, m.keyCols, m.clusterBy.getOrElse(Nil))

  private[graft] def boundsColumns(spark: org.apache.spark.sql.SparkSession,
      columns: Seq[graft.catalog.ColumnMeta],
      keyCols: Seq[String],
      clusterIds: Seq[Int]): Seq[(Int, String, org.apache.spark.sql.types.DataType)] = {
    val cap = spark.conf.getOption("graft.bounds.maxColumns").map(_.toInt).getOrElse(32)
    // keys first, then CLUSTER columns (a wide table clustered on columns
    // past the cap would otherwise record no bounds for exactly the
    // columns the operator paid to cluster — zone pruning dead on
    // arrival), then the rest in schema order
    val (keys, rest0) = columns.partition(c => keyCols.contains(c.name))
    val (clustered, rest) = rest0.partition(c => clusterIds.contains(c.id))
    (keys ++ (clustered ++ rest).filter(c => keyBoundEncodable(c.dataType)))
      .take(math.max(cap, keys.length + clustered.length))
      .map(c => (c.id, c.physName, c.dataType))
  }

  /** Everything the manifest records about one just-written file, gathered
    * in ONE footer open (no data pages read): record count plus, per
    * requested column, the order-preserving-encoded min/max over the file's
    * non-null values (the zone map) and the file's null count. A column is
    * absent from `lo`/`hi` when any row group lacks usable statistics or
    * the type is un-encodable; absent from `nulls` when any row group
    * leaves the null count unset — consumers treat absence as unknown and
    * keep the file. `rows` is -1 when the footer is unreadable. */
  private[graft] case class FileStats(rows: Long, lo: Map[String, String],
      hi: Map[String, String], nulls: Map[String, Long])

  /** One Hadoop conf for all footer reads — constructing a Configuration
    * per file re-parses default resources, a measurable tax on multi-file
    * commits (footer reads never mutate it). */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Footer stats for many files at once, in input order. Footer opens are
    * independent ~ms-scale I/Os and every commit paid them SEQUENTIALLY on
    * the driver — the dominant non-Spark cost of small multi-file writes
    * once per-file zone maps landed. A bounded pool fans them out; past
    * `graft.bounds.distributeThreshold` files (default 256) the opens run
    * as a Spark job instead, so a cluster-scale rewrite (thousands of
    * files) never funnels its manifest stats through one driver thread. */
  private[graft] def statFiles(spark: SparkSession, paths: Seq[String],
      cols: Seq[(Int, String, org.apache.spark.sql.types.DataType)])
      : Seq[(String, FileStats)] = {
    val threshold = spark.conf.getOption("graft.bounds.distributeThreshold")
      .map(_.toInt).getOrElse(256)
    if (paths.isEmpty) Nil
    else if (paths.size >= threshold) {
      val byPath = spark.sparkContext
        .parallelize(paths, math.max(1, paths.size / 64))
        .map(p => (p, parquetFileStats(p, cols))).collect().toMap
      paths.map(p => (p, byPath(p)))
    } else if (paths.size == 1) paths.map(p => (p, parquetFileStats(p, cols)))
    else {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      // Bounded wait: a footer read stalled on a sick filesystem must not
      // hang the commit forever, and an Inf wait on the SHARED pool would
      // let one stall eventually starve every future multi-file commit in
      // the JVM. On timeout the file records unknown stats (rows = -1, no
      // bounds) — the same conservative shape pre-bounds manifests already
      // read as; consumers keep the file and stay correct.
      val futures = paths.map(p => Future(parquetFileStats(p, cols))(footerPool))
      paths.zip(futures.map { f =>
        try Await.result(f, 120.seconds)
        catch { case _: java.util.concurrent.TimeoutException =>
          FileStats(-1L, Map.empty, Map.empty, Map.empty) }
      })
    }
  }

  /** Daemon pool for driver-side footer fan-out (I/O bound; 16 is plenty —
    * larger filesets take the distributed branch of [[statFiles]]). */
  private lazy val footerPool = scala.concurrent.ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(16,
      (r: Runnable) => { val t = new Thread(r, "graft-footer"); t.setDaemon(true); t }))

  private[graft] def parquetFileStats(p: String,
      cols: Seq[(Int, String, org.apache.spark.sql.types.DataType)]): FileStats =
    try {
      import scala.jdk.CollectionConverters._
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p), footerConf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val rows = r.getRecordCount
        val schema = r.getFooter.getFileMetaData.getSchema
        val byPath = r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
        val lo = Map.newBuilder[String, String]
        val hi = Map.newBuilder[String, String]
        val nulls = Map.newBuilder[String, Long]
        cols.foreach { case (id, physName, dt) =>
          val chunks = byPath.getOrElse(physName, Nil)
          if (chunks.nonEmpty) {
            val stats = chunks.map(ch => Option(ch.getStatistics))
            // null count: every row group must report one
            if (stats.forall(_.exists(_.isNumNullsSet)))
              nulls += id.toString -> stats.map(_.get.getNumNulls).sum
            if (keyBoundEncodable(dt)) {
              // timestamp unit lives in the logical annotation; normalize
              // to µs to match encodeKeyExpr's unix_micros
              val toMicros: Long => Long = schema.getType(Seq(physName): _*) match {
                case pt: org.apache.parquet.schema.PrimitiveType =>
                  pt.getLogicalTypeAnnotation match {
                    case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                      ts.getUnit match {
                        case LogicalTypeAnnotation.TimeUnit.MILLIS => (v: Long) => Math.multiplyExact(v, 1000L)
                        case LogicalTypeAnnotation.TimeUnit.NANOS => (v: Long) => Math.floorDiv(v, 1000L)
                        case _ => identity
                      }
                    case _ => identity
                  }
                case _ => identity
              }
              // Some((lo, hi)) per chunk with values, Some(None-marker) for
              // a PROVEN all-null chunk (contributes nothing), None =
              // unusable stats (poisons the whole column's bounds)
              val perChunk: Seq[Option[Option[(String, String)]]] = chunks.toSeq.map { ch =>
                ch.getStatistics match {
                  case s if s == null => None
                  case s if !s.hasNonNullValue =>
                    // distinguish "all null" (safe to skip) from "stats not
                    // collected" (unknown): the null count must account for
                    // every value in the chunk
                    if (s.isNumNullsSet && s.getNumNulls == ch.getValueCount) Some(None)
                    else None
                  case s: org.apache.parquet.column.statistics.LongStatistics =>
                    Some(Some((encodeKeyLong(toMicros(s.getMin)), encodeKeyLong(toMicros(s.getMax)))))
                  case s: org.apache.parquet.column.statistics.IntStatistics =>
                    Some(Some((encodeKeyLong(s.getMin.toLong), encodeKeyLong(s.getMax.toLong))))
                  case s: org.apache.parquet.column.statistics.BinaryStatistics
                      if dt == org.apache.spark.sql.types.StringType =>
                    Some(Some((encodeKeyBytes(s.genericGetMin.getBytes),
                      encodeKeyBytes(s.genericGetMax.getBytes))))
                  case _ => None
                }
              }
              if (perChunk.forall(_.isDefined)) {
                val valued = perChunk.flatten.flatten
                if (valued.nonEmpty) {
                  lo += id.toString -> valued.map(_._1).min
                  hi += id.toString -> valued.map(_._2).max
                }
              }
            }
          }
        }
        FileStats(rows, lo.result(), hi.result(), nulls.result())
      } finally r.close()
    } catch { case _: Exception => FileStats(-1L, Map.empty, Map.empty, Map.empty) }

  private[table] def listParquet(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Nil
    val out = ArrayBuffer[String]()
    Files.walk(root).iterator().asScala.foreach { p =>
      val s = p.toString
      if (s.endsWith(".parquet") && Files.isRegularFile(p)) out += s
    }
    out.toSeq.sorted
  }

  def fileSize(p: String): Long =
    try Files.size(Paths.get(p)) catch { case _: Exception => 0L }

  /** Total on-disk bytes of a fileset (missing files count 0 — sizing is
    * advisory; the read itself reports the missing file). */
  def deltaBytes(files: Seq[DataFileMeta]): Long =
    files.map(f => fileSize(f.path)).sum

  /** CreateTable (D1, master/catalog_manager.h:671; KuduContext.createTable
    * :221): defines schema+PK+partitioning, optionally bulk-loads `data` as
    * the initial base fileset. */
  private def buildColumns(schema: StructType, keys: Seq[String],
      nonUniqueKey: Boolean): Seq[ColumnMeta] = {
    // PK columns first, non-nullable, as the reference requires
    // (common/schema.h: key is a non-nullable prefix). A non-unique key gets
    // the hidden auto_incrementing_id appended (common/schema.h:263-264).
    val ordered = keys.map(k => schema(k)) ++ schema.fields.filterNot(f => keys.contains(f.name))
    val base = ordered.zipWithIndex.map { case (f, i) =>
      ColumnMeta(i, f.name, f.name, nullableNested(f.dataType).json,
        nullable = f.nullable && !keys.contains(f.name), isKey = keys.contains(f.name))
    }
    if (!nonUniqueKey) base.toSeq
    else {
      val visible = base.toSeq
      val auto = ColumnMeta(visible.length, AutoIncName, AutoIncName, LongType.json,
        nullable = false, isKey = true, isAutoInc = true)
      // keys (incl hidden) first, then non-keys
      val (ks, nks) = visible.partition(_.isKey)
      ks ++ Seq(auto) ++ nks
    }
  }

  /** `dt` with every nested element, map value and struct field nullable
    * — what a parquet read yields for any file. A manifest recording the
    * non-null form (e.g. `Seq(Array(1f)).toDF`'s `array<float>` without
    * null elements) could never cast its own reads back to it. */
  private[graft] def nullableNested(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(nullableNested(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullableNested(k), nullableNested(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = nullableNested(f.dataType), nullable = true)))
    case other => other
  }

  /** Deterministic initial auto-id assignment for a bulk load: per-user-key
    * sequence ordered by the remaining columns. */
  private def withInitialAutoIds(columns: Seq[ColumnMeta], df: DataFrame): DataFrame = {
    val userKeys = columns.filter(c => c.isKey && !c.isAutoInc).map(_.name)
    val others = df.columns.filterNot(userKeys.contains).map(col).toSeq
    val w = Window.partitionBy(userKeys.map(col): _*)
      .orderBy((if (others.nonEmpty) others else Seq(lit(1))): _*)
    df.withColumn(AutoIncName, row_number().over(w).cast(LongType))
  }

  def create(
      spark: SparkSession,
      location: String,
      name: String,
      schema: StructType,
      keys: Seq[String],
      hash: Seq[HashComponent] = Nil,
      range: Option[RangeComponent] = None,
      data: Option[DataFrame] = None,
      nonUniqueKey: Boolean = false,
      properties: Map[String, String] = Map.empty): GraftTable = {
    require(keys.nonEmpty, "primary key required")
    keys.foreach { k =>
      require(schema.fieldNames.contains(k), s"key column $k not in schema")
      // arrays/maps/structs cannot be key columns (SparkUtil.scala:136-139)
      require(!Seq("array", "map", "struct").contains(schema(k).dataType.typeName),
        s"key column $k must be an atomic type, got ${schema(k).dataType.catalogString}")
    }
    range.foreach { r =>
      r.columns.foreach(c => require(schema.fieldNames.contains(c),
        s"range column $c not in schema"))
      require(!r.isMulti || r.isBounds,
        "multi-column range components require explicit bounds " +
          "(granularity key derivation is single-column)")
      r.boundsList.foreach { b =>
        (b.lowerTuple.toSeq ++ b.upperTuple.toSeq).foreach(t =>
          require(t.length == r.columns.length,
            s"bound ${b.key} tuple arity ${t.length} != range columns " +
              r.columns.mkString("(", ",", ")")))
      }
    }
    val columns = buildColumns(schema, keys, nonUniqueKey)
    // the first manifest carries the table's properties: a table defined
    // by them (a derived table's source pointer and watermark) is whole
    // from v1, with no second properties-only commit
    val m0 = TableMeta(name, location, 1L, now(), "create",
      columns, columns.length, hash, range, Nil, Nil, Nil,
      props = Some(properties).filter(_.nonEmpty))
    val t = new GraftTable(spark, location)
    data match {
      case Some(df0) =>
        val df = if (nonUniqueKey) withInitialAutoIds(columns, df0) else df0
        val conformed = df.select(columns.map(c =>
          col(c.name).cast(c.dataType).as(c.name)): _*)
        // bounds-mode tables: the initial load must be fully covered, or
        // rows would silently land in an __uncovered coordinate
        if (range.exists(_.isBounds)) t.requireCovered(m0, conformed)
        t.publish { a =>
          m0.copy(baseFiles = t.writeFileset(a, m0, conformed, 1L, BaseToken,
            Layout.Base(None), 1L, Some(planBytes(conformed, StaticPlanBytes))))
        }
      case None => TableMeta.write(m0)
    }
    // default-on background self-maintenance (graft.maintain.auto) — the
    // reference's MaintenanceManager starts unconditionally with the server
    MaintenanceScheduler.autoSchedule(spark, location)
    t
  }

  /**
   * Zero-copy registration of existing Parquet as an engine table: the raw
   * files become the v1 base fileset (no rewrite — the analog of an external
   * table handoff). Mutations from here on commit as deltas beside the
   * metadata at `location`; the raw files are never touched.
   */
  def register(
      spark: SparkSession,
      location: String,
      name: String,
      rawParquetPath: String,
      keys: Seq[String],
      hash: Seq[HashComponent] = Nil,
      range: Option[RangeComponent] = None,
      nonUniqueKey: Boolean = false): GraftTable = {
    val rawDf = spark.read.parquet(rawParquetPath)
    if (nonUniqueKey)
      // Hidden ids must exist physically → materialize the base once.
      return create(spark, location, name, rawDf.schema, keys, hash, range,
        data = Some(rawDf), nonUniqueKey = true)
    val columns = buildColumns(rawDf.schema, keys, nonUniqueKey = false)
    val raw = Paths.get(rawParquetPath)
    val m0 = TableMeta(name, location, 1L, now(), "register",
      columns, columns.length, hash, range, Nil, Nil, Nil)
    // Zero-copy files carry no partition coordinates, so record the first
    // key column's footer min/max instead (the reference's rowset key
    // bounds, tablet/diskrowset.h) — merge-on-read can then interval-route
    // deltas to these files at any delta size instead of forcing a compact.
    // The same footer open also records every column's zone map + null
    // count (file skipping / metadata MIN-MAX, like written bases).
    val m = m0.copy(baseFiles = fileMetas(spark, m0,
      if (Files.isDirectory(raw)) listParquet(rawParquetPath) else Seq(rawParquetPath),
      "base", 1L))
    TableMeta.write(m)
    MaintenanceScheduler.autoSchedule(spark, location)
    new GraftTable(spark, location)
  }

  def load(spark: SparkSession, location: String): GraftTable = {
    require(TableMeta.exists(location), s"no graft table at $location")
    require(!isTrashed(location),
      s"table at $location is soft-deleted; recall() it or let it purge")
    val t = new GraftTable(spark, location)
    // a loaded ROLLUP or SECONDARY INDEX re-arms its query rewrite in
    // THIS session (the serving half of a derived table must survive its
    // builder's session; the registries are session-scoped, the derived
    // table's source/definition persist in its properties). Idempotent
    // registry put; never lets an arming hiccup break a plain load.
    try graft.plans.ServingRewrites.autoArm(spark, t)
    catch { case _: Exception => () }
    t
  }

  private def trashFile(location: String) =
    TableMeta.metaDir(location).resolve("_trash.json")

  /**
   * Soft-delete with a reserve window (reference: catalog_manager.h:701,723
   * soft_deleted tables with reserve_seconds, recallable until the window
   * expires). The table keeps its data but refuses loads; [[recall]]
   * restores it, [[purgeIfExpired]] hard-drops it once the window passes.
   */
  def softDrop(location: String, reserveMs: Long = 7L * 24 * 3600 * 1000): Unit = {
    require(TableMeta.exists(location), s"no graft table at $location")
    // trashed tables refuse load() — the schedule can't act on them.
    // recall() does NOT re-register (the next create/fork at the location
    // or an explicit schedule() does).
    MaintenanceScheduler.unschedule(location)
    Files.write(trashFile(location),
      s"""{"trashedAtMs":${now()},"reserveMs":$reserveMs}""".getBytes("UTF-8"))
  }

  def isTrashed(location: String): Boolean = Files.exists(trashFile(location))

  /** Un-trash a soft-deleted table (recall_deleted_table analog). */
  def recall(location: String): Unit = Files.deleteIfExists(trashFile(location))

  /** Hard-drop a trashed table whose reserve window has passed. Returns
    * true if it purged. */
  def purgeIfExpired(location: String, nowMs: Long = now()): Boolean = {
    if (!isTrashed(location)) return false
    val s = new String(Files.readAllBytes(trashFile(location)), "UTF-8")
    def field(n: String): Long =
      (n + """"\s*:\s*(\d+)""").r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
    if (nowMs >= field("trashedAtMs") + field("reserveMs")) { drop(location); true }
    else false
  }

  def exists(location: String): Boolean = TableMeta.exists(location)

  /**
   * Fork: a new table whose base fileset IS the source's current snapshot
   * files (zero-copy). Mutations on the fork commit deltas under the new
   * location; the source is never touched. The cheap way to get a private
   * mutable view of a large table (scripted tests, what-if pipelines).
   *
   * Lifetime: the fork references the PARENT's files by path, so the
   * fork records a child marker under the parent's directory — the
   * parent's [[drop]] REFUSES while a live child still references its
   * files, and the parent's `expireVersions()` treats every file a live
   * child's manifests reference as referenced. `compact()` the fork (and
   * expire its history) to make it self-contained and release the parent.
   */
  def fork(spark: SparkSession, src: GraftTable, newLocation: String): GraftTable = {
    // marker BEFORE the child manifest: the child must never exist
    // unprotected (a crash between the two leaves a dead marker, cleaned
    // lazily by the parent's next expire/drop/fork)
    registerFork(src.location, newLocation)
    val m = src.meta
    TableMeta.write(m.copy(location = newLocation, operation = "fork"))
    MaintenanceScheduler.autoSchedule(spark, newLocation)
    new GraftTable(spark, newLocation)
  }

  // ---- fork-child registry: marker files (not table properties — a fork
  // must not commit a version on a long-lived shared parent, and scratch
  // forks of fixture tables are per-query-hot)
  private def forkDir(parentLoc: String): java.nio.file.Path =
    Paths.get(parentLoc, "_forks")

  private def forkMarker(parentLoc: String, childLoc: String): java.nio.file.Path =
    forkDir(parentLoc).resolve(java.net.URLEncoder.encode(childLoc, "UTF-8"))

  private def registerFork(parentLoc: String, childLoc: String): Unit = {
    // opportunistic bounded sweep of dead markers: scratch forks live in
    // temp dirs that vanish without deregistering, and the parent fixture
    // is forked once per scripted query — without this the marker dir
    // grows one dead file per run forever
    forkChildren(parentLoc).filter(!TableMeta.exists(_)).take(64)
      .foreach(deregisterFork(parentLoc, _))
    val f = forkMarker(parentLoc, childLoc)
    Files.createDirectories(f.getParent)
    Files.write(f, childLoc.getBytes("UTF-8"))
  }

  private[graft] def deregisterFork(parentLoc: String, childLoc: String): Unit =
    Files.deleteIfExists(forkMarker(parentLoc, childLoc))

  /** Registered fork-child locations of `parentLoc` (live or dead). */
  private[graft] def forkChildren(parentLoc: String): Seq[String] = {
    val dir = forkDir(parentLoc)
    if (!Files.isDirectory(dir)) return Nil
    scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala
        .map(p => java.net.URLDecoder.decode(p.getFileName.toString, "UTF-8"))
        .toSeq
    }
  }

  /** Every data-file path any on-disk manifest of `location` references
    * (normalized) — the full set a table needs readable, across time
    * travel. Unreadable manifests contribute nothing (fsck's problem). */
  private[graft] def manifestFilePaths(location: String): Set[String] = {
    TableMeta.versionsOnDisk(location).flatMap { v =>
      try {
        val vm = TableMeta.read(location, v)
        (vm.baseFiles ++ vm.deltaFiles).map(f => Paths.get(f.path).normalize.toString)
      } catch { case _: Exception => Nil }
    }.toSet
  }

  /** Drop table: delete metadata + data (D3, catalog_manager.h:701). Only
    * files under `location` are touched, so zero-copy registered raw data
    * survives. REFUSES (unless `force`) while a live [[fork]]ed child
    * still references files under this table's directory — dropping the
    * parent would silently corrupt every read of the child. A child made
    * self-contained (`compact()` + history expiry) no longer blocks. */
  def drop(location: String): Unit = drop(location, force = false)

  def drop(location: String, force: Boolean): Unit = {
    if (!TableMeta.exists(location)) return
    if (!force) {
      val root = Paths.get(location).normalize.toString + "/"
      val live = forkChildren(location).filter { child =>
        if (!TableMeta.exists(child)) { deregisterFork(location, child); false }
        else {
          val refs = manifestFilePaths(child).exists(_.startsWith(root))
          if (!refs) deregisterFork(location, child) // self-contained: release
          refs
        }
      }
      if (live.nonEmpty)
        throw new IllegalStateException(
          s"cannot drop $location: forked children still reference its " +
            s"files: ${live.mkString(", ")} — compact() each child (and " +
            "expire its history) to make it self-contained, or " +
            "drop(location, force = true) to orphan them")
    }
    MaintenanceScheduler.unschedule(location)
    // a derived table (rollup/secondary/vector index) leaves a _derived
    // marker on its SOURCE; clear it now — with the fixed build grace a
    // dangling marker would otherwise floor the source's history retention
    // for the whole grace window after the drop
    try {
      val p = TableMeta.readCurrent(location).propsMap
      Seq(graft.tools.MaterializedRollup.SrcLocKey,
          graft.tools.SecondaryIndex.SrcLocKey,
          graft.tools.VectorIndex.SrcLocKey)
        .flatMap(p.get).foreach(src =>
          graft.tools.DerivedTables.deregister(src, location))
    } catch { case _: Exception => () } // unreadable meta: the lazy GC cleans
    val root = Paths.get(location)
    Files.walk(root).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
  }
}
