package graft.catalog

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.types.{DataType, StructField, StructType, Metadata => SqlMetadata}
import org.json4s._
import org.json4s.jackson.Serialization

/**
 * Column metadata with an immutable integer id, mirroring the reference's
 * id-based schema system (reference: common/schema.h:723, id_mapping.h;
 * ColumnSchemaPB common/common.proto:134-177). `physName` is the name the
 * column has inside data files (fixed at column creation); `name` is the
 * current logical name (renames only touch `name`, so old files stay
 * readable — the analog of GetMappedReadProjection, common/schema.cc).
 */
/** A prior physical generation of a column whose type was widened: data
  * files written before the widen carry `physName` with `dataTypeJson`;
  * the read path casts them up to the current logical type (the same
  * id-remap machinery that serves renamed/added columns). */
case class PriorGen(id: Int, physName: String, dataTypeJson: String)

case class ColumnMeta(
    id: Int,
    name: String,
    physName: String,
    dataTypeJson: String,
    nullable: Boolean,
    isKey: Boolean,
    // READ default (ColumnSchemaPB read_default_value,
    // common/common.proto:134-177): fills the column when reading files
    // written before it existed. Fixed at column-add time — ALTERing the
    // default must not rewrite history, so this never changes.
    defaultValue: Option[String] = None,
    comment: Option[String] = None,
    isAutoInc: Boolean = false,
    immutable: Boolean = false,
    // VARCHAR(n) length attribute (ColumnSchemaPB type_attributes.length,
    // common/common.proto:127) — enforced on write for string columns.
    varcharLength: Option[Int] = None,
    // Per-column storage attribute (ColumnSchemaPB encoding,
    // common/common.proto:90-100), mapped to the parquet writer's
    // per-column dictionary toggle: "dictionary" | "plain".
    encoding: Option[String] = None,
    // Per-column bloom-filter attribute: key columns always carry parquet
    // blooms (the reference's per-rowset PK bloom files); setting this on
    // a NON-key column extends the same storage-level point-lookup
    // filtering to it — the per-column half of the reference's
    // BloomFilter predicate (P5), served from the file instead of a
    // runtime semi-join. Absent = keys only.
    bloom: Option[Boolean] = None,
    // Per-column compression attribute (ColumnSchemaPB compression,
    // common/common.proto:90-100). Parquet-mr codecs are per FILE, so the
    // writer resolves all declared column codecs to one file codec (see
    // GraftTable.effectiveCodec); the attribute itself is per-column API
    // parity and survives metadata round trips.
    compression: Option[String] = None,
    // WRITE default (ColumnSchemaPB write_default_value): fills the column
    // when a write batch omits it. hasWriteDefault = Some(true) means the
    // write default was ALTERed after column add and `writeDefault`
    // (None = NULL) overrides `defaultValue` for writes only — old files
    // keep reading the original read default. Option-typed so metadata
    // written by older builds reads as unset.
    writeDefault: Option[String] = None,
    hasWriteDefault: Option[Boolean] = None,
    // Prior (id, physName, type) generations from ALTER type-widening —
    // oldest first. Option-typed so metadata from older builds reads unset.
    priorGens: Option[Seq[PriorGen]] = None) {
  def dataType: DataType = DataType.fromJson(dataTypeJson)
  def priorGenerations: Seq[PriorGen] = priorGens.getOrElse(Nil)
  def toField: StructField = StructField(name, dataType, nullable)
  /** The default applied to writes that omit this column. */
  def effectiveWriteDefault: Option[String] =
    if (hasWriteDefault.contains(true)) writeDefault else defaultValue
}

/** Per-column statistics recorded by `GraftTable.analyze` (the engine's
  * ANALYZE — the reference surfaces table-level stats through
  * `kudu table statistics` / KuduScanToken on-disk sizes; per-column
  * NDV/min/max is what Spark's CBO consumes on top). Values are stored in
  * external string form and cast to the column type on use. */
/** One equi-height histogram bin over a numeric column ([lo, hi], with an
  * estimated distinct count inside the bin). */
case class HBin(lo: Double, hi: Double, ndv: Long)

case class ColStat(
    ndv: Long,
    nullCount: Long,
    min: Option[String] = None,
    max: Option[String] = None,
    avgLen: Option[Long] = None,
    maxLen: Option[Long] = None,
    // Equi-height histogram (numeric columns, opt-in analyze(histograms =
    // true)): bin boundaries from approx_percentile; `height` rows per bin.
    histogram: Option[Seq[HBin]] = None,
    histogramHeight: Option[Double] = None)

/** The loser of an optimistic commit race: another writer already
  * published the version this commit meant to write ([[TableMeta.write]]).
  * Retry loops and best-effort maintenance catch it by type. */
class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

/** One hash-bucket partition component over key columns
  * (reference: PartitionSchemaPB common/common.proto:355-398). */
case class HashComponent(cols: Seq[String], buckets: Int)

/** One explicit range partition [lower, upper) over the range column —
  * `None` = unbounded end; values stored in external string form, cast to
  * the column type on use. `key` names the partition (the `_r=<key>` file
  * coordinate). The reference's PartialRow bounds
  * (CreateTableOptions.addRangePartition, AlterTableOptions.java:321-394;
  * common/partition.h:169). */
case class RangeBound(key: String, lower: Option[String], upper: Option[String],
    // Tuple endpoints for multi-column range components (composite encoded
    // bounds, common/partition.h:169): one external-form value per range
    // column, compared tuple-lexicographically. Single-column tables keep
    // using lower/upper; older metadata reads these as None.
    lowers: Option[Seq[String]] = None, uppers: Option[Seq[String]] = None) {
  /** Endpoint as a tuple regardless of arity (None = unbounded end). */
  def lowerTuple: Option[Seq[String]] = lowers.orElse(lower.map(Seq(_)))
  def upperTuple: Option[Seq[String]] = uppers.orElse(upper.map(Seq(_)))
}

/** Optional range component. Two modes:
  *  - granularity "year"|"month"|"day"|"value": every value derives its own
  *    range key (auto-covering — the time-series convenience layout);
  *  - explicit `bounds`: only the listed [lower, upper) intervals are
  *    covered — unequal widths are the point (a "2020-and-earlier" cold
  *    range next to monthly hot ranges); writes outside every bound error
  *    (the reference's non-covered-range semantics, common/partition.h:169).
  */
case class RangeComponent(col: String, granularity: String,
    bounds: Option[Seq[RangeBound]] = None,
    // Additional range-key columns after `col`, making the component span
    // a multi-column tuple `(col, moreCols...)` with lexicographic bounds
    // (PartitionSchemaPB range_schema, common/common.proto:355-398;
    // common/partition.h:169). Multi-column components require bounds
    // mode — granularity key derivation is single-column by construction.
    // Option-typed so metadata written by older builds reads as None.
    moreCols: Option[Seq[String]] = None) {
  def isBounds: Boolean = bounds.isDefined
  def boundsList: Seq[RangeBound] = bounds.getOrElse(Nil)
  /** All range-key columns in lexicographic significance order. */
  def columns: Seq[String] = col +: moreCols.getOrElse(Nil)
  def isMulti: Boolean = moreCols.exists(_.nonEmpty)
}

/** A DROP RANGE PARTITION record: rows of `key` written at a commit
  * <= `version` are dead (reference: AlterTableOptions.java:362-394 —
  * dropping a range discards its data). Kept until a compaction rewrites
  * the base without the dropped rows. Bounds-mode drops (`bounded`)
  * remember the dropped interval — the bound leaves the covering list at
  * drop time, so masking must use the interval itself, not the (now
  * unmapped) key. */
case class RangeDrop(key: String, version: Long,
    lower: Option[String] = None, upper: Option[String] = None,
    bounded: Option[Boolean] = None,
    // Tuple interval for multi-column range components (see RangeBound).
    lowers: Option[Seq[String]] = None, uppers: Option[Seq[String]] = None) {
  def lowerTuple: Option[Seq[String]] = lowers.orElse(lower.map(Seq(_)))
  def upperTuple: Option[Seq[String]] = uppers.orElse(upper.map(Seq(_)))
}

/**
 * One data file tracked by a snapshot.
 *  - kind: "base" (full rows) | "delta" (rows + _op column: UPSERT|DELETE)
 *  - seq:  commit sequence the file was written at (MVCC analog of the
 *          hybrid-time mutation stamp, tablet/mvcc.h:45-111 — later seq wins)
 *  - colIds: ids of the table columns present in the file, in file order
 *  - bucket / rangeKey: partition coordinates if written partitioned
 *  - keyLo / keyHi: ORDER-PRESERVING-ENCODED min/max of the first key
 *          column (parquet footer statistics, recorded for coordinate-less
 *          base files at registration/write) — the rowset key-bounds analog
 *          of the reference (tablet/diskrowset.h min/max encoded keys),
 *          which lets merge-on-read route deltas to the base files whose
 *          key interval can contain them. Absent (older metadata, missing
 *          footer stats, unsupported key type) → the file can hold any key.
 */
case class DataFileMeta(
    path: String,
    kind: String,
    seq: Long,
    rows: Long,
    colIds: Seq[Int],
    bucket: Option[Int] = None,
    rangeKey: Option[String] = None,
    keyLo: Option[String] = None,
    keyHi: Option[String] = None,
    // Per-column zone maps (BASE files): column id (as a JSON map key) →
    // order-preserving-encoded min/max over the file's NON-NULL values, plus
    // the file's null count per column — the per-rowset column statistics
    // the reference keeps in its cfile footers (cfile/cfile.proto
    // BlockPointerPB stats; tablet/diskrowset.h), lifted to the MANIFEST so
    // a predicate on ANY recorded column skips whole files before a single
    // footer is opened. Recorded at write time from the just-written parquet
    // footers (one footer open per file, shared with the row count), capped
    // at graft.bounds.maxColumns. Option-typed: metadata written by older
    // builds reads as None = no zone maps (conservative keep). Never
    // consulted for value predicates on DELTA files — a tombstone carries
    // its key and NEW values, so a delta zone map says nothing about the
    // base row it kills (PartitionPruner.zoneOk gates on kind).
    colLo: Option[Map[String, String]] = None,
    colHi: Option[Map[String, String]] = None,
    colNulls: Option[Map[String, Long]] = None,
    // Some(true) when the WRITER proves the file's rows are sorted by the
    // table's full key column list (the base writer PK-sorts every file it
    // emits; z-clustered rewrites order by (z, PK) → Some(false); files
    // registered from external parquet keep None = unknown). Consumed by
    // the V2 scan's SupportsReportOrdering: a clean one-sorted-file-per-
    // split snapshot reports per-partition PK order, so storage-
    // partitioned PK-PK joins skip BOTH sort stages on top of the shuffle
    // they already skip. Absent in older manifests → None (no report).
    sorted: Option[Boolean] = None) {

  /** Zone-map [lo, hi] for a column id (both ends or nothing). */
  def colBounds(id: Int): Option[(String, String)] =
    for {
      lo <- colLo.flatMap(_.get(id.toString))
      hi <- colHi.flatMap(_.get(id.toString))
    } yield (lo, hi)

  /** Recorded null count for a column id (None = unknown). */
  def colNullCount(id: Int): Option[Long] = colNulls.flatMap(_.get(id.toString))
}

/**
 * Full table state at one version. Each commit writes a complete new
 * TableMeta as `_graft/v<version>.json` + atomically swings
 * `_graft/_current.json` — a snapshot per version gives time-travel reads
 * (READ_AT_SNAPSHOT, common/common.proto:268-326) for free.
 */
case class TableMeta(
    name: String,
    location: String,
    version: Long,
    timestampMs: Long,
    operation: String,
    columns: Seq[ColumnMeta],
    nextColId: Int,
    hash: Seq[HashComponent],
    range: Option[RangeComponent],
    retiredPhysNames: Seq[String],
    baseFiles: Seq[DataFileMeta],
    deltaFiles: Seq[DataFileMeta],
    // Option-typed so metadata written by older builds reads as None.
    droppedRanges: Option[Seq[RangeDrop]] = None,
    uncoveredRanges: Option[Seq[String]] = None,
    // Table-default parquet codec for base writes (ColumnSchemaPB
    // compression analog; parquet-mr codecs are per-file, so the
    // per-column half of the reference attribute maps to `encoding`).
    compressionCodec: Option[String] = None,
    // Per-range custom hash schema (common/partition.h:268; settable only
    // when the range has no base files, i.e. at range-(re)add time, like
    // the reference's AddRangePartition-with-custom-hash-schema): range
    // key → bucket count overriding the single hash component's count.
    rangeHashBuckets: Option[Map[String, Int]] = None,
    // Column statistics from the last analyze() (column name → stats) and
    // the snapshot version they were computed at. Estimates: served to
    // Spark's CBO as-is until the next analyze. Option-typed for metadata
    // written by older builds.
    colStats: Option[Map[String, ColStat]] = None,
    analyzedVersion: Option[Long] = None,
    // History retention mark (the reference's ancient-history-mark,
    // --tablet_history_max_age_sec): versions BELOW it were expired —
    // their manifests and exclusively-referenced files are gone, time
    // travel/CDC below the mark error cleanly, fsck treats the missing
    // prefix as intentional. Option-typed for older metadata (None = 1).
    expiredBefore: Option[Long] = None,
    // Z-order clustering spec as column IDS (rename/widen-proof): set by
    // cluster(), cleared by uncluster(); compact()/compactTablet() honor
    // it so background maintenance cannot silently de-cluster a table the
    // operator paid to cluster. Ids that no longer resolve (a clusterBy
    // column dropped) degrade to a plain PK-sorted rewrite. clusterFiles
    // carries the operator's chosen output file count along (0/None =
    // session shuffle partitions) — a re-clustering compaction must not
    // balloon a 16-file layout to spark.sql.shuffle.partitions files.
    clusterBy: Option[Seq[Int]] = None,
    clusterFiles: Option[Int] = None,
    // How the clustered rewrite combines the clusterBy columns' bins:
    // None/"z" = Morton interleave (multi-dimensional predicates);
    // "lead" = lexicographic on the FIRST column's bins alone (pure value
    // slabs — what single-dimension range/top-k serving wants, e.g. a
    // secondary index clustered on its lead value). Persisted so
    // compactions rebuild the same layout. Optional: older manifests read
    // as None = "z".
    clusterMode: Option[String] = None,
    // Free-form table properties (the reference's extra_configs —
    // AlterTableOptions.alterExtraConfigs, master.proto AlterTable
    // NEW_EXTRA_CONFIGS): engine components persist small state here
    // (e.g. a vector index's source watermark). Committed like any other
    // metadata change (files-unchanged version). Option-typed so metadata
    // written by older builds reads as None.
    props: Option[Map[String, String]] = None) {

  /** First version still readable (time travel / CDC floor). */
  def historyFloor: Long = expiredBefore.getOrElse(1L)

  /** Free-form table properties ([[props]]; empty for older metadata). */
  def propsMap: Map[String, String] = props.getOrElse(Map.empty)

  def schema: StructType = StructType(columns.map(_.toField))
  /** Full key, including the hidden auto-increment column of non-unique-PK
    * tables (reference: Schema.java:44-48 `auto_incrementing_id`). */
  def keyCols: Seq[String] = columns.filter(_.isKey).map(_.name)
  /** User-declared (possibly non-unique) key columns. */
  def userKeyCols: Seq[String] = columns.filter(c => c.isKey && !c.isAutoInc).map(_.name)
  def visibleColumns: Seq[ColumnMeta] = columns.filterNot(_.isAutoInc)
  def hasAutoInc: Boolean = columns.exists(_.isAutoInc)
  def column(name: String): ColumnMeta =
    columns.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name in table ${this.name}"))
  /** Range-drop records still masking rows (cleared by compaction). */
  def rangeDrops: Seq[RangeDrop] = droppedRanges.getOrElse(Nil)
  /** Range keys currently dropped and not re-added — writes to them error. */
  def uncovered: Seq[String] = uncoveredRanges.getOrElse(Nil)
  /** Per-range hash bucket-count overrides (empty = uniform hash schema). */
  def rangeHashBucketsMap: Map[String, Int] = rangeHashBuckets.getOrElse(Map.empty)
}

object TableMeta {
  implicit val formats: Formats = Serialization.formats(NoTypeHints)

  def metaDir(location: String) = Paths.get(location, "_graft")
  /** The manifest file of version `v`. */
  def versionFile(location: String, v: Long): java.nio.file.Path =
    metaDir(location).resolve(s"v$v.json")

  /** Every manifest version with a file on disk, ascending (empty when the
    * table has no metadata directory). Lists the files only: whether each
    * one parses is the caller's question. */
  def versionsOnDisk(location: String): Seq[Long] = {
    val dir = metaDir(location)
    if (!Files.isDirectory(dir)) return Nil
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.matches("v\\d+\\.json") => n.drop(1).dropRight(5).toLong }
        .toSeq.sorted
    }
  }
  private def currentFile(location: String) = metaDir(location).resolve("_current.json")

  def write(meta: TableMeta): Unit = {
    Files.createDirectories(metaDir(meta.location))
    val vf = versionFile(meta.location, meta.version)
    // Optimistic single-writer guard: two writers racing to commit the same
    // next version — the second one fails instead of silently clobbering
    // (the engine's commit unit is one snapshot version, SURVEY.md §7.3(c)).
    // CREATE_NEW makes check-and-write one atomic filesystem operation, so
    // concurrent committers cannot both pass an existence check (the loser
    // gets FileAlreadyExistsException and its _current swing never happens).
    val bytes = Serialization.writePretty(meta).getBytes(StandardCharsets.UTF_8)
    try {
      if (meta.version > 1)
        Files.write(vf, bytes, StandardOpenOption.CREATE_NEW)
      else // v1 = table creation; CreateTable has its own exists/overwrite policy
        Files.write(vf, bytes, StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(
          s"concurrent commit detected: version ${meta.version} already exists at ${meta.location}")
    }
    // Atomic pointer swing = our single-writer commit protocol (the Spark
    // analog of the reference's Raft-replicated metadata commit).
    val tmp = metaDir(meta.location).resolve(s"_current.json.tmp${meta.version}")
    Files.write(tmp, s"""{"version":${meta.version}}""".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, currentFile(meta.location), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Rewrite every snapshot's absolute paths after a directory move
    * (ALTER TABLE ... RENAME: the engine moves the table dir, then all
    * version metadata must swap the old location prefix for the new one,
    * keeping time travel over pre-rename snapshots working). Runs on the
    * already-moved directory; bounded driver-side work, one JSON rewrite
    * per version. */
  def relocate(from: String, to: String): Unit = {
    def swap(p: String): String =
      if (p == from) to
      else if (p.startsWith(from + "/")) to + p.substring(from.length)
      else p
    versionsOnDisk(to).map(versionFile(to, _)).foreach { vf =>
      val m = Serialization.read[TableMeta](
        new String(Files.readAllBytes(vf), StandardCharsets.UTF_8))
      val moved = m.copy(location = swap(m.location),
        baseFiles = m.baseFiles.map(f => f.copy(path = swap(f.path))),
        deltaFiles = m.deltaFiles.map(f => f.copy(path = swap(f.path))))
      Files.write(vf, Serialization.writePretty(moved).getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    }
  }

  def currentVersion(location: String): Long = {
    val s = new String(Files.readAllBytes(currentFile(location)), StandardCharsets.UTF_8)
    """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"corrupt _current.json at $location"))
  }

  /** Version-file reads performed (test instrumentation: the time-travel
    * lookup must stay O(log versions), not O(versions)). */
  val versionFileReads = new java.util.concurrent.atomic.AtomicLong()

  def read(location: String, version: Long): TableMeta = {
    versionFileReads.incrementAndGet()
    val s = new String(Files.readAllBytes(versionFile(location, version)), StandardCharsets.UTF_8)
    Serialization.read[TableMeta](s)
  }

  def readCurrent(location: String): TableMeta = read(location, currentVersion(location))

  /** Manifest at version `v`, checked against `floor` (the current
    * manifest's [[TableMeta.historyFloor]]): a clear error below the
    * history mark — and an honest one for versions that never existed
    * (v < 1 is a caller bug, not retention). */
  def readRetained(location: String, v: Long, floor: Long): TableMeta = {
    if (v < 1) throw new IllegalArgumentException(
      s"invalid snapshot version $v (versions start at 1)")
    if (v < floor) throw expired(s"version $v", floor)
    read(location, v)
  }

  private def expired(what: String, floor: Long) = new IllegalArgumentException(
    s"$what expired: history retained from v$floor " +
      s"(expireVersions ran; the ancient-history-mark analog)")

  def exists(location: String): Boolean = Files.exists(currentFile(location))

  /** Highest version whose commit timestamp is <= tsMs
    * (snapshotTimestampMs read option, kudu-spark DefaultSource.scala:74).
    * Commit timestamps are non-decreasing in version (single-writer commit
    * protocol stamps wall clock at write), so this binary-searches the
    * version files — ceil(log2 n)+1 file reads, not O(versions); a
    * long-lived table with 10^4 commits pays ~15 driver-side JSON reads
    * instead of 10^4. Falls back to a linear scan if the version chain has
    * gaps (a version file manually removed, or the prefix expireVersions
    * reclaimed). An instant older than every retained version errors as
    * expired when history was expired, so no retained version qualifies. */
  def versionAtTimestamp(location: String, tsMs: Long): Long = {
    val cur = currentVersion(location)
    def none(): Nothing = {
      val floor = readCurrent(location).historyFloor
      if (floor > 1) throw expired(s"the version at ts=$tsMs", floor)
      throw new IllegalArgumentException(s"no snapshot at or before ts=$tsMs for $location")
    }
    def linear(): Long = {
      val versions = (1L to cur).flatMap { v =>
        if (Files.exists(versionFile(location, v))) Some(read(location, v)) else None
      }
      versions.filter(_.timestampMs <= tsMs).map(_.version).sorted.lastOption
        .getOrElse(none())
    }
    try {
      var lo = 1L
      var hi = cur
      var ans = -1L
      while (lo <= hi) {
        val mid = lo + (hi - lo) / 2
        if (read(location, mid).timestampMs <= tsMs) { ans = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      if (ans < 0) none()
      ans
    } catch {
      case _: java.nio.file.NoSuchFileException => linear()
    }
  }
}
