package graft.sources.v2

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.catalog.TableMeta
import graft.table.GraftTable

/**
 * Streaming read of a graft table through the V2 catalog:
 * `spark.readStream.table("cat.t")` tails the table's COMMITTED mutation
 * versions — the streaming equivalent of repeated diff scans (reference:
 * incremental backup's KuduBackupRDD.scala:78-80 over diff scans).
 *
 * Offsets are snapshot versions, so a micro-batch is exactly the delta
 * filesets of versions (start, end] — files from commit attempts that
 * LOST the metadata race (or aborted mid-write) are never emitted, unlike
 * a directory-glob file stream, which can observe an attempt directory
 * before its commit fails. Version metadata is immutable once written, so
 * replanning a batch after recovery reads the identical fileset
 * (exactly-once per committed version; minor-fold rewrites are
 * excluded — folds re-emit nothing, [[GraftTable.committedDeltas]]).
 *
 * Emitted rows are the UPSERT row images in the table's visible schema
 * (append-only stream semantics); delete tombstones are filtered out —
 * consume [[graft.streaming.GraftStreaming.changeStream]] for the op-
 * tagged CDC feed. Options: `graft.startingVersion` = first version to
 * EXCLUDE history before (default: the version at stream start, i.e. new
 * commits only; initial-load rows are base files, not deltas, and are
 * never streamed). Rows from files predating an ALTER stream under the
 * current schema, remapped per file like a batch read (renamed columns by
 * position, widened ones cast, added ones at their read default).
 */
class GraftMicroBatchStream(meta: TableMeta, requiredSchema: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Int = 64,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {

  private def spark = SparkSession.active

  override def initialOffset(): Offset =
    GraftStreamOffset(startingVersion.getOrElse(meta.version))

  override def latestOffset(): Offset =
    GraftStreamOffset(TableMeta.currentVersion(meta.location))

  /** Per-stream manifest memo: version metadata is immutable once
    * committed (the exactly-once replanning guarantee above rests on it),
    * but each trigger used to re-read the same version manifests — once
    * in the byte-admission loop, again in planInputPartitions, and again
    * across replays. Locally that is JSON parse noise; against an object
    * store it is a round-trip per version per micro-batch. Bounded: a
    * long-running stream clears the memo once it outgrows a few triggers'
    * worth of versions (entries behind the committed offset are dead). */
  private val vCache = new java.util.concurrent.ConcurrentHashMap[Long, TableMeta]()

  /** Version manifest read with the batch paths' clean error when the
    * version fell below the history floor (expireVersions — the floor can
    * advance WHILE a stream runs, so the check is failure-path: re-read
    * the current floor only when the manifest is gone). */
  private def readV(v: Long): TableMeta = {
    val hit = vCache.get(v)
    if (hit != null) return hit
    val m = readVUncached(v)
    if (vCache.size > math.max(256, 4 * maxVersionsPerTrigger)) vCache.clear()
    vCache.put(v, m)
    m
  }

  private def readVUncached(v: Long): TableMeta =
    try TableMeta.read(meta.location, v)
    catch {
      case e: java.nio.file.NoSuchFileException =>
        val floor = try TableMeta.readCurrent(meta.location).historyFloor
          catch { case _: Exception => 1L }
        if (v < floor) throw new IllegalArgumentException(
          s"version $v expired: history retained from v$floor — restart " +
            s"the stream from a surviving offset (graft.startingVersion)")
        else throw e
    }

  /** Bytes a version's micro-batch would read (its own delta filesets). */
  private def versionBytes(v: Long): Long =
    GraftTable.committedDeltas(readV(v), v)
      .map(f => GraftTable.fileSize(f.path)).sum

  /** Bounded triggers: advance at most maxVersionsPerTrigger versions per
    * micro-batch, so a rewound stream (graft.startingVersion) or a deep
    * backlog drains in bounded batches instead of one giant one. With
    * `graft.maxBytesPerTrigger` the bound is BYTES — version sizes vary by
    * orders of magnitude between a trickle writer and a bulk upsert, and a
    * byte cap is what actually bounds micro-batch executor memory. Always
    * admits at least one version when a backlog exists (an over-cap single
    * version must still drain — progress over strictness, the same posture
    * as Spark's own maxBytesPerTrigger file-source option). */
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val cur = TableMeta.currentVersion(meta.location)
    val v0 = start.asInstanceOf[GraftStreamOffset].version
    val capV = math.min(cur, v0 + maxVersionsPerTrigger)
    val end = maxBytesPerTrigger match {
      case None => capV
      case Some(cap) =>
        var v = v0
        var bytes = 0L
        var stop = false
        while (!stop && v < capV) {
          val b = versionBytes(v + 1)
          if (v > v0 && bytes + b > cap) stop = true
          else { bytes += b; v += 1 }
        }
        v
    }
    GraftStreamOffset(end)
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val v0 = start.asInstanceOf[GraftStreamOffset].version
    val v1 = end.asInstanceOf[GraftStreamOffset].version
    val files = (v0 + 1 to v1).flatMap { v =>
      // each version's metadata is immutable: its own delta files are the
      // ones stamped seq == v (compaction-fold rewrites excluded)
      GraftTable.committedDeltas(readV(v), v)
    }
    planned = files
    files.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.GraftSqlBridge.filePartition(i, Seq(f.path), None)
    }.toArray
  }

  /** The delta files the latest [[planInputPartitions]] planned: Spark
    * plans a micro-batch's partitions before it asks for its reader
    * factory, which reads each of them through its schema generation. */
  @volatile private var planned: Seq[graft.catalog.DataFileMeta] = Nil

  override def createReaderFactory(): PartitionReaderFactory = {
    // read the required columns plus the op column — every file through
    // its schema generation, as the batch scan reads base files; emit
    // upsert images only, projected back to the caller's schema (the
    // MorOverlay internal-schema pattern)
    val internal = StructType(requiredSchema.fields :+
      org.apache.spark.sql.types.StructField(GraftTable.OpCol,
        org.apache.spark.sql.types.StringType))
    new UpsertImageReaderFactory(
      GraftV2Scan.generationReader(meta, planned, internal, Array.empty, _ => false),
      requiredSchema.fields.map(_.dataType), requiredSchema.fields.length)
  }
}

case class GraftStreamOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

class UpsertImageReaderFactory(inner: PartitionReaderFactory,
    types: Array[DataType], n: Int) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new UpsertImageReader(inner.createReader(p), types, n)
}

/** Drops tombstone rows and projects the op column away. */
class UpsertImageReader(inner: PartitionReader[InternalRow],
    types: Array[DataType], n: Int) extends PartitionReader[InternalRow] {
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (row.getUTF8String(n).toString != GraftTable.OpDelete) {
        val c = row.copy() // the inner UnsafeRow buffer is reused
        current = new GenericInternalRow(
          Array.tabulate[Any](n)(i => c.get(i, types(i))))
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}
