package graft.sources.v2

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.catalog.TableMeta
import graft.table.GraftTable

/**
 * SQL UPDATE / MERGE INTO / subquery-DELETE as DELTA-BASED row-level
 * operations (SupportsDelta): Spark reads the rows to change through the
 * table's own V2 scan, computes the per-row actions, and streams them to
 * per-task [[GraftDeltaWriter]]s that write the engine's native delta
 * parquet files (tombstones + upserts, physical column names, OpCol +
 * SeqCol) DIRECTLY into a commit-attempt directory — no driver collect,
 * no base rewrite. The driver then publishes the fileset as one snapshot
 * version through the engine's atomic CREATE_NEW metadata guard.
 *
 * This is the Spark-native analog of the reference's session mutations
 * (tablet/ops/write_op.cc — per-tablet delta application under a single
 * commit), with Spark planning the match/assignment logic.
 *
 * Simple-predicate DELETEs don't land here: Spark's metadata-delete
 * optimization routes them to [[GraftV2Table.deleteWhere]] first; only
 * subquery deletes fall through to the row-level plan.
 */
class GraftRowLevelOperation(
    table: GraftV2Table,
    meta: TableMeta,
    cmd: RowLevelOperation.Command) extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The scan feeding the rewrite plan — the table's own (readability-
    * checked) builder, so pending deltas serve through the MOR overlay. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)

  /** Rows are addressed by the primary key — the engine's native row id. */
  override def rowId(): Array[NamedReference] =
    meta.keyCols.map(Expressions.column).toArray

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(meta, cmd, info)
    }
}

/** One row-level statement's write: stamps the target snapshot version at
  * plan time (optimistic — a concurrent commit aborts this statement, not
  * the other writer) and commits the executor-written fileset on success. */
class GraftDeltaWrite(meta: TableMeta, cmd: RowLevelOperation.Command,
    info: LogicalWriteInfo) extends DeltaWrite with DeltaBatchWrite {

  private val expectedVersion = meta.version + 1
  private val attemptDir =
    GraftTable.attemptDir(meta.location, expectedVersion, GraftTable.DeltaToken)

  override def toBatch: DeltaBatchWrite = this

  override def createBatchWriterFactory(
      pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    // the engine's delta-file layout: physical column names + op + seq
    val fileSchema = GraftTable.deltaFileSchema(meta)
    val rowSchema = info.schema()
    val idSchema = info.rowIdSchema().orElse(rowSchema)
    // file position i <- full-row position (by logical name); -1 when the
    // command never sends full rows (pure DELETE plans carry ids only)
    val rowIdx = meta.columns.map(c =>
      if (rowSchema.fieldNames.contains(c.name)) rowSchema.fieldIndex(c.name)
      else -1).toArray
    // file position of each key column and its position in the id row
    val keyFilePos = meta.columns.zipWithIndex.filter(_._1.isKey).map(_._2).toArray
    val idIdx = keyFilePos.map(i => idSchema.fieldIndex(meta.columns(i).name))
    new GraftDeltaWriterFactory(attemptDir, expectedVersion,
      fileSchema, rowIdx, keyFilePos, idIdx,
      rowSchema.fields.map(_.dataType), idSchema.fields.map(_.dataType),
      org.apache.spark.sql.GraftSqlBridge.parquetWriterConf(
        spark, fileSchema, GraftTable.effectiveCodec(meta)))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // Only files a task reported through its commit message are real: a
    // retried/speculated attempt or a crashed executor can leave partial
    // (even footerless) files in the attempt dir that must never reach the
    // manifest. Sweep strays first, then commit exactly the reported set.
    val committed = messages.collect {
      case GraftDeltaCommitMessage(rows, path) if rows > 0 => path
    }.toSet
    try {
      val dir = Paths.get(attemptDir)
      if (Files.exists(dir))
        Files.list(dir).iterator().asScala
          .filter(p => !committed.contains(p.toString))
          .foreach(Files.deleteIfExists(_))
      val t = GraftTable.load(SparkSession.active, meta.location)
      t.commitPrewrittenDeltas(expectedVersion, attemptDir,
        cmd.toString.toLowerCase, committed.toSeq.sorted)
    } catch { case e: Throwable => sweep(); throw e }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = sweep()

  private def sweep(): Unit = GraftTable.sweepTree(Paths.get(attemptDir))
}

case class GraftDeltaCommitMessage(rows: Long, path: String)
  extends WriterCommitMessage

class GraftDeltaWriterFactory(
    dir: String,
    seq: Long,
    fileSchema: StructType,
    rowIdx: Array[Int],
    keyFilePos: Array[Int],
    idIdx: Array[Int],
    rowTypes: Array[DataType],
    idTypes: Array[DataType],
    conf: SerializableConfiguration) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(s"$dir/part-$partitionId-$taskId.parquet", seq,
      fileSchema, rowIdx, keyFilePos, idIdx, rowTypes, idTypes, conf)
}

/** Per-task delta writer: upserts for insert/update, tombstones (keys +
  * null attributes, like the engine's own deleteWhere) for delete. A
  * key-changing update becomes tombstone(old) + upsert(new) — distinct
  * keys, so the same-seq tie-break never has to arbitrate them. */
class GraftDeltaWriter(
    path: String,
    seq: Long,
    fileSchema: StructType,
    rowIdx: Array[Int],
    keyFilePos: Array[Int],
    idIdx: Array[Int],
    rowTypes: Array[DataType],
    idTypes: Array[DataType],
    conf: SerializableConfiguration) extends DeltaWriter[InternalRow] {

  private val nCols = fileSchema.fields.length - 2 // minus op, seq
  private val opU = UTF8String.fromString(GraftTable.OpUpsert)
  private val opD = UTF8String.fromString(GraftTable.OpDelete)
  private var rows = 0L
  private lazy val out = {
    org.apache.spark.sql.GraftSqlBridge.openParquetRowWriter(path, conf.value)
  }

  private def emit(vals: Array[Any], op: UTF8String): Unit = {
    vals(nCols) = op
    vals(nCols + 1) = seq
    out.write(new GenericInternalRow(vals))
    rows += 1
  }

  private def fullRow(row: InternalRow): Array[Any] = {
    val a = new Array[Any](nCols + 2)
    var i = 0
    while (i < nCols) {
      a(i) = if (rowIdx(i) >= 0 && !row.isNullAt(rowIdx(i)))
        row.get(rowIdx(i), rowTypes(rowIdx(i)))
      else null
      i += 1
    }
    a
  }

  private def keyRow(id: InternalRow): Array[Any] = {
    val a = new Array[Any](nCols + 2) // non-key attributes stay null
    var j = 0
    while (j < keyFilePos.length) {
      a(keyFilePos(j)) = id.get(idIdx(j), idTypes(idIdx(j)))
      j += 1
    }
    a
  }

  private def keyOfId(id: InternalRow): Seq[Any] =
    MorOverlay.keyOf(id, idIdx, idTypes)
  private def keyOfRow(row: InternalRow): Seq[Any] =
    MorOverlay.keyOf(row, keyFilePos.map(rowIdx), rowTypes)

  override def insert(row: InternalRow): Unit = emit(fullRow(row), opU)

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    emit(keyRow(id), opD)

  override def update(metadata: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    if (keyOfId(id) != keyOfRow(row)) emit(keyRow(id), opD) // PK reassigned
    emit(fullRow(row), opU)
  }

  override def commit(): WriterCommitMessage = {
    if (rows > 0) out.close()
    GraftDeltaCommitMessage(rows, path)
  }

  /** A failed/retried attempt must leave nothing behind: close (to release
    * the handle) then delete the partial file, so a speculated twin or a
    * re-run of this task can never double-commit these rows. */
  override def abort(): Unit = {
    try { if (rows > 0) out.close() } catch { case _: Exception => }
    try Files.deleteIfExists(Paths.get(path)) catch { case _: Exception => }
  }

  override def close(): Unit = ()
}
