package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.Row

import graft.table.GraftTable

/**
 * Streaming surface of the engine — the Spark-native analog of the
 * reference's streaming pieces:
 *
 *  - [[upsertSink]]: at-least-once upsert sink, one delta commit per
 *    micro-batch (reference: KuduSink, kudu-spark DefaultSource.scala:538-555;
 *    W8 in SURVEY.md §2.3). Exactly mirrors the connector's default
 *    operation (upsert, DefaultSource.scala:270-272).
 *  - [[changeStream]]: an incremental change-log source that streams delta
 *    commits as they land (reference: diff scans feeding incremental backup,
 *    KuduBackupRDD.scala:78-80; replication java/kudu-replication). Each row
 *    carries the row image plus `_op` (U|D) and `_seq` (commit version).
 */
object GraftStreaming {

  /** Attach an upsert-per-micro-batch sink to a streaming DataFrame. The
    * caller starts/stops the returned writer. */
  def upsertSink(stream: DataFrame, table: GraftTable): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch((batch: DataFrame, _: Long) => table.upsert(batch))

  /** Convenience: start the sink immediately. */
  def startUpsertSink(stream: DataFrame, table: GraftTable): StreamingQuery =
    upsertSink(stream, table).start()

  /**
   * Continuous replication (E6, java/kudu-replication): tails the source's
   * change stream and applies each micro-batch op-aware to the destination —
   * upserts replayed as upserts, delete tombstones as ignore-deletes.
   * At-least-once; both ops are idempotent per (PK, row image), so replays
   * converge.
   */
  def startReplication(spark: SparkSession, src: GraftTable, dest: GraftTable): StreamingQuery = {
    val m = src.meta
    changeStream(spark, src).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // One micro-batch can span MANY committed versions (the source
        // batches up to maxVersionsPerTrigger commits), so a key may carry
        // several mutations here. Reduce to latest-per-key by commit seq
        // BEFORE splitting: applying "all upserts then all deletes" would
        // let an older tombstone beat a newer upsert, and a multi-commit
        // upsert set would trip the destination's duplicate-key guard.
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val w = Window.partitionBy(m.keyCols.map(col): _*)
          .orderBy(col(GraftTable.SeqCol).desc, col(GraftTable.OpCol).desc)
        val latest = batch.withColumn("_graft_rn", row_number().over(w))
          .filter(col("_graft_rn") === 1).drop("_graft_rn", GraftTable.SeqCol)
        val ups = latest.filter(latest(GraftTable.OpCol) === GraftTable.OpUpsert)
          .drop(GraftTable.OpCol)
        val dels = latest.filter(latest(GraftTable.OpCol) === GraftTable.OpDelete)
          .select(m.keyCols.map(latest(_)): _*)
        if (!ups.isEmpty) dest.upsert(ups)
        if (!dels.isEmpty) dest.delete(dels, ignore = true)
      }
      .start()
  }

  /**
   * Change-log stream of a graft table ([[GraftChangeSource]]): each new
   * mutation commit's delta files (upsert/update/delete/insert) are
   * emitted incrementally — the streaming equivalent of repeated diff
   * scans. Base-only commits (initial load, compaction) do not re-emit
   * rows, matching diff-scan semantics (logical changes only).
   *
   * Schema: [[changeSchema]].
   */
  def changeStream(spark: SparkSession, table: GraftTable): DataFrame =
    spark.readStream.format("graft").option("path", table.location).load()

  /** The change feed's schema: every table column by its current logical
    * name (nullable; the names [[GraftTable.changesSince]] uses — a
    * never-altered table's physical names are the same), then op and seq.
    * A row from a file written before an ALTER reads under it like any
    * table read: a renamed column by position, a widened one cast, an
    * added one at its read default. */
  def changeSchema(m: graft.catalog.TableMeta): StructType = {
    val fields = m.columns.map(c =>
      StructField(c.name, c.dataType, nullable = true)) ++ Seq(
      StructField(GraftTable.OpCol, StringType, nullable = false),
      StructField(GraftTable.SeqCol, LongType, nullable = false))
    StructType(fields)
  }
}

/**
 * V1 streaming Source behind [[GraftStreaming.changeStream]]: offsets are
 * COMMITTED snapshot versions, and a micro-batch is exactly the delta
 * filesets of versions (start, end] — version metadata is immutable, so a
 * recovered batch replans identically, and files from commit attempts
 * that lost the metadata race (or aborted mid-write, e.g. an in-job PK
 * guard) are never emitted. The directory-glob file stream this replaces
 * could observe an attempt directory before its commit failed and stream
 * phantom rows. Minor-fold rewrites are excluded
 * ([[graft.table.GraftTable.committedDeltas]]) — a minor fold re-emits
 * nothing (logical changes only, diff-scan semantics). A fresh stream
 * starts from version 0: the full committed delta history (initial-load
 * base files are not deltas). Each batch reads its delta files through the
 * V2 scan's raw read ([[GraftTable.readRaw]]), remapped to the current
 * schema.
 */
class GraftChangeSource(spark: SparkSession, location: String,
    maxVersionsPerTrigger: Int = 64)
    extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.runtime.LongOffset
  import graft.catalog.TableMeta

  override def schema: StructType =
    GraftStreaming.changeSchema(TableMeta.readCurrent(location))

  /** High-water mark of the last PLANNED batch — the next offer advances
    * at most maxVersionsPerTrigger past it, so a deep backlog (or a fresh
    * stream over a long history) drains in bounded micro-batches instead
    * of one giant batch (the successor of the old file stream's
    * maxFilesPerTrigger). */
  private var planned: Long = -1L

  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] = {
    val cur = TableMeta.currentVersion(location)
    val capped =
      if (planned < 0) math.min(cur, maxVersionsPerTrigger.toLong)
      else math.min(cur, planned + maxVersionsPerTrigger)
    Some(LongOffset(capped))
  }

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Long =
    o match {
      case l: LongOffset => l.offset
      case other => other.json.trim.toLong
    }

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset): DataFrame = {
    val v0 = start.map(versionOf).getOrElse(0L)
    val v1 = versionOf(end)
    planned = math.max(planned, v1)
    val files = (v0 + 1 to v1).flatMap { v =>
      // each version's own delta files are the ones stamped seq == v
      GraftTable.committedDeltas(TableMeta.read(location, v), v)
    }
    // the raw read's columns are the change schema's
    val m = TableMeta.readCurrent(location)
    val s = GraftStreaming.changeSchema(m)
    val batch = GraftTable.readRaw(spark, m, files)
    // a V1 Source must hand back a streaming-tagged DataFrame; the rows
    // stay on the executors (toRdd is the lazy executed plan)
    org.apache.spark.sql.GraftSqlBridge.internalCreateStreamingDataFrame(
      spark, batch.queryExecution.toRdd, s)
  }

  override def commit(end: org.apache.spark.sql.execution.streaming.Offset): Unit = ()
  override def stop(): Unit = ()
}
