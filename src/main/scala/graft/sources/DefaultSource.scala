package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.catalog.{HashComponent, RangeComponent, TableMeta}
import graft.table.GraftTable

/**
 * `spark.read.format("graft")` / `df.write.format("graft")` — the DataSource
 * surface, shaped after the reference's own Spark connector
 * (kudu-spark DefaultSource.scala:85 DataSourceRegister "kudu";
 * KuduRelation :305 BaseRelation with PrunedFilteredScan with
 * InsertableRelation; KuduSink :538 StreamSinkProvider).
 *
 * Options:
 *   graft.table.path        table location (required)
 *   graft.operation         write op: upsert (default) | insert |
 *                           insert-ignore (mirrors kudu.operation :73)
 *   graft.primaryKey        comma-separated PK cols (create on first write)
 *   graft.hash.columns / graft.hash.buckets     hash partitioning (create)
 *   graft.range.column / graft.range.granularity  range partitioning (create)
 *   graft.snapshotVersion   time-travel read at a version
 *   graft.snapshotTimestampMs  time-travel read at a wall clock
 *                           (mirrors kudu.snapshotTimestampMs :74)
 *   graft.handleSchemaDrift when "true", a write batch carrying columns the
 *                           table lacks auto-adds them as nullable before
 *                           the operation (mirrors kudu.handleSchemaDrift,
 *                           kudu-spark DefaultSource.scala:61-72,231)
 *   graft.upsert.orderCol   streaming sink: column defining last-wins when a
 *                           micro-batch carries several writes to one key
 *                           (without it, intra-batch duplicate keys error)
 *   graft.maintain.every    streaming sink: run the maintenance policy every
 *                           N micro-batches (default 16; 0 disables) so a
 *                           long-running stream folds its own delta backlog
 *   graft.maintain.maxDeltaRatio / graft.maintain.maxDeltaFiles
 *                           maintenance-policy thresholds for the sink
 *                           (defaults 0.2 / 64 — see GraftTable.maintain)
 *   graft.maintain.perTablet  when "true", a tripped ratio folds only the
 *                           delta-pressured tablets (compactTablet) instead
 *                           of rewriting the whole base — the 100 TB posture
 *   graft.stream.maxTailFiles  streaming sink: bound on unrouted tail delta
 *                           filesets — past it the sink runs the in-place
 *                           tail-merge (mergeTailDeltas; no base fold, no
 *                           routing) between real flushes (default 24;
 *                           0 disables)
 */
class DefaultSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** Streaming CDC source: `spark.readStream.format("graft").option("path",
    * loc)` tails COMMITTED mutation versions (GraftStreaming.changeStream
    * is the convenience wrapper). Schema: physical columns + op + seq. */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft-changes", graft.streaming.GraftStreaming.changeSchema(
      graft.catalog.TableMeta.readCurrent(path(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new graft.streaming.GraftChangeSource(sqlContext.sparkSession, path(parameters),
      parameters.get("graft.maxVersionsPerTrigger").map(_.toInt).getOrElse(64))

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("graft.table.path",
      parameters.getOrElse("path",
        throw new IllegalArgumentException("graft.table.path option required")))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val loc = path(parameters)
    val version: Option[Long] =
      parameters.get("graft.snapshotVersion").map(_.toLong).orElse(
        parameters.get("graft.snapshotTimestampMs")
          .map(ts => TableMeta.versionAtTimestamp(loc, ts.toLong)))
    GraftRelation(sqlContext, loc, version)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val loc = path(parameters)
    val spark = sqlContext.sparkSession
    val table =
      if (GraftTable.exists(loc)) GraftTable.load(spark, loc)
      else {
        val keys = parameters.getOrElse("graft.primaryKey",
          throw new IllegalArgumentException(
            "graft.primaryKey required to create a new table"))
          .split(",").map(_.trim).toSeq
        val hash = (parameters.get("graft.hash.columns"),
          parameters.get("graft.hash.buckets")) match {
          case (Some(cs), Some(b)) =>
            Seq(HashComponent(cs.split(",").map(_.trim).toSeq, b.toInt))
          case _ => Nil
        }
        val range = parameters.get("graft.range.column").map(c =>
          RangeComponent(c, parameters.getOrElse("graft.range.granularity", "year")))
        return GraftRelation(sqlContext,
          GraftTable.create(spark, loc, loc.split('/').last, data.schema,
            keys, hash, range, data = Some(data)).location, None)
      }
    if (parameters.get("graft.handleSchemaDrift").exists(_.toBoolean)) {
      val known = table.meta.columns.map(_.name).toSet
      data.schema.fields.filterNot(f => known.contains(f.name)).foreach { f =>
        table.addColumn(f.name, f.dataType, nullable = true)
      }
    }
    (mode, parameters.getOrElse("graft.operation", "upsert")) match {
      case (SaveMode.Overwrite, _) => table.overwrite(data)
      case (_, "insert") => table.insert(data)
      case (_, "insert-ignore") => table.insertIgnore(data)
      case (_, "upsert") => table.upsert(data)
      case (_, op) => throw new IllegalArgumentException(s"unknown graft.operation: $op")
    }
    GraftRelation(sqlContext, loc, None)
  }

  /** Streaming upsert sink — one delta commit per micro-batch, at-least-once
    * (KuduSink semantics, DefaultSource.scala:538-555). Rows never touch the
    * driver: the micro-batch's executed plan is re-wrapped as a batch
    * DataFrame from its InternalRow RDD (the same executor-side re-wrap
    * Spark's own ForeachBatchSink does), then committed as a delta. */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val table = GraftTable.load(sqlContext.sparkSession, path(parameters))
    // graft.upsert.orderCol: a micro-batch may carry several writes to one
    // key (e.g. a CDC stream); the option names the column defining
    // last-wins. Without it, duplicate keys in one micro-batch error —
    // commits are unordered sets, so an arbitrary winner would be
    // nondeterministic.
    val orderCol = parameters.get("graft.upsert.orderCol")
    // graft.maintain.every: run the maintenance policy every N micro-batches
    // (0 disables). A long-running stream commits one delta fileset per
    // micro-batch; without in-band maintenance the delta set grows without
    // bound until an out-of-band job folds it. The policy check is two
    // metadata sums — a compaction only runs when the delta ratio or file
    // count trips — and a pass preempted by a concurrent writer yields, so
    // the check is safe and cheap to run inline on the micro-batch thread.
    // Folds are invisible to CDC (changeStream emits committed mutation
    // versions only), so downstream replication is unaffected.
    val maintainEvery = parameters.get("graft.maintain.every").map(_.toInt).getOrElse(16)
    val maintainRatio =
      parameters.get("graft.maintain.maxDeltaRatio").map(_.toDouble).getOrElse(0.2)
    val maintainFiles =
      parameters.get("graft.maintain.maxDeltaFiles").map(_.toInt).getOrElse(64)
    val maintainPerTablet =
      parameters.get("graft.maintain.perTablet").exists(_.toBoolean)
    // graft.stream.maxTailFiles: between real flushes, keep the unrouted
    // tail at or under this many filesets by running the in-place
    // tail-merge (mergeTailDeltas — no base fold, no routing) whenever a
    // commit pushes the count past the bound. The check is one metadata
    // count per batch; the merge itself is O(tail). 0 disables.
    val maxTailFiles =
      parameters.get("graft.stream.maxTailFiles").map(_.toInt).getOrElse(24)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val batch = org.apache.spark.sql.GraftSqlBridge.internalCreateDataFrame(
          sqlContext.sparkSession, data.queryExecution.toRdd, data.schema)
        orderCol match {
          case Some(oc) => table.upsert(batch, oc)
          case None => table.upsert(batch)
        }
        if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
          table.maintain(maintainRatio, maintainFiles, perTablet = maintainPerTablet)
        if (maxTailFiles > 0 && table.meta.deltaFiles.count(
            f => f.bucket.isEmpty && f.rangeKey.isEmpty) > maxTailFiles)
          try table.mergeTailDeltas()
          catch {
            // a racing writer/maintainer taking the commit is fine — the
            // bound is hygiene, the next batch re-checks
            case _: graft.catalog.ConcurrentCommitException =>
          }
      }
    }
  }
}

/**
 * PrunedFilteredScan relation: Catalyst hands down required columns +
 * filters (KuduRelation.buildScan, DefaultSource.scala:374-384); we prune
 * partitions/files from the filters, push the rest into the Parquet scans,
 * and report unhandled filters for Spark to re-evaluate
 * (unhandledFilters parity, DefaultSource.scala:516-523).
 */
case class GraftRelation(sqlContext: SQLContext, location: String,
    version: Option[Long]) extends BaseRelation
    with PrunedFilteredScan with InsertableRelation {

  private def spark: SparkSession = sqlContext.sparkSession
  private lazy val table = GraftTable.load(spark, location)
  private lazy val metaAtVersion = version.map(table.metaAt).getOrElse(table.meta)

  override def schema: StructType =
    StructType(metaAtVersion.visibleColumns.map(_.toField))

  /** Table stats drive Catalyst's broadcast-join selection (the analog of
    * the reference reporting on-disk size, DefaultSource.scala:329-352). */
  override def sizeInBytes: Long = {
    val m = metaAtVersion
    (m.baseFiles ++ m.deltaFiles)
      .map(f => GraftTable.fileSize(f.path)).sum max 1L
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    // the handled filters prune AND filter inside scanPruned; Spark
    // re-evaluates the unhandled ones above this relation
    val filtered = table.scanPruned(
      filters.filter(f => GraftRelation.toColumn(f).isDefined).toSeq, version)
    val projected =
      if (requiredColumns.isEmpty) filtered
      else filtered.select(requiredColumns.map(col).toSeq: _*)
    projected.rdd
  }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(f => GraftRelation.toColumn(f).isEmpty)

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    // overwrite goes through the single-version atomic replace: a
    // mid-statement failure leaves the pre-statement snapshot intact
    // (never truncate-then-die; same path as SaveMode.Overwrite above).
    if (overwrite) table.overwrite(data)
    else table.upsert(data)
  }
}

object GraftRelation {
  /** Spark Filter → Column, for the subset the engine evaluates itself
    * (the reference converts the comparison/IN/NULL/prefix conjunctions,
    * DefaultSource.scala:392-421; Or/Not/contains are extra surface the
    * SQL DELETE path wants — metadata pruning still only consumes the
    * conjunctive shapes and ignores the rest). */
  def toColumn(f: Filter): Option[Column] = f match {
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
