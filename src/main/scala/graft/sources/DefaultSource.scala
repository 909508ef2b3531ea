package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{HashComponent, RangeComponent, TableMeta}
import graft.sources.v2.GraftV2Table
import graft.table.GraftTable

/**
 * `spark.read.format("graft")` / `df.write.format("graft")` — the DataSource
 * surface, shaped after the reference's own Spark connector
 * (kudu-spark DefaultSource.scala:85 DataSourceRegister "kudu";
 * KuduSink :538 StreamSinkProvider). A batch read is a DataSource V2
 * table: [[getTable]] returns the [[GraftV2Table]] the SQL catalog and
 * every `GraftTable` read face use, pinned at the requested snapshot, so a
 * `format("graft")` read prunes, merges on read and answers small gets on
 * the driver (graft.plans.InlineReads) like `scan()`. That handle lacks
 * BATCH_WRITE and MICRO_BATCH_READ, so Spark saves through the V1
 * [[createRelation]] below and streams through the op-tagged
 * [[graft.streaming.GraftChangeSource]].
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
class DefaultSource extends TableProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  // Spark asks one provider for a table's schema and then for the table,
  // with the same options: getTable hands out the handle inferSchema built,
  // once (a later request builds a fresh one)
  private var inferred: Option[(java.util.Map[String, String], Table)] = None

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = table(options.asCaseSensitiveMap)
    inferred = Some(options.asCaseSensitiveMap -> t)
    t match {
      case _: Absent => new StructType() // a save creates the table
      case handle => handle.schema()
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    try inferred.filter(_._1 == properties).fold(table(properties))(_._2)
    finally inferred = None

  /** The table at the options' location and snapshot (the current one
    * unless graft.snapshotVersion or graft.snapshotTimestampMs names one).
    * A location with no table yet gets [[Absent]]. */
  private def table(options: java.util.Map[String, String]): Table = {
    val parameters = CaseInsensitiveMap(options.asScala.toMap)
    val loc = path(parameters)
    if (!GraftTable.exists(loc)) return new Absent(loc)
    val spark = SparkSession.active
    graft.plans.InlineReads.inject(spark)
    val t = GraftTable.load(spark, loc)
    val version = parameters.get("graft.snapshotVersion").map(_.toLong).orElse(
      parameters.get("graft.snapshotTimestampMs")
        .map(ts => TableMeta.versionAtTimestamp(loc, ts.toLong)))
    new GraftV2Table(version.map(t.metaAt).getOrElse(t.meta), microBatch = false)
  }

  /** A location with no table yet: a write's handle, which lacks
    * BATCH_WRITE so the save runs [[createRelation]] and creates the table
    * there; a read fails when Spark asks for its schema, with the error
    * loading the table gives. */
  private class Absent(loc: String) extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    private def missing = new IllegalArgumentException(s"no graft table at $loc")
    override def name(): String = loc
    override def schema(): StructType = throw missing
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap)
        : org.apache.spark.sql.connector.read.ScanBuilder = throw missing
  }

  /** Streaming CDC source: `spark.readStream.format("graft").option("path",
    * loc)` tails COMMITTED mutation versions (GraftStreaming.changeStream
    * is the convenience wrapper). Schema: table columns + op + seq. */
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

  /** What a V1 save hands back to Spark: the written table's schema. */
  private def written(ctx: SQLContext, loc: String): BaseRelation = new BaseRelation {
    override def sqlContext: SQLContext = ctx
    override def schema: StructType =
      StructType(TableMeta.readCurrent(loc).visibleColumns.map(_.toField))
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
        return written(sqlContext,
          GraftTable.create(spark, loc, loc.split('/').last, data.schema,
            keys, hash, range, data = Some(data)).location)
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
    written(sqlContext, loc)
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
