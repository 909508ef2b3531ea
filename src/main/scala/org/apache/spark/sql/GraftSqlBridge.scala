package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into Spark's sql-private Column↔Expression conversions for the
 * graft engine's native expressions (Spark 4 made Column ColumnNode-backed;
 * extension libraries reach the classic converters through a same-package
 * shim — the established pattern for DataSource/extension projects).
 */
/** A FilePartition that also reports its hash-bucket ids as the partition
  * key — the unit Spark's storage-partitioned join groups on. Multi-
  * component hash layouts report one key field per component (the
  * composite id decoded back into per-component bucket ids, matching the
  * one-bucket-transform-per-component KeyGroupedPartitioning); the
  * composite id itself stays available for per-bucket delta routing. */
class GraftKeyedFilePartition(
    index: Int,
    files: Array[execution.datasources.PartitionedFile],
    val bucketIds: Array[Int],
    val compositeBucket: Int)
  extends execution.datasources.FilePartition(index, files)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): catalyst.InternalRow =
    new catalyst.expressions.GenericInternalRow(
      bucketIds.map(b => b: Any))
}

/** A FilePartition carrying an opaque delta-route key, for layouts that
  * report no key grouping (multi-column hash components; per-range hash
  * overrides, where a bucket id is only meaningful within its own range's
  * modulus): the route tells the merge-on-read overlay which upsert rows
  * this split owns, without claiming any partition key toward Spark. */
class GraftRoutedFilePartition(
    index: Int,
    files: Array[execution.datasources.PartitionedFile],
    val route: String,
    // A route sub-split by size yields several partitions sharing one
    // route; exactly ONE of them (the first chunk) may emit the route's
    // delta upserts, or merge-on-read would duplicate them per chunk.
    val ownsDeltas: Boolean = true)
  extends execution.datasources.FilePartition(index, files)

object GraftSqlBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Whether the session's SparkContext has been stopped (`isStopped` is
    * private[spark]) — background daemons use it to self-clean entries
    * whose session can never run a job again. */
  def isStopped(session: SparkSession): Boolean = session.sparkContext.isStopped

  /** Drain the async listener bus (private[spark]) so a spec's job-count
    * listener has seen every job the measured body started. */
  def flushListenerBus(session: SparkSession): Unit =
    session.sparkContext.listenerBus.waitUntilEmpty()

  /** A parquet file's Spark schema from its footer, DRIVER-SIDE — no Spark
    * job (per-path `spark.read.parquet` schema inference costs one job
    * each; callers reading many same-table filesets want per-fileset
    * schemas without paying that) — and, per leaf column (by dotted
    * path), the nulls the row-group statistics record (absent when a row
    * group records none). */
  def parquetFileFooter(session: SparkSession, path: String)
      : (types.StructType, Map[String, Long]) = {
    import scala.jdk.CollectionConverters._
    val conf = session.sessionState.newHadoopConf()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val nulls = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString).flatMap { case (c, chunks) =>
          val stats = chunks.map(ch => Option(ch.getStatistics))
          if (stats.forall(_.exists(_.isNumNullsSet)))
            Some(c -> stats.map(_.get.getNumNulls).sum)
          else None
        }
      // the SQLConf ctor — the Configuration one expects ParquetFileFormat's
      // explicitly-propagated SQL keys and NPEs on a plain hadoop conf
      (new execution.datasources.parquet.ParquetToSparkSchemaConverter(
        session.sessionState.conf).convert(footer.getFileMetaData.getSchema), nulls)
    } finally reader.close()
  }

  /** A DataFrame over an arbitrary logical plan (Dataset.ofRows is
    * private[sql]) — the serving rewrites use it to evaluate a BOUNDED
    * plan-time probe over a plan subtree they matched (e.g. a join's
    * small dimension side), the same posture as dynamic partition
    * pruning's subquery execution. */
  def ofRows(session: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], plan)

  /** Each session [[planIn]] cloned -> the session it serves for. */
  private val owners = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** `df`'s analyzed plan in a clone of its session (`cloneSession`) with
    * `settings` set on the clone only, so the SQL settings of one engine
    * action reach no other query of the session. Call it at the action
    * (collect, persist, write): a frame built on the result plans in the
    * clone too, as a join plans in its left side's session. The plan is
    * already analyzed, so the clone resolves no name and opens no catalog;
    * the serving registries find the session it serves for through
    * [[owner]]. With every setting already in force, `df` itself. */
  def planIn(df: DataFrame, settings: Map[String, String]): DataFrame = {
    val session = df.sparkSession
    if (settings.forall { case (k, v) => session.conf.getOption(k).contains(v) }) df
    else {
      val clone = session.asInstanceOf[classic.SparkSession].cloneSession()
      settings.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
      owners.synchronized(owners.put(clone, owner(session)))
      ofRows(clone, df.queryExecution.analyzed)
    }
  }

  /** The session `session` serves for: the one [[planIn]] cloned it from,
    * else itself. */
  def owner(session: SparkSession): SparkSession =
    owners.synchronized(owners.getOrDefault(session, session))

  /** The Hadoop settings every engine parquet write names: local files go
    * through a file system that sets permissions without forking `chmod`
    * (uncached: the cached `file` instance serves every other conf). The
    * driver writers set them in [[parquetWriterConf]], the Spark write
    * jobs as writer options. */
  val localWriteFs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[graft.table.NioPermissionsLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Re-wrap an already-executed plan's InternalRow RDD as a batch
    * DataFrame WITHOUT moving rows to the driver — the standard pattern for
    * streaming Sinks (the incoming micro-batch DataFrame carries a streaming
    * plan that batch writers refuse; its toRdd stays on the executors). */
  def internalCreateDataFrame(
      session: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Streaming-tagged variant: what a V1 streaming Source's getBatch must
    * return (MicroBatchExecution asserts isStreaming on the batch plan). */
  def internalCreateStreamingDataFrame(
      session: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    session.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** One DSv2 input partition over `paths`, optionally keyed by hash
    * bucket ids for storage-partitioned joins (HasPartitionKey is how a V2
    * scan tells Spark which key-group a split belongs to). `key` carries
    * (per-component bucket ids, composite id); single-component layouts
    * pass one id that is both. */
  def filePartition(index: Int, paths: Seq[String],
      key: Option[(Seq[Int], Int)]): execution.datasources.FilePartition =
    key match {
      case Some((ids, composite)) =>
        new GraftKeyedFilePartition(index, partitionedFiles(paths), ids.toArray, composite)
      case None => execution.datasources.FilePartition(index, partitionedFiles(paths))
    }

  /** One DSv2 input partition owning the delta-route `route` (see
    * [[GraftRoutedFilePartition]]); `paths` may be empty — an empty split
    * still runs a task, so its routed delta rows are emitted. */
  def routedFilePartition(index: Int, paths: Seq[String],
      route: String): execution.datasources.FilePartition =
    new GraftRoutedFilePartition(index, partitionedFiles(paths), route)

  /** A route's file list sub-split into size-bounded chunks of byte-ranged
    * PartitionedFiles (parquet readers serve the row groups whose midpoint
    * falls in the range — the standard FileSourceScan splitting, and the
    * Spark analog of the reference's splitSizeBytes scan-token sub-splits,
    * KuduScanToken.java:439-467). Returns one routed partition per chunk,
    * indices `firstIndex..`; only the first chunk owns the route's deltas. */
  def routedFilePartitionsBySize(firstIndex: Int, paths: Seq[String],
      route: String, maxSplitBytes: Long): Seq[execution.datasources.FilePartition] = {
    val ranged = byteRanges(statuses(paths), maxSplitBytes)
    // greedy sequential pack into <= maxSplitBytes bins
    val bins = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[execution.datasources.PartitionedFile])
    var size = 0L
    ranged.foreach { f =>
      if (size + f.length > maxSplitBytes && bins.last.nonEmpty) {
        bins += scala.collection.mutable.ArrayBuffer.empty; size = 0L
      }
      bins.last += f; size += f.length
    }
    bins.zipWithIndex.map { case (b, i) =>
      new GraftRoutedFilePartition(firstIndex + i, b.toArray, route,
        ownsDeltas = i == 0)
    }.toSeq
  }

  /** `paths` packed into input partitions like a file source scan's
    * (FilePartition.maxSplitBytes and getFilePartitions: each file charged
    * the open cost), so many small files share a task and the splits
    * spread over the session's cores. For reads that own no delta route. */
  def packedFilePartitions(paths: Seq[String]): Seq[execution.datasources.FilePartition] = {
    val session = SparkSession.active.asInstanceOf[classic.SparkSession]
    val sts = statuses(paths)
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val maxSplit = execution.datasources.FilePartition.maxSplitBytes(session,
      sts.map(_._2.getLen + openCost).sum)
    execution.datasources.FilePartition.getFilePartitions(session,
      byteRanges(sts, maxSplit).sortBy(-_.length), maxSplit)
  }

  /** Each path with its status; the path as given, never the status's
    * qualified one, so a split's file key matches [[fileKey]]. */
  def statuses(paths: Seq[String])
      : Seq[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus)] = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    paths.map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      path -> path.getFileSystem(conf).getFileStatus(path)
    }
  }

  /** Each file as byte ranges of at most `maxSplitBytes`. */
  private def byteRanges(
      sts: Seq[(org.apache.hadoop.fs.Path, org.apache.hadoop.fs.FileStatus)],
      maxSplitBytes: Long): Seq[execution.datasources.PartitionedFile] =
    sts.flatMap { case (p, st) =>
      val path = org.apache.spark.paths.SparkPath.fromPath(p)
      if (st.getLen == 0)
        Seq(execution.datasources.PartitionedFile(catalyst.InternalRow.empty,
          path, 0L, 0L, Array.empty[String], st.getModificationTime, 0L, Map.empty))
      else (0L until st.getLen by maxSplitBytes).map { off =>
        execution.datasources.PartitionedFile(catalyst.InternalRow.empty,
          path, off, math.min(maxSplitBytes, st.getLen - off),
          Array.empty[String], st.getModificationTime, st.getLen, Map.empty)
      }
    }

  /** The key a planned file carries in its input partition
    * (`PartitionedFile.urlEncodedPath`) for manifest path `path`. */
  def fileKey(path: String): String =
    org.apache.spark.paths.SparkPath.fromPath(new org.apache.hadoop.fs.Path(path)).urlEncoded

  private def partitionedFiles(paths: Seq[String]) =
    byteRanges(statuses(paths), Long.MaxValue).toArray

  /** The stock vectorized parquet reader factory, reused for the graft V2
    * batch scan (the standard extension move — file formats are not
    * re-implemented per source). */
  def parquetReaderFactory(
      session: SparkSession,
      dataSchema: types.StructType,
      readSchema: types.StructType,
      filters: Array[sources.Filter])
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    import execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val spark = session.asInstanceOf[classic.SparkSession]
    val sqlConf = spark.sessionState.conf
    val hconf = spark.sessionState.newHadoopConf()
    // the conf plumbing ParquetScan.createReaderFactory performs before
    // handing the broadcast conf to the factory
    hconf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hconf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, readSchema.json)
    hconf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, readSchema.json)
    hconf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    hconf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    hconf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    ParquetWriteSupport.setSchema(readSchema, hconf)
    hconf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    hconf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    hconf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    hconf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    val broadcastConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))
    new execution.datasources.v2.parquet.ParquetPartitionReaderFactory(
      spark.sessionState.conf,
      broadcastConf,
      dataSchema,
      readSchema,
      types.StructType(Nil), // no dir-derived partition columns
      filters,
      None,
      new execution.datasources.parquet.ParquetOptions(
        Map.empty[String, String], spark.sessionState.conf))
  }

  /** Hadoop conf prepared for [[openParquetRowWriter]] calls
    * over rows of `schema` — the conf plumbing ParquetFileFormat
    * .prepareWrite performs before handing writers to tasks (the session's
    * newHadoopConf already carries the SQL conf entries ParquetWriteSupport
    * reads: legacy format, field ids), with the engine's file timestamp
    * type pinned per writer. */
  def parquetWriterConf(session: SparkSession, schema: types.StructType,
      codec: Option[String]): org.apache.spark.util.SerializableConfiguration = {
    import execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val spark = session.asInstanceOf[classic.SparkSession]
    val sqlConf = spark.sessionState.conf
    val hconf = spark.sessionState.newHadoopConf()
    hconf.set(org.apache.parquet.hadoop.ParquetOutputFormat.WRITE_SUPPORT_CLASS,
      classOf[ParquetWriteSupport].getName)
    ParquetWriteSupport.setSchema(schema, hconf)
    // ParquetWriteSupport.init asserts these are EXPLICITLY present (the
    // session's newHadoopConf only carries overridden entries, not
    // defaults) — same list ParquetFileFormat.prepareWrite pins
    hconf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    // INT64 micros like every engine-written file (the session default,
    // INT96, records no usable footer statistics — no key bounds)
    hconf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      graft.table.GraftTable.FileTimestampType)
    hconf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    hconf.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled.toString)
    hconf.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong.toString)
    hconf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    val opts = new ParquetOptions(
      codec.map(c => Map("compression" -> c)).getOrElse(Map.empty),
      spark.sessionState.conf)
    hconf.set(org.apache.parquet.hadoop.ParquetOutputFormat.COMPRESSION,
      opts.compressionCodecClassName)
    localWriteFs.foreach { case (k, v) => hconf.set(k, v) }
    new org.apache.spark.util.SerializableConfiguration(hconf)
  }

  /** `df`'s rows as InternalRows on the driver, collected through its
    * executed plan under a SQL execution id, as `Dataset.collect` runs it
    * but with no conversion to external rows. A local relation collects
    * with no job (`LocalTableScanExec`'s driver-local collect), and so
    * does a union of local relations, child by child; any other plan
    * runs its usual collect. */
  def collectInternal(df: DataFrame): Array[catalyst.InternalRow] = {
    import execution.{LocalTableScanExec, SparkPlan, UnionExec}
    def local(p: SparkPlan): Boolean = p match {
      case _: LocalTableScanExec => true
      case u: UnionExec => u.children.forall(local)
      case _ => false
    }
    def collect(p: SparkPlan): Array[catalyst.InternalRow] = p match {
      case u: UnionExec if local(u) => u.children.toArray.flatMap(collect)
      case _ => p.executeCollect()
    }
    val qe = df.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect"))(collect(qe.executedPlan))
  }

  /** One parquet writer at `path` (OutputWriter: write InternalRows, then
    * close) — the stock ParquetOutputWriter under a synthetic task
    * attempt, for writers that live outside a Spark FileFormat write job:
    * the V2 row-level-operations delta path on executors, and the bounded
    * delta writes on the driver (GraftTable.writeFileset). */
  def openParquetRowWriter(path: String,
      conf: org.apache.hadoop.conf.Configuration)
      : execution.datasources.OutputWriter = {
    import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
    new execution.datasources.parquet.ParquetOutputWriter(path,
      new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf, attempt))
  }
}
