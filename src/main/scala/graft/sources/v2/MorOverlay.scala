package graft.sources.v2

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Predicate, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.types._

/**
 * Merge-on-read for the graft V2 scan — the engine's one merge-on-read,
 * behind every `GraftTable` read face and every SQL read (reference:
 * DeltaApplier, tablet/delta_applier.h:52 — deltas applied over each
 * rowset at read, whether they came from memory or a flushed delta file).
 * Each split's reader suppresses base rows whose key carries a delta and
 * appends the split's own upsert rows — routed by the SAME murmur3-pmod
 * arithmetic the writer bucketed with, so the reported key grouping (and
 * any storage-partitioned join built on it) stays exact. Base rows reach
 * it already remapped to the current schema ([[GenerationReaderFactory]]).
 * One factory ([[MorOverlayReaderFactory]]) serves every delta transport
 * the planner picks (GraftV2Scan.createReaderFactory): a broadcast tail,
 * per-tablet flushed delta files attached under that tail, or per-route
 * shuffle spills. The planner builds it once per scan; the broadcast tail
 * costs no job (the tail's raw delta rows are read and folded on the
 * driver, GraftV2Scan.readTail). One fold,
 * [[MorOverlay.latestPerKey]], resolves every key's latest delta row: on
 * the driver for the tail, per split for a delta slice.
 *
 * @param types    column types of the INTERNAL read schema (the required
 *                 columns plus any key columns pruned out of the projection)
 * @param keyIdx   positions of the key columns in the internal schema
 * @param outIdx   positions of the caller's required columns in the internal
 *                 schema (identity when no key column had to be re-added)
 * @param dead     keys carrying any delta (upsert or tombstone) — base rows
 *                 with these keys are superseded
 * @param upserts  latest non-delete delta rows (internal-schema order),
 *                 grouped by partition route (composite hash bucket as a
 *                 string, or "rangeKey#bucket" under per-range overrides)
 */
case class MorOverlayInfo(
    types: Array[DataType],
    keyIdx: Array[Int],
    outIdx: Array[Int],
    identity: Boolean,
    dead: java.util.HashSet[Seq[Any]],
    upserts: Map[String, Array[Array[Any]]])

/** Columnar capability for the overlay (S13 under mutation — the
  * reference's scans stay columnar through delta application,
  * tablet/delta_applier.h): `bare` reads the CALLER's schema directly for
  * clean splits, `clean` names the routes provably untouched by any
  * broadcast delta row (computable only when the route is a pure function
  * of the key columns — then a dead key's base row can only sit in the
  * dead key's own route). Spark forbids mixing row and columnar partitions
  * in one scan, so dirty routes serve batches too, via
  * [[MorColumnarReader]]. */
case class ColumnarMorSupport(
    bare: PartitionReaderFactory,
    clean: Set[String])

/**
 * Per-route delta slices a split reads executor-side from parquet: the
 * table's flushed per-tablet delta files (compactDeltas — the reference's
 * DMS flush into per-rowset delta stores, tablet/deltafile.h) or the
 * planner's per-route shuffle spill. Either way a split holds only its own
 * tablet's deltas in memory, never the whole table's. Correctness rests on
 * the planner's routing guards: a key's base rows and its delta slice
 * always meet in the same split.
 *
 * @param opIdx      position of the op column in the slice schema (= number
 *                   of internal data columns)
 * @param seqIdx     position of the seq column; None for spill slices,
 *                   which already hold the latest state per key
 * @param routeParts route -> its slice's parquet paths, which a split reads
 *                   through its own file partition, rebuilt executor-side
 */
case class MorSlices(
    deltaFactory: PartitionReaderFactory,
    opIdx: Int,
    seqIdx: Option[Int],
    routeParts: Map[String, Seq[String]])

/**
 * The one merge-on-read reader factory. Each split's overlay is the
 * broadcast `tail` merged over the split's own delta slice, if any. The
 * slice folds to latest-per-key ([[MorOverlay.latestPerKey]]) and tail
 * entries always win per key: a flush folded seqs ≤ its manifest seq, and
 * every tail commit is newer. A split whose route has no slice reads `tail`
 * itself, with no per-split copy.
 *
 * @param tail         broadcast overlay of the unrouted delta tail (its
 *                     `dead` covers every tail key, so slice upserts it
 *                     supersedes are suppressed); empty under spill
 * @param slices       per-route delta slices (routed attach or spill)
 * @param columnar     columnar capability; a split passes through `bare`
 *                     when its route has no slice and is in `clean`
 * @param defaultRoute the route of a coordinate-less split: set when the
 *                     planner served a key-grouped layout with
 *                     coordinate-less files as ONE unkeyed split, which
 *                     then owns every delta row
 */
class MorOverlayReaderFactory(
    inner: PartitionReaderFactory,
    tail: Broadcast[MorOverlayInfo],
    slices: Option[MorSlices] = None,
    val columnar: Option[ColumnarMorSupport] = None,
    defaultRoute: Option[String] = None) extends PartitionReaderFactory {

  private def routeOf(p: InputPartition): String = p match {
    // the COMPOSITE id (upserts are routed by the full bucketExpr fold);
    // partitionKey() carries the decoded per-component ids for SPJ
    case k: org.apache.spark.sql.GraftKeyedFilePartition => k.compositeBucket.toString
    // unreported-grouping layouts: the planner stamped the owned route
    case r: org.apache.spark.sql.GraftRoutedFilePartition => r.route
    // coordinate-less single partition: owns every upsert
    case _ => defaultRoute.getOrElse {
      if (slices.isDefined) throw new IllegalStateException(
        "per-route delta slices require route-carrying splits")
      null
    }
  }
  private def ownsOf(p: InputPartition): Boolean = p match {
    case r: org.apache.spark.sql.GraftRoutedFilePartition => r.ownsDeltas
    case _ => true
  }
  private def sliceOf(route: String): Option[Seq[String]] =
    slices.flatMap(_.routeParts.get(route))

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val route = routeOf(p)
    val owns = ownsOf(p)
    new MorOverlayReader(inner.createReader(p), infoFor(route, owns), route, owns)
  }

  // Uniform across partitions (both delegates answer from schema + conf
  // alone) — Spark's scan exec requires all-or-nothing columnar.
  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar.exists(c =>
      c.bare.supportColumnarReads(p) && inner.supportColumnarReads(p))

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val c = columnar.get
    val route = routeOf(p)
    if (route != null && sliceOf(route).isEmpty && c.clean.contains(route))
      c.bare.createColumnarReader(p) // pass-through: no probe, no key re-add
    else {
      val owns = ownsOf(p)
      new MorColumnarReader(inner.createColumnarReader(p),
        infoFor(route, owns), route, owns)
    }
  }

  /** This split's overlay: the broadcast tail, or (executor-side, per
    * split) the split's slice folded to latest-per-key with the tail
    * merged on top. */
  private def infoFor(route: String, owns: Boolean): MorOverlayInfo =
    sliceOf(route).fold(tail.value)(foldSlice(route, owns, _))

  private def foldSlice(route: String, owns: Boolean,
      paths: Seq[String]): MorOverlayInfo = {
    val t = tail.value
    val s = slices.get
    val dp: InputPartition = org.apache.spark.sql.GraftSqlBridge.filePartition(
      0, paths, None)
    val dr = s.deltaFactory.createReader(dp)
    // a spill slice carries no seq, so only the op decides between a key's
    // owner row and its dead-set-only duplicate
    val best =
      try MorOverlay.latestPerKey(
        // the reader reuses its row buffer
        Iterator.continually(dr).takeWhile(_.next()).map(_.get().copy()),
        t.keyIdx, t.types, s.opIdx, s.seqIdx)
      finally dr.close()
    val dead = new java.util.HashSet[Seq[Any]](t.dead)
    val ups = scala.collection.mutable.ArrayBuffer[Array[Any]]()
    best.forEach { (k, r) =>
      dead.add(k)
      // a tail entry (upsert OR tombstone) for this key is newer than the
      // slice's winner — the slice upsert must not emit
      if (owns && !MorOverlay.isDelete(r, s.opIdx) && !t.dead.contains(k))
        ups += Array.tabulate(t.types.length)(i => r.get(i, t.types(i)))
    }
    t.upserts.get(route).foreach(a => ups ++= a)
    t.copy(dead = dead, upserts = if (ups.isEmpty) Map.empty else Map(route -> ups.toArray))
  }
}

object MorOverlay {
  /** Key tuple with Spark's key equality, the one policy of every driver
    * key match (the overlay's fold and dead set, keyed reads, key joins,
    * presence checks): binary key columns come out of InternalRow as
    * Array[Byte], whose equals/hashCode are by reference — wrap them so
    * they compare contents; a floating-point NaN equals itself, as in a
    * Spark join or IN (boxed `==` never matches it; -0.0 already equals
    * 0.0 and hashes alike). Used by both the driver-side set construction
    * and the per-row reader probe. */
  def keyOf(row: InternalRow, idx: Array[Int],
      types: Array[DataType]): Seq[Any] = {
    val a = new Array[Any](idx.length)
    var i = 0
    while (i < idx.length) {
      // types is indexed by ROW position (idx(i)), not by key ordinal
      a(i) = row.get(idx(i), types(idx(i))) match {
        case b: Array[Byte] => b.toSeq
        case d: Double if d.isNaN => NaNKey
        case f: Float if f.isNaN => NaNKey
        case v => v
      }
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
  }

  /** What a NaN key value hashes and compares as ([[keyOf]]). */
  private case object NaNKey

  /** The [[keyOf]] tuples of `keys` (key columns at `idx`, `types` by
    * row position) as a driver hash set — SQL equality: a key with a null
    * is never added and never matches. */
  final class KeySet(keys: Iterator[InternalRow], idx: Array[Int],
      types: Array[DataType]) {
    private val set = new java.util.HashSet[Seq[Any]]()
    keys.foreach(k => if (!idx.exists(k.isNullAt)) set.add(keyOf(k, idx, types)))

    /** Whether a row whose key columns are at `at` (`rowTypes` by row
      * position) carries one of the keys. */
    def matcher(at: Array[Int], rowTypes: Array[DataType]): InternalRow => Boolean =
      r => !at.exists(r.isNullAt) && set.contains(keyOf(r, at, rowTypes))
  }

  private val OpDelete =
    org.apache.spark.unsafe.types.UTF8String.fromString(graft.table.GraftTable.OpDelete)

  def isDelete(row: InternalRow, opIdx: Int): Boolean =
    row.getUTF8String(opIdx) == OpDelete

  /** The merge-on-read fold: the latest delta row per key, newest seq
    * first and, at equal seq, the greater op ("U" > "D": the upsert wins —
    * reachable only when one commit carries both a tombstone and an upsert
    * for a key, e.g. a SQL MERGE deleting key A while inserting A). The
    * same tie-break as GraftTable.latestDeltas. Serves the driver-side
    * fold of the broadcast tail and the executor-side fold of each split's
    * delta slice. `rows` must not reuse buffers; `seqIdx` None (spill
    * slices, already latest per key) decides by op alone.
    * @return key -> winning row, in first-seen key order */
  def latestPerKey(rows: Iterator[InternalRow], keyIdx: Array[Int],
      types: Array[DataType], opIdx: Int,
      seqIdx: Option[Int]): java.util.LinkedHashMap[Seq[Any], InternalRow] = {
    def seq(r: InternalRow): Long = seqIdx.fold(0L)(r.getLong)
    val best = new java.util.LinkedHashMap[Seq[Any], InternalRow]()
    rows.foreach { r =>
      val key = keyOf(r, keyIdx, types)
      val cur = best.get(key)
      if (cur == null || seq(r) > seq(cur) || (seq(r) == seq(cur) &&
          r.getUTF8String(opIdx).compareTo(cur.getUTF8String(opIdx)) > 0))
        best.put(key, r)
    }
    best
  }
}

object MorColumnarReader {
  /** Types [[MorColumnarReader]] can WRITE back into an OnHeapColumnVector
    * (`set` below). Narrower than what the stock parquet factory can read
    * vectorized — ANSI interval columns, e.g., decode columnar since Spark
    * 3.3 but have no case in `set` — so the planner must gate columnar MOR
    * on THIS set, not just on the parquet factory's answer, or a
    * delta-carrying table with such a column would fail mid-scan on its
    * first dirty route instead of falling back to the row overlay. */
  def supportsType(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | TimestampNTZType | FloatType |
         DoubleType | BinaryType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _: org.apache.spark.sql.types.StringType => true
    case _ => false
  }
  def supportsAll(schema: org.apache.spark.sql.types.StructType): Boolean =
    schema.fields.forall(f => supportsType(f.dataType))
}

/**
 * Columnar merge-on-read: serves ColumnarBatches over a delta-carrying
 * split (the reference applies deltas without leaving its columnar
 * RowBlocks — tablet/delta_applier.h). Per inner batch: probe each row's
 * key against the broadcast dead set; a batch with no superseded rows
 * passes through untouched (the overwhelming case — deltas touch few
 * row groups of a 100 TB table), a batch with hits copies the survivors
 * into fresh vectors; the split's upserts emit as one final batch. The
 * parquet decode underneath stays vectorized either way.
 */
class MorColumnarReader(
    inner: PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch],
    info: MorOverlayInfo,
    route: String,
    emitUpserts: Boolean) extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector

  private var current: ColumnarBatch = _
  private var upsDone = false
  private val noDead = info.dead.isEmpty
  private val outTypes: Array[DataType] = info.outIdx.map(info.types)
  private val ups: Array[Array[Any]] =
    if (!emitUpserts) Array.empty
    else if (route != null) info.upserts.getOrElse(route, Array.empty[Array[Any]])
    else info.upserts.valuesIterator.flatten.toArray

  /** Write one internal-format value into a writable vector. Only atomic
    * types can arrive here: the factory offers columnar reads only when
    * the stock parquet factory does, which requires an all-atomic schema. */
  private def set(v: OnHeapColumnVector, i: Int, dt: DataType, value: Any): Unit =
    if (value == null) v.putNull(i) else dt match {
      case BooleanType => v.putBoolean(i, value.asInstanceOf[Boolean])
      case ByteType => v.putByte(i, value.asInstanceOf[Byte])
      case ShortType => v.putShort(i, value.asInstanceOf[Short])
      case IntegerType | DateType => v.putInt(i, value.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType =>
        v.putLong(i, value.asInstanceOf[Long])
      case FloatType => v.putFloat(i, value.asInstanceOf[Float])
      case DoubleType => v.putDouble(i, value.asInstanceOf[Double])
      case d: org.apache.spark.sql.types.DecimalType =>
        v.putDecimal(i, value.asInstanceOf[org.apache.spark.sql.types.Decimal],
          d.precision)
      case _: org.apache.spark.sql.types.StringType =>
        val b = value.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        v.putByteArray(i, b, 0, b.length)
      case BinaryType =>
        val b = value.asInstanceOf[Array[Byte]]
        v.putByteArray(i, b, 0, b.length)
      case other => throw new UnsupportedOperationException(
        s"columnar merge-on-read over $other")
    }

  private def batchOf(rows: Iterator[Int => Any], n: Int): ColumnarBatch = {
    val vs = outTypes.map(t => new OnHeapColumnVector(n, t))
    var j = 0
    rows.foreach { row =>
      var c = 0
      while (c < outTypes.length) { set(vs(c), j, outTypes(c), row(c)); c += 1 }
      j += 1
    }
    new ColumnarBatch(vs.map(v => v: ColumnVector), n)
  }

  override def next(): Boolean = {
    while (inner.next()) {
      val batch = inner.get()
      val n = batch.numRows()
      // probe pass: indices of rows NOT superseded by a delta
      val keep: Array[Int] = if (noDead) null else {
        val buf = new Array[Int](n)
        var k = 0; var i = 0
        while (i < n) {
          val row = batch.getRow(i)
          if (!info.dead.contains(MorOverlay.keyOf(row, info.keyIdx, info.types))) {
            buf(k) = i; k += 1
          }
          i += 1
        }
        if (k == n) null else java.util.Arrays.copyOf(buf, k)
      }
      if (keep == null) {
        // untouched batch: re-expose the caller's columns without copying
        current =
          if (info.identity) batch
          else new ColumnarBatch(
            info.outIdx.map(batch.column(_): ColumnVector), n)
        return true
      } else if (keep.length > 0) {
        current = batchOf(keep.iterator.map { i =>
          val row = batch.getRow(i)
          // a batch row's typed get ignores nulls: check them first
          c => if (row.isNullAt(info.outIdx(c))) null
            else row.get(info.outIdx(c), outTypes(c))
        }, keep.length)
        return true
      }
      // every row of this batch superseded: read on
    }
    if (!upsDone) {
      upsDone = true
      if (ups.nonEmpty) {
        current = batchOf(ups.iterator.map(a => c => a(info.outIdx(c))), ups.length)
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = current
  override def close(): Unit = inner.close()
}

class MorOverlayReader(
    inner: PartitionReader[InternalRow],
    info: MorOverlayInfo,
    route: String,
    // false for the non-first chunks of a size-sub-split route: they probe
    // the dead set like any split but must not re-emit the route's upserts
    emitUpserts: Boolean = true) extends PartitionReader[InternalRow] {

  private var current: InternalRow = _
  private val noDead = info.dead.isEmpty // insert-only delta sets skip the probe
  private val upIter: Iterator[Array[Any]] =
    if (!emitUpserts) Iterator.empty
    else if (route != null) info.upserts.getOrElse(route, Array.empty[Array[Any]]).iterator
    else info.upserts.valuesIterator.flatten

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (noDead ||
          !info.dead.contains(MorOverlay.keyOf(row, info.keyIdx, info.types))) {
        current =
          if (info.identity) row
          else {
            // the key columns were pruned out of the caller's projection:
            // copy (the inner UnsafeRow buffer is reused) and re-project
            val c = row.copy()
            new GenericInternalRow(
              info.outIdx.map(i => c.get(i, info.types(i))))
          }
        return true
      }
    }
    if (upIter.hasNext) {
      val a = upIter.next()
      current = new GenericInternalRow(info.outIdx.map(i => a(i)))
      return true
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** How one group of data files — one older schema generation, or files a
  * pending range drop masks — reads: a parquet factory over its physical
  * columns, and the projection and mask bound to that row
  * (GraftTable.generationRead). */
case class GenerationRead(
    factory: PartitionReaderFactory,
    project: Seq[Expression],
    keep: Option[Expression])

/**
 * The base reader of a split whose files span schema generations — the
 * column-id remap of Kudu's GetMappedReadProjection (common/schema.cc).
 * Files absent from `genOf` read through `direct`; every other file through
 * its group's [[GenerationRead]], one reader per consecutive run of a
 * group, so rows keep the planned file order.
 *
 * @param genOf planned file (`GraftSqlBridge.fileKey`) -> index into `gens`
 */
class GenerationReaderFactory(
    direct: PartitionReaderFactory,
    genOf: Map[String, Int],
    gens: Array[GenerationRead]) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val fp = p.asInstanceOf[FilePartition]
    def gen(f: PartitionedFile) = genOf.get(f.urlEncodedPath)
    if (fp.files.forall(gen(_).isEmpty)) return direct.createReader(p)
    val runs = scala.collection.mutable.ArrayBuffer[(Option[Int], Array[PartitionedFile])]()
    fp.files.foreach { f =>
      if (runs.nonEmpty && runs.last._1 == gen(f))
        runs(runs.length - 1) = (gen(f), runs.last._2 :+ f)
      else runs += ((gen(f), Array(f)))
    }
    new ConcatReader(runs.iterator.map { case (g, fs) => () =>
      val part = FilePartition(fp.index, fs)
      g.fold(direct.createReader(part))(i =>
        new GenerationReader(gens(i), gens(i).factory.createReader(part)))
    })
  }
}

/** One group's rows: masked, then projected to the scan's fields. */
private class GenerationReader(g: GenerationRead, inner: PartitionReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private val project = UnsafeProjection.create(g.project)
  private val keep = g.keep.map { e => val p = Predicate.create(e); p.initialize(0); p }
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (inner.next()) {
      val row = inner.get()
      if (keep.forall(_.eval(row))) { current = project(row); return true }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = inner.close()
}

/** The readers `parts` opens one after another, each closed when drained. */
private class ConcatReader(parts: Iterator[() => PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private var cur: PartitionReader[InternalRow] = _

  override def next(): Boolean = {
    while (true) {
      if (cur != null && cur.next()) return true
      if (cur != null) { cur.close(); cur = null }
      if (!parts.hasNext) return false
      cur = parts.next()()
    }
    false
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}
