package graft.sources.v2

import org.apache.spark.sql.catalyst.InternalRow

import graft.catalog.{ColumnMeta, RangeComponent, RangeDrop, TableMeta}

/**
 * Decoded rows of delta files; [[DeltaCache.shared]] is the one every
 * read in the JVM shares — the analog of the reference's block cache (cfile/block_cache.h), which
 * decodes a block once and serves it to every later scan. On the driver
 * the cost of a merge-on-read tail is decoding and projecting its rows,
 * not I/O, and a data file never changes once committed, so each file is
 * decoded once per read shape ([[GraftV2Scan.readTail]]) and its rows kept
 * here.
 *
 * An entry is keyed by the file's identity — its path, length and
 * modification time, so a file replaced in place decodes again — and the
 * read's [[Shape]]: the manifest columns and pending range drops the
 * decode depends on. Entries are immutable UnsafeRows in least-recently-
 * used order, bounded by `capacity` row bytes; a file larger than the
 * whole bound is decoded but not kept. Only decoding is
 * shared: every read still folds and routes the rows itself.
 */
private[graft] final class DeltaCache(val capacity: Long) {
  import DeltaCache.{Entry, Key}

  private val entries = new java.util.LinkedHashMap[Key, Entry](64, 0.75f, true)
  private var held = 0L
  private val decodes = new java.util.concurrent.atomic.AtomicLong

  /** The cached rows of `k`, or null. */
  def get(k: Key): Array[InternalRow] = entries.synchronized {
    val e = entries.get(k)
    if (e == null) null else e.rows
  }

  /** Records a decode of `k` into `rows` (UnsafeRow copies) and returns
    * the rows every reader of `k` shares: those of a concurrent decode
    * that got in first, else `rows`, kept while they fit the bound. */
  def put(k: Key, rows: Array[InternalRow]): Array[InternalRow] = {
    decodes.incrementAndGet()
    val bytes = rows.iterator.map {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow => u.getSizeInBytes.toLong
      case _ => 0L
    }.sum
    entries.synchronized {
      val cur = entries.get(k)
      if (cur != null) cur.rows
      else {
        if (bytes <= capacity) {
          entries.put(k, new Entry(rows, bytes))
          held += bytes
          val it = entries.values.iterator // least recently used first
          while (held > capacity && it.hasNext) {
            held -= it.next().bytes
            it.remove()
          }
        }
        rows
      }
    }
  }

  /** Files decoded into this cache (its misses). */
  def decoded: Long = decodes.get

  /** Row bytes held. */
  def bytesHeld: Long = entries.synchronized(held)

  /** Entries held. */
  def size: Int = entries.synchronized(entries.size)
}

private[graft] object DeltaCache {

  /** What the decoded rows of a file depend on besides its bytes: per
    * column (in manifest order) its id, physical name, type, read default
    * and prior generations — the generation remap — and the pending range
    * drops with the range layout their masks evaluate. Logical names and
    * nullability are left out: rows are positional and read nullable. */
  final case class Shape(
      columns: Seq[(Int, String, String, Option[String], Seq[graft.catalog.PriorGen])],
      range: Option[RangeComponent], drops: Seq[RangeDrop]) {
    override lazy val hashCode: Int = scala.util.hashing.MurmurHash3.productHash(this)
  }

  def shapeOf(m: TableMeta): Shape = Shape(
    m.columns.map((c: ColumnMeta) =>
      (c.id, c.physName, c.dataTypeJson, c.defaultValue, c.priorGenerations)),
    if (m.rangeDrops.isEmpty) None else m.range, m.rangeDrops)

  final case class Key(path: String, length: Long, modified: Long,
      colIds: Seq[Int], shape: Shape)

  private final class Entry(val rows: Array[InternalRow], val bytes: Long)

  /** The JVM's cache, bounded at the driver-heap cap of
    * GraftTable.adaptiveBroadcastDeltaBytes. */
  val shared = new DeltaCache(Runtime.getRuntime.maxMemory / 16)
}
