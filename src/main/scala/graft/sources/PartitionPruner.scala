package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.DataType

import graft.catalog.{DataFileMeta, HashComponent, TableMeta}

/**
 * Metadata-time partition pruning for graft tables — the Spark-native
 * re-expression of the reference's PartitionPruner
 * (common/partition_pruner.cc:478 Init, :181 PruneHashComponent,
 * :651 ShouldPrune): equality/IN predicates over a hash component's columns
 * prune hash buckets; range predicates over the range column prune range
 * partitions. Pure metadata — no Catalyst rule needed because the relation
 * controls its own file listing (SURVEY.md §4).
 */
object PartitionPruner {

  /** Files surviving the filters. Coordinate-carrying files prune by hash
    * bucket / range partition; coordinate-less files (zero-copy registered
    * bases, unpartitioned layouts) prune by their recorded first-key
    * interval when predicates constrain the first PK column — the rowset
    * key-bounds pruning of the reference (tablet/rowset_tree.cc interval
    * tree over encoded rowset bounds); files with neither are always kept.
    * A file in a range with a custom hash schema (per-range bucket-count
    * override) is judged against the candidate set computed with ITS
    * modulus — bucket ids are only comparable within one range's schema. */
  def pruneFiles(m: TableMeta, files: Seq[DataFileMeta], filters: Seq[Filter]): Seq[DataFileMeta] =
    files.filter(compile(m, filters))

  /** [[pruneFiles]]'s per-file test, compiled once: the candidate buckets
    * hashed and every literal encoded, so one read that prunes several
    * file lists (base and delta files, a keyed read's long IN list)
    * prepares its filters once. */
  def compile(m: TableMeta, filters: Seq[Filter]): DataFileMeta => Boolean = {
    val defaultBuckets = candidateBuckets(m, filters)
    val overrides = m.rangeHashBucketsMap
    val overrideSets: Map[String, Option[Set[Int]]] =
      overrides.map { case (rk, b) =>
        rk -> candidateBuckets(m.copy(hash = m.hash.map(_.copy(buckets = b))), filters)
      }
    val (loYear, hiYear) = rangeKeyBounds(m, filters)
    val boundsMode = m.range.exists(_.isBounds)
    val fileTests = compileFileTests(m, filters)
    f => {
      val keepSet = f.rangeKey.filter(overrides.contains)
        .map(overrideSets).getOrElse(defaultBuckets)
      val bucketOk = (keepSet, f.bucket) match {
        case (Some(keep), Some(b)) => keep.contains(b)
        case _ => true
      }
      val rangeOk = f.rangeKey match {
        case Some(rk) if rk != "__null" =>
          if (boundsMode) boundSatisfiable(m, rk, filters)
          else loYear.forall(rk >= _) && hiYear.forall(rk <= _)
        case _ => true
      }
      bucketOk && rangeOk && fileTests.forall(_(f))
    }
  }

  /** Per-file predicate tests, compiled ONCE per [[pruneFiles]] call —
    * column resolution and literal encoding are file-invariant and must
    * not repeat across a 100k-file manifest. Two prunings share the one
    * compiled interval test per filter:
    *
    *  - FIRST-PK interval pruning, ANY file kind (keyLo/keyHi — the
    *    rowset key-bounds analog, tablet/rowset_tree.cc; delta files too:
    *    a delta file whose key interval cannot meet the predicate holds no
    *    delta for any row that satisfies it, sound because the filters
    *    apply above the MOR union on both read paths: the V2 scan hands
    *    every pushed filter back to Spark, and `GraftTable.scanPruned`
    *    applies its own);
    *  - ZONE-MAP pruning on ANY recorded column, BASE files only (a delta
    *    zone map describes its NEW values, while the base rows its
    *    tombstones kill may carry arbitrary OLD ones — pruning a delta
    *    file on a non-key predicate would resurrect deleted rows). Sound
    *    under merge-on-read with no delta-disjointness check: a pruned
    *    base file's own rows provably fail the predicate, and
    *    delta-sourced rows never depend on a base file being planned (V2
    *    folds ownerless routes into a fallback split; V1 unions the delta
    *    frame unconditionally). A proven all-null column prunes under any
    *    value predicate with no bounds at all — null satisfies none.
    *
    * Filters carry LOGICAL column names. Conservative throughout:
    * unknown columns, absent bounds/null counts, un-encodable values, and
    * unsupported shapes all keep the file. */
  private def compileFileTests(m: TableMeta,
      filters: Seq[Filter]): Seq[DataFileMeta => Boolean] = {
    val leadKey = m.keyCols.headOption
    val keep: DataFileMeta => Boolean = _ => true
    def colOf(name: String): Option[graft.catalog.ColumnMeta] =
      m.columns.find(_.name == name)
    // Compile a value predicate on column c: `mk` runs ONCE, receiving the
    // column and its literal encoder, and yields the encoded-interval test
    // (None = un-encodable/unsupported → bounds prune nothing, but the
    // all-null prune still applies).
    def valueTest(c: String,
        mk: (graft.catalog.ColumnMeta, Any => Option[String]) =>
          Option[((String, String)) => Boolean]): DataFileMeta => Boolean =
      colOf(c) match {
        case None => keep
        case Some(cm) =>
          val isLead = leadKey.contains(cm.name)
          val test = mk(cm,
            v => graft.table.GraftTable.encodeKeyValue(cm.dataType, v))
          f => {
            if (f.kind == "base") {
              if (!f.colIds.contains(cm.id)) true // rows read the default
              else if (f.rows >= 0L && f.colNullCount(cm.id).contains(f.rows))
                false // proven all-null
              else f.colBounds(cm.id)
                .orElse(if (isLead) f.keyLo.zip(f.keyHi) else None)
                .forall(iv => test.forall(_(iv)))
            } else if (isLead)
              f.keyLo.zip(f.keyHi).forall(iv => test.forall(_(iv)))
            else true
          }
      }
    def inIv(e: String): ((String, String)) => Boolean =
      iv => iv._1 <= e && e <= iv._2
    def compile(flt: Filter): DataFileMeta => Boolean = flt match {
      case EqualTo(c, v) => valueTest(c, (_, enc) => enc(v).map(inIv))
      case EqualNullSafe(c, v) =>
        if (v == null) compile(IsNull(c))
        else compile(EqualTo(c, v)) // <=> on a non-null literal == equality
      case In(c, vs) => valueTest(c, (_, enc) => {
        val es = vs.toSeq.map(enc)
        if (es.exists(_.isEmpty)) None
        else {
          // sorted once: a file's interval holds a value iff the least
          // value at or above its low end is at or below its high end
          val sorted = es.flatten.distinct.sorted.toIndexedSeq
          Some { iv =>
            val at = sorted.search(iv._1).insertionPoint
            at < sorted.length && sorted(at) <= iv._2
          }
        }
      })
      case GreaterThan(c, v) => valueTest(c, (_, enc) => enc(v).map(e => _._2 > e))
      case GreaterThanOrEqual(c, v) => valueTest(c, (_, enc) => enc(v).map(e => _._2 >= e))
      case LessThan(c, v) => valueTest(c, (_, enc) => enc(v).map(e => _._1 < e))
      case LessThanOrEqual(c, v) => valueTest(c, (_, enc) => enc(v).map(e => _._1 <= e))
      case StringStartsWith(c, p) => valueTest(c, (cm, enc) =>
        if (cm.dataType != org.apache.spark.sql.types.StringType) None
        else enc(p).map { e =>
          // matches encode to [e, e ++ "G") — hex digits are all < "G",
          // so any encoding extending prefix e sorts below e + "G"
          iv => iv._2 >= e && iv._1 < e + "G"
        })
      case IsNull(c) => colOf(c) match {
        case None => keep
        case Some(cm) => f =>
          f.kind != "base" || !f.colIds.contains(cm.id) ||
            f.colNullCount(cm.id).forall(_ > 0L)
      }
      case IsNotNull(c) => colOf(c) match {
        case None => keep
        case Some(cm) => f =>
          f.kind != "base" || !f.colIds.contains(cm.id) ||
            !(f.rows >= 0L && f.colNullCount(cm.id).contains(f.rows))
      }
      case And(l, r) => // no row can match a side ⇒ none match both
        val (a, b) = (compile(l), compile(r)); f => a(f) && b(f)
      case Or(l, r) =>
        val (a, b) = (compile(l), compile(r)); f => a(f) || b(f)
      case _ => keep
    }
    filters.map(compile).filterNot(_ eq keep)
  }

  /** Bounds-mode range pruning: keep the file iff its bound's [lower,
    * upper) interval can intersect the filters on the range column.
    * Conservative on open endpoints (a kept-but-empty file only costs a
    * scan; a wrongly pruned one costs correctness). */
  private def boundSatisfiable(m: TableMeta, rangeKey: String,
      filters: Seq[Filter]): Boolean = {
    val r = m.range.get
    val b = r.boundsList.find(_.key == rangeKey).getOrElse(return true)
    val dt: DataType = m.column(r.col).dataType
    def ext(v: Any): Any = Cast(Literal(v), dt, Some("UTC")).eval(null)
    def lt(a: Any, c: Any): Boolean =
      org.apache.spark.sql.catalyst.expressions.LessThan(
        Literal.create(a, dt), Literal.create(c, dt)).eval(null).asInstanceOf[Boolean]
    def le(a: Any, c: Any): Boolean = !lt(c, a)
    // Prune on the FIRST range column (the most significant tuple
    // position): a multi-column bound [(l1,l2..), (u1,u2..)) projects to
    // [l1, u1] on the first column — CLOSED at u1, because a row with
    // first-col == u1 can still fall inside the bound when its remaining
    // tuple positions compare below (u2..). Single-column bounds keep the
    // half-open [l1, u1) interval. Later-column predicates are not used
    // for pruning (conservative: kept files only cost a scan).
    val multi = r.isMulti
    val lo = b.lowerTuple.map(t => ext(t.head))
    val up = b.upperTuple.map(t => ext(t.head))
    def upOk(cv: Any): Boolean =
      up.forall(u => if (multi) le(cv, u) else lt(cv, u))
    filters.forall {
      case EqualTo(c, v) if c == r.col =>
        val cv = ext(v); lo.forall(l => le(l, cv)) && upOk(cv)
      case In(c, vs) if c == r.col =>
        vs.exists { v =>
          val cv = ext(v); lo.forall(l => le(l, cv)) && upOk(cv)
        }
      case LessThan(c, v) if c == r.col => lo.forall(l => lt(l, ext(v)))
      case LessThanOrEqual(c, v) if c == r.col => lo.forall(l => le(l, ext(v)))
      // GT: a multi bound's closed u1 still needs u1 > v (col1 == u1 > v)
      case GreaterThan(c, v) if c == r.col => up.forall(u => lt(ext(v), u))
      case GreaterThanOrEqual(c, v) if c == r.col =>
        up.forall(u => if (multi) le(ext(v), u) else lt(ext(v), u))
      case _ => true
    }
  }

  /**
   * Combined bucket ids implied by the filters, or None when any hash
   * component is unconstrained (then no bucket pruning — mirroring
   * PruneHashComponent: pruning needs equality/IN on every column of the
   * component).
   */
  def candidateBuckets(m: TableMeta, filters: Seq[Filter]): Option[Set[Int]] = {
    if (m.hash.isEmpty) return None
    val perComponent: Seq[Option[Set[Int]]] = m.hash.map { hc =>
      val valueSets: Seq[Option[Seq[Any]]] = hc.cols.map(c => eqValues(c, filters))
      if (valueSets.exists(_.isEmpty)) None
      else {
        // cross product of per-column values → component bucket set,
        // hashed only until every bucket is a candidate
        val combos = valueSets.map(_.get).foldLeft(Iterator(Seq.empty[Any])) {
          (acc, vs) => acc.flatMap(prefix => vs.iterator.map(prefix :+ _))
        }
        val hit = scala.collection.mutable.Set[Int]()
        while (hit.size < hc.buckets && combos.hasNext)
          hit += componentBucket(m, hc, combos.next())
        Some(hit.toSet)
      }
    }
    if (perComponent.exists(_.isEmpty)) None
    else Some(
      // fold matches GraftTable.bucketExpr: acc * buckets + component bucket
      m.hash.zip(perComponent.map(_.get)).foldLeft(Set(0)) {
        case (acc, (hc, compBuckets)) =>
          for (a <- acc; b <- compBuckets) yield a * hc.buckets + b
      })
  }

  /** Equality/IN values for a column from the filter conjunction. */
  private def eqValues(colName: String, filters: Seq[Filter]): Option[Seq[Any]] =
    filters.collectFirst {
      case EqualTo(`colName`, v) => Seq(v)
      case In(`colName`, vs) => vs.toSeq
    }

  /** Must match GraftTable.bucketExpr / functions.hash: Murmur3 (seed 42)
    * over the column values cast to their table types, pmod buckets. */
  private def componentBucket(m: TableMeta, hc: HashComponent, vals: Seq[Any]): Int = {
    val lits = hc.cols.zip(vals).map { case (c, v) =>
      val dt: DataType = m.column(c).dataType
      Literal.create(Cast(Literal(v), dt, Some("UTC")).eval(null), dt)
    }
    val h = new Murmur3Hash(lits).eval(null).asInstanceOf[Int]
    ((h % hc.buckets) + hc.buckets) % hc.buckets
  }

  /** [lo, hi] bounds on the range key (year-granularity) from range-column
    * predicates; None = unbounded. */
  private def rangeKeyBounds(m: TableMeta, filters: Seq[Filter]): (Option[String], Option[String]) =
    m.range match {
      case Some(r) if r.granularity == "year" =>
        var lo: Option[String] = None
        var hi: Option[String] = None
        def yearOf(v: Any): Option[Int] = v match {
          case t: java.sql.Timestamp => Some(t.toLocalDateTime.getYear)
          case d: java.sql.Date => Some(d.toLocalDate.getYear)
          case i: java.time.Instant =>
            Some(i.atZone(java.time.ZoneOffset.UTC).getYear)
          case _ => None
        }
        // `col < <exactly Jan 1 00:00>` excludes the whole boundary year —
        // the common retention/as-of shape (`o_orderdate < '1998-01-01'`)
        // then prunes the 1998 partition instead of conservatively keeping it
        def isYearStart(v: Any): Boolean = v match {
          case t: java.sql.Timestamp =>
            val dt = t.toLocalDateTime
            dt.getDayOfYear == 1 && dt.toLocalTime == java.time.LocalTime.MIDNIGHT
          case d: java.sql.Date => d.toLocalDate.getDayOfYear == 1
          case i: java.time.Instant =>
            val dt = i.atZone(java.time.ZoneOffset.UTC)
            dt.getDayOfYear == 1 && dt.toLocalTime == java.time.LocalTime.MIDNIGHT
          case _ => false
        }
        def fmt(y: Int): String = f"$y%04d"
        filters.foreach {
          case GreaterThan(c, v) if c == r.col => yearOf(v).map(fmt).foreach(y => lo = Some(lo.fold(y)(l => if (l > y) l else y)))
          case GreaterThanOrEqual(c, v) if c == r.col => yearOf(v).map(fmt).foreach(y => lo = Some(lo.fold(y)(l => if (l > y) l else y)))
          case LessThan(c, v) if c == r.col =>
            yearOf(v).map(yy => fmt(if (isYearStart(v)) yy - 1 else yy))
              .foreach(y => hi = Some(hi.fold(y)(h => if (h < y) h else y)))
          case LessThanOrEqual(c, v) if c == r.col => yearOf(v).map(fmt).foreach(y => hi = Some(hi.fold(y)(h => if (h < y) h else y)))
          case EqualTo(c, v) if c == r.col =>
            yearOf(v).map(fmt).foreach { y => lo = Some(y); hi = Some(y) }
          case _ =>
        }
        (lo, hi)
      case _ => (None, None)
    }
}
