package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * Maintained secondary index — point lookups on NON-key columns without
 * scanning the base table. The reference engine locates rows by primary key
 * only (a non-PK predicate is a full scan with predicate evaluation); at
 * 100 TB the standard remedy is a global index TABLE:
 *
 *   - the index is itself an engine table keyed `(lead, pk…)` and
 *     hash-partitioned on the LEAD indexed value, so an equality/IN probe
 *     prunes to the value's hash buckets at the manifest level (P4) before
 *     any file opens. A COMPOSITE index carries its trailing indexed
 *     columns as payload columns of the same rows — one entry per base row
 *     either way — so a conjunction `lead = x AND trailing = y` narrows the
 *     probe further (trailing equalities evaluate on the pruned index rows
 *     and their zone maps prune files within the lead's buckets);
 *   - RANGE and PREFIX probes on the lead column serve through the index's
 *     per-file zone maps. How much the probe prunes depends on whether the
 *     index files are VALUE-clustered: the default writer splits a
 *     bucket's files by key hash (full-domain files — a range probe scans
 *     the index, still bounded by the lookup contract and still far
 *     cheaper than scanning the base), while `cluster(Seq(value, pk…))`
 *     on the index table rewrites every file into a tight value slab and
 *     a narrow `BETWEEN`/`>=`/`startsWith` then opens only the
 *     overlapping slice of each bucket (ScaleSmoke's sindex_range_lookup
 *     rung asserts it). The reference can range-scan key columns only —
 *     tablet/cfile_set.cc:396 PushdownRangeScanPredicate; this extends
 *     that to non-key columns;
 *   - a lookup probes the index for the matching primary keys (a bounded,
 *     point-read-sized set by contract), then reads the base through its
 *     OWN key layout — PK hash/range pruning + zone maps (S8) — so both
 *     sides of the lookup touch tablets, never tables;
 *   - `refresh` rides the engine CDC through [[DerivedTables.refresh]]:
 *     the keys mutated since the recorded watermark re-derive their index
 *     entries, and one atomic transaction (W9) upserts fresh entries and
 *     tombstones stale ones (value changed or row deleted).
 *
 * Rows whose LEAD value is NULL are never indexed (an IS NULL predicate
 * keeps the base-scan path; equality/IN/range probes never match NULL, so
 * semantics align by construction). Trailing composite columns MAY be null
 * — they are payload, stored as-is, and an equality probe over them matches
 * nothing for null entries, exactly like the base scan would. Sources with
 * a hidden auto-increment key are refused — their CDC export does not carry
 * the hidden id, so index entries could not be tombstoned reliably.
 */
object SecondaryIndex {

  val SrcLocKey = "graft.sindex.source"
  val ColKey = "graft.sindex.col"
  val SrcVersionKey = "graft.sindex.sourceVersion"
  /** Present on FUNCTIONAL indexes: the canonical SQL of the indexed
    * expression over source columns (plans/IndexRewrite.canonScalar's
    * language — deterministic, timezone-free scalars). The index stores
    * the computed value under [[ExprCol]] and serves predicates whose key
    * canonicalizes to the same string. */
  val ExprKey = "graft.sindex.expr"
  /** The synthesized lead column a functional index stores its computed
    * values under. */
  val ExprCol = "_v"

  /** The indexed columns recorded in `props` — lead first. (Single-column
    * indexes persist a bare name; composite ones a comma-joined list.) */
  def indexedCols(props: Map[String, String]): Seq[String] =
    props(ColKey).split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Index entries for the given source rows: (cols…, pk…), lead-null rows
    * dropped. */
  private def entries(rows: DataFrame, colNames: Seq[String],
      pkCols: Seq[String]): DataFrame =
    rows.filter(col(colNames.head).isNotNull)
      .select((colNames ++ pkCols).distinct.map(col): _*)

  /** Single-column build (the common case). */
  def build(spark: SparkSession, source: GraftTable, colName: String,
      location: String, buckets: Int): GraftTable =
    build(spark, source, Seq(colName), location, buckets)

  def build(spark: SparkSession, source: GraftTable, colName: String,
      location: String): GraftTable =
    build(spark, source, Seq(colName), location, 16)

  /**
   * Build the index beside `source` on `colNames` (lead first), through
   * [[DerivedTables.build]] — the one build of every derived kind (marker,
   * pinned source scan, properties in the first commit, serving armed).
   * The index table is keyed `(lead, pk…)` (one entry per base row),
   * hash-partitioned on the lead across `buckets`, with any trailing
   * indexed columns carried as payload.
   *
   * `clustered = true` additionally VALUE-CLUSTERS the index files at
   * build time (z-order on (lead, pk-head) within each hash bucket): the
   * default writer splits a bucket's files by key hash, so every file
   * spans the lead's full value domain and RANGE/top-k probes must scan
   * the whole (bounded) index; clustered, each file covers a tight value
   * slab and a BETWEEN or extreme-slab walk opens only the overlapping
   * slice. The clustering spec persists (TableMeta.clusterBy), so later
   * compactions KEEP the layout — pay the rewrite once, serve ranges
   * forever. Range-heavy workloads should build with it; point-only
   * workloads need none of it (hash buckets already prune).
   */
  def build(spark: SparkSession, source: GraftTable, colNames: Seq[String],
      location: String, buckets: Int = 16,
      clustered: Boolean = false): GraftTable = {
    require(colNames.nonEmpty, "index needs at least one column")
    require(colNames.distinct == colNames,
      s"duplicate index columns in ${colNames.mkString(",")}")
    buildIndex(spark, source, location, buckets, clustered) { (m, scan) =>
      colNames.foreach { n =>
        val c = m.column(n)
        require(!m.keyCols.contains(n),
          s"$n is already a primary-key column — the base table's own " +
            "layout serves it (S8)")
        require(!Seq("array", "map", "struct").contains(c.dataType.typeName),
          s"index column must be an atomic type, got ${c.dataType.catalogString}")
      }
      (s"${m.name}_${colNames.head}_sidx", colNames.head,
        entries(scan, colNames, m.keyCols), Map(ColKey -> colNames.mkString(",")))
    }
  }

  /**
   * Build a FUNCTIONAL index: the indexed value is a deterministic scalar
   * EXPRESSION over source columns (`lower(c_name)`, `substring(url, 1,
   * 8)`, `length(text)`, `year(o_orderdate)` — the canonical language in
   * plans/IndexRewrite.canonScalar; anything outside it refuses up front,
   * which is also what keeps serving sound: timezone-dependent functions
   * never canonicalize — the date family admits DATE columns only, a
   * timestamp argument refuses at the post-resolution type check). The index table stores the computed value under
   * [[ExprCol]], keyed `(_v, pk…)` and hash-partitioned on it; refresh
   * re-derives mutated keys' values through the same expression, and the
   * rewrite serves any predicate whose key canonicalizes identically —
   * `WHERE lower(c_name) = '…'` rides the index exactly like a plain
   * column predicate. The reference has no functional-index analog at
   * all; at 100 TB a case-folded or prefix-bucketed lookup is otherwise a
   * corpus scan with expression evaluation. Built through
   * [[DerivedTables.build]] like [[build]].
   */
  def buildExpression(spark: SparkSession, source: GraftTable,
      exprSql: String, location: String, buckets: Int = 16,
      clustered: Boolean = false): GraftTable =
    buildIndex(spark, source, location, buckets, clustered) { (m, scan) =>
      val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprSql)
      val canon0 = graft.plans.IndexRewrite.canonScalar(parsed).getOrElse(
        throw new IllegalArgumentException(
          s"unsupported index expression '$exprSql' — supported: a column; " +
            "lower/upper/trim/length/substring over one; year/month/day " +
            "over a DATE column"))
      // resolution against the source validates the referenced columns AND
      // re-applies the language's TYPE guards on the resolved tree — the
      // parsed expression carries no types, so e.g. year(<timestamp>) (a
      // session-timezone read that must never serve) only refuses here:
      // either the resolved function's DateType guard fails, or the
      // analyzer inserted a Cast, which falls outside the language
      val probe = scan.select(expr(canon0).as(ExprCol))
      val resolvedExpr = probe.queryExecution.analyzed.expressions.collectFirst {
        case a: org.apache.spark.sql.catalyst.expressions.Alias
            if a.name == ExprCol => a.child
      }.getOrElse(parsed)
      val canon = graft.plans.IndexRewrite.canonScalar(resolvedExpr).getOrElse(
        throw new IllegalArgumentException(
          s"unsupported index expression '$exprSql' after resolution — " +
            "date functions (year/month/day) admit DATE columns only " +
            "(timestamps read through the session timezone and cannot " +
            "serve soundly)"))
      val data = scan.select(expr(canon).as(ExprCol) +: m.keyCols.map(col): _*)
        .filter(col(ExprCol).isNotNull)
      val dt = data.schema(ExprCol).dataType
      require(!Seq("array", "map", "struct").contains(dt.typeName),
        s"index expression must be an atomic type, got ${dt.catalogString}")
      (s"${m.name}_expr_sidx", ExprCol, data,
        Map(ColKey -> ExprCol, ExprKey -> canon))
    }

  /** The build shared by plain and functional indexes, through
    * [[DerivedTables.build]]: `define` names the index and its lead
    * column, and derives the entries and definition properties from the
    * pinned source scan. The index is keyed `(lead, pk…)` and
    * hash-partitioned on the lead; `clustered` value-clusters it once
    * built. */
  private def buildIndex(spark: SparkSession, source: GraftTable,
      location: String, buckets: Int, clustered: Boolean)(
      define: (graft.catalog.TableMeta, DataFrame) =>
        (String, String, DataFrame, Map[String, String])): GraftTable = {
    val idx = DerivedTables.build(spark, source, location, SrcLocKey,
        SrcVersionKey) { (m, scan) =>
      require(!m.hasAutoInc,
        s"${m.name} has a hidden auto-increment key — non-unique-PK tables " +
          "are not secondary-indexable (the CDC export does not carry the " +
          "hidden id)")
      val (name, lead, data, props) = define(m, scan)
      DerivedTables.Shape(name, data.schema, lead +: m.keyCols,
        Seq(HashComponent(Seq(lead), buckets)), data, props)
    }
    if (clustered) clusterIndex(idx)
    idx
  }

  /** Value-cluster the index on its lead value (mode "lead": pure
    * lexicographic value slabs — a z-interleave would hand half the bits
    * to the PK and leave each file spanning half the value domain). File
    * count targets ≥ 8 files per hash bucket so each bucket carries real
    * slab structure; rows within a slab file stay (value, pk)-sorted. */
  private def clusterIndex(idx: GraftTable): Unit = {
    val m = idx.meta
    val zcols = m.keyCols.take(2)
    require(zcols.length == 2 &&
      zcols.forall(c => GraftTable.zClusterable(m.column(c).dataType)),
      s"cannot value-cluster index on ${zcols.mkString(",")}: both the " +
        "lead value and the first PK column need an order-preserving " +
        "zone-map encoding (float/double refuse)")
    val buckets = m.hash.headOption.map(_.buckets).getOrElse(1)
    idx.cluster(zcols, nFiles = math.max(m.baseFiles.length, buckets * 8),
      mode = "lead")
  }

  /**
   * Maintenance policy: value-cluster an index whose file layout carries
   * the HASH SIGNATURE — nearly every file spanning the lead's full value
   * domain (max zone-interval overlap depth over half the file count).
   * That is the layout the default writer produces and the one that makes
   * range probes scan the whole index; one clustering rewrite fixes it
   * permanently (the spec persists, compactions preserve it), so the
   * policy fires at most once per index: an already-clustered index
   * (TableMeta.clusterBy set) never re-enters. Called by the maintenance
   * scheduler's ticks; cheap when ineligible (one manifest read, a
   * driver-side sweep over recorded bounds). Returns whether it clustered.
   */
  def maybeCluster(spark: SparkSession, index: GraftTable,
      minFiles: Int = 8): Boolean = {
    val m = index.meta
    if (!m.propsMap.contains(SrcLocKey)) return false
    if (m.clusterBy.nonEmpty) return false // already clustered (idempotence)
    // delta files don't block: the clustering rewrite folds merge-on-read
    // state itself (one rewrite beats fold-then-cluster), and the
    // signature below reads BASE zone maps, which deltas never carry
    if (m.baseFiles.length < minFiles) return false
    val zcols = m.keyCols.take(2)
    if (zcols.length < 2 ||
      !zcols.forall(c => GraftTable.zClusterable(m.column(c).dataType)))
      return false
    val cid = m.column(indexedCols(m.propsMap).head).id.toString
    val iv = m.baseFiles.map { f =>
      for {
        lo <- f.colLo.flatMap(_.get(cid))
        hi <- f.colHi.flatMap(_.get(cid))
      } yield (lo, hi)
    }
    if (iv.exists(_.isEmpty)) return false
    // max overlap depth by boundary sweep — encoded bounds compare
    // lexicographically; starts order before ends at equal values, so
    // touching intervals count as overlapping (conservative)
    var depth = 0
    var maxDepth = 0
    iv.flatten.flatMap { case (lo, hi) => Seq((lo, 0), (hi, 1)) }
      .sorted.foreach { case (_, t) =>
        if (t == 0) { depth += 1; maxDepth = math.max(maxDepth, depth) }
        else depth -= 1
      }
    if (maxDepth * 2 <= m.baseFiles.length) return false // slab-ish already
    clusterIndex(index)
    true
  }

  /**
   * Point lookup: the base rows whose LEAD indexed column equals any of
   * `values`. Delegates to [[lookupWhere]] with an IN probe — hash buckets
   * prune at the manifest before any file opens.
   */
  def lookup(spark: SparkSession, index: GraftTable, values: Seq[Any],
      maxKeys: Int = 100000, assertPrune: Boolean = false): DataFrame = {
    require(values.nonEmpty, "lookup needs at least one value")
    val lead = indexedCols(index.properties).head
    lookupWhere(spark, index,
      Seq(org.apache.spark.sql.sources.In(lead, values.toArray)),
      maxKeys, assertPrune)
  }

  /**
   * Generalized lookup: the base rows whose index entry satisfies every
   * filter in `probeFilters` (a conjunction over the indexed columns).
   * The index scan ([[GraftTable.scanPruned]]) prunes with the filters
   * and applies them — IN over the lead prunes hash buckets; range/prefix
   * filters prune per-file zone maps within them; trailing-column
   * equalities prune their own zone maps. The collected key set is
   * bounded by `maxKeys` (a lookup is a point read — an unbounded
   * predicate is a scan, use the base table), and the base read pushes an
   * IN-list per PK column (PK hash/range/zone pruning) with an exact key
   * semi-join behind it.
   *
   * `pinned = Some((indexVersion, baseVersion))` pins BOTH reads for the
   * serving rewrite: the probe scans the index AT `indexVersion` (whose
   * rows are exactly `entries(source@watermark)`), and the base read scans
   * `baseVersion` — so a commit or refresh landing mid-plan can never mix
   * snapshots. `assertPrune = true` gates that the index probe opened at
   * most half the index files (test/verification hook).
   */
  def lookupWhere(spark: SparkSession, index: GraftTable,
      probeFilters: Seq[org.apache.spark.sql.sources.Filter],
      maxKeys: Int = 100000,
      assertPrune: Boolean = false,
      pinned: Option[(Long, Long)] = None): DataFrame = {
    val src = GraftTable.load(spark, index.properties(SrcLocKey))
    val pkCols = src.meta.keyCols
    // contract-bounded probe (limit + the require below): a scan, a filter
    // and a limit, which plan no exchange, so adaptive execution never
    // applies to it
    val hits = index.scanPruned(probeFilters, pinned.map(_._1), assertPrune)
      .select(pkCols.map(col): _*)
      .limit(maxKeys + 1).collect()
    require(hits.length <= maxKeys,
      s"lookup matched more than $maxKeys rows — not a point read; scan " +
        "the base table instead")
    fetchByKeys(spark, src, pkCols, hits, pinned.map(_._2))
  }

  /**
   * OR-serving primitive: the base rows matched by the UNION of several
   * bounded index probes — each probe possibly against a DIFFERENT index
   * of the SAME source table (`WHERE a = x OR b = y` with an index on `a`
   * and an index on `b`). Every per-probe key set is bounded by `maxKeys`
   * and so is the deduplicated union (a union that big is a scan, not a
   * point read — the caller keeps the scan plan); the matched keys then
   * read the base ONCE through its own PK layout, not once per probe.
   *
   * Each probe tuple is `(index, probeFilters, indexVersion)` — the
   * version pins that index's scan to the manifest whose watermark
   * the caller already validated against `baseV`, so a refresh landing
   * mid-plan can never mix snapshots across the probes.
   */
  def lookupUnionWhere(spark: SparkSession,
      probes: Seq[(GraftTable, Seq[org.apache.spark.sql.sources.Filter], Long)],
      baseV: Long, maxKeys: Int = 100000): DataFrame = {
    require(probes.nonEmpty, "union lookup needs at least one probe")
    val srcLocs = probes.map(_._1.properties(SrcLocKey)).distinct
    require(srcLocs.size == 1,
      s"union probes must share one source table, got: ${srcLocs.mkString(", ")}")
    val src = GraftTable.load(spark, srcLocs.head)
    val pkCols = src.meta.keyCols
    // the probes are independent bounded jobs — run them CONCURRENTLY
    // (Spark's scheduler is thread-safe): an OR of N disjuncts pays one
    // probe latency, not N sequential job floors. Each probe thread
    // carries the rewrite's re-entrancy guard, exactly like the planning
    // thread that farmed it out would.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    // each probe is a scan, a filter and a limit: no exchange, so no
    // adaptive plan and no session setting the futures would share
    val hitArrays = Await.result(
      Future.traverse(probes.toList) { case (idx, probeFilters, indexV) =>
        Future(graft.plans.ServingRewrites.guarded {
          val hits = idx.scanPruned(probeFilters, Some(indexV))
            .select(pkCols.map(col): _*)
            .limit(maxKeys + 1).collect()
          require(hits.length <= maxKeys,
            s"union probe matched more than $maxKeys rows — not a point " +
              "read; scan the base table instead")
          hits
        })
      }, scala.concurrent.duration.Duration.Inf)
    // dedupe across probes by PK value tuple (a row matching two disjuncts
    // must fetch once); LinkedHashMap keeps first-seen order deterministic
    val seen = scala.collection.mutable.LinkedHashMap[Seq[Any], org.apache.spark.sql.Row]()
    hitArrays.foreach { hits =>
      hits.foreach(r => seen.getOrElseUpdate(r.toSeq, r))
      require(seen.size <= maxKeys,
        s"union matched more than $maxKeys rows — not a point read; " +
          "scan the base table instead")
    }
    fetchByKeys(spark, src, pkCols, seen.values.toArray, Some(baseV))
  }

  /** The base rows for a collected (bounded) PK set, as a keyed scan
    * (GraftTable.scanByKeys: an IN-list per PK column, an exact key
    * semi-join behind it) — never the driver keyed read: a serve splices
    * this frame into the query at plan time, and the base read runs when
    * the query does. Empty keys → an empty scan-shaped frame. */
  private def fetchByKeys(spark: SparkSession, src: GraftTable,
      pkCols: Seq[String], hits: Array[org.apache.spark.sql.Row],
      baseV: Option[Long]): DataFrame = {
    val m = src.meta
    src.scanByKeys(baseV, StructType(pkCols.map(m.column(_).toField)), hits)
  }

  /**
   * Zone TOP-N cut over the INDEX's own files — the manifest-level
   * threshold that lets [[topK]]/[[topKTies]] walk only the extreme
   * value slabs of a CLUSTERED index instead of sorting the whole index:
   * order files by their recorded lead max (desc; min for asc), take the
   * smallest prefix whose row count covers `k`, and return a pushed
   * filter at θ = the prefix's weakest recorded opposite bound. Sound for
   * ANY layout: the prefix holds ≥ k rows, each ≥ its file's recorded
   * min ≥ θ (bounds are conservative — parquet stat truncation only
   * widens them), so the true k-th value is ≥ θ and every top-k row
   * passes `lead >= θ`. Under a hash layout every file spans the full
   * domain, θ degrades to the global min and the cut keeps everything —
   * exactly today's full sort, nothing lost. No cut (Nil) when deltas
   * exist (delta values carry no zone maps), any file lacks lead bounds
   * or a row count, the index is a single file, or θ's type cannot
   * round-trip the bound encoding.
   */
  private def topCut(index: GraftTable, k: Int, desc: Boolean,
      version: Option[Long]): Seq[org.apache.spark.sql.sources.Filter] = {
    val m = version.map(index.metaAt).getOrElse(index.meta)
    if (m.deltaFiles.nonEmpty || m.baseFiles.length < 2) return Nil
    val lead = indexedCols(m.propsMap).head
    val cmeta = m.column(lead)
    val cid = cmeta.id.toString
    val stats = m.baseFiles.map { f =>
      for {
        lo <- f.colLo.flatMap(_.get(cid))
        hi <- f.colHi.flatMap(_.get(cid))
        if f.rows >= 0
      } yield (lo, hi, f.rows)
    }
    if (stats.exists(_.isEmpty)) return Nil
    val fs = stats.flatten
    val ordered =
      if (desc) fs.sortBy(_._2)(Ordering[String].reverse) else fs.sortBy(_._1)
    var acc = 0L
    var i = 0
    while (i < ordered.length && acc < k) { acc += ordered(i)._3; i += 1 }
    if (acc < k) return Nil // fewer than k entries: caller declines
    val prefix = ordered.take(i)
    val thetaEnc = if (desc) prefix.map(_._1).min else prefix.map(_._2).max
    val internal = GraftTable.decodeBound(cmeta.dataType, thetaEnc)
      .getOrElse(return Nil)
    val v = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(cmeta.dataType)(internal)
    Seq(if (desc) org.apache.spark.sql.sources.GreaterThanOrEqual(lead, v)
        else org.apache.spark.sql.sources.LessThanOrEqual(lead, v))
  }

  /**
   * TOP-K by the LEAD indexed value: the base rows carrying the k extreme
   * non-null values (`desc` picks the direction; ties break by the index
   * key, any valid top-k set). At 100 TB this turns `ORDER BY value
   * LIMIT k` on a non-key column from a corpus sort into an index read
   * plus a k-row point fetch — the non-key analog of the engine's zone
   * TOP-N cut (S9), and serving stays EXACT because the index holds one
   * entry per base row at the watermark. On a value-CLUSTERED index the
   * [[topCut]] prunes the sort to the extreme slabs (a handful of files)
   * instead of the whole index. Returns None when fewer than `k`
   * non-null entries exist — the caller may need null-lead rows the index
   * never holds, so it must keep the scan. `pinned` as in [[lookupWhere]].
   *
   * A non-empty `where` makes this a FILTERED top-k: the k extreme
   * entries AMONG those satisfying every filter in it (a conjunction over
   * the index's carried columns — entry values equal the base row's at the
   * watermark, so matching entries ARE the matching non-null-lead base
   * rows). The [[topCut]] is BYPASSED under a filter — its θ bound is
   * derived from the unfiltered population, and cutting files below it
   * could drop matching rows that belong to the filtered answer; the
   * `where` filters themselves prune instead (trailing-column zone maps,
   * lead ranges). Fewer than `k` matching entries returns None — a
   * null-lead row satisfying the predicate could then pad the true
   * answer.
   */
  def topK(spark: SparkSession, index: GraftTable, k: Int, desc: Boolean,
      pinned: Option[(Long, Long)] = None,
      where: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : Option[DataFrame] = {
    require(k > 0, "topK needs k > 0")
    val lead = indexedCols(index.properties).head
    val src = GraftTable.load(spark, index.properties(SrcLocKey))
    val pkCols = src.meta.keyCols
    val ord = if (desc) col(lead).desc else col(lead).asc
    val scan0 = index.scanPruned(
      if (where.nonEmpty) where else topCut(index, k, desc, pinned.map(_._1)),
      pinned.map(_._1))
    // bounded top-k probe (TakeOrderedAndProject, no exchange)
    val hits = scan0
      .orderBy(ord +: pkCols.map(col(_).asc): _*)
      .select(pkCols.map(col): _*)
      .limit(k).collect()
    if (hits.length < k) return None
    Some(fetchByKeys(spark, src, pkCols, hits, pinned.map(_._2)))
  }

  /**
   * The INDEX ROWS of the k extreme lead values — the COVERING top-k
   * primitive: no base fetch, no collect; one zone-cut-pruned index scan
   * with the ordering and limit applied. Callers (the covering branch of
   * the top-k rewrite) must verify separately that the index holds at
   * least k entries (manifest row counts on a delta-free index — fewer
   * entries could need null-lead rows the index never holds) and that
   * every column they need rides the index. Ties break by the index key
   * — any valid top-k set, single-sort-key semantics only.
   */
  def topEntries(spark: SparkSession, index: GraftTable, k: Int,
      desc: Boolean, indexVersion: Option[Long] = None): DataFrame = {
    require(k > 0, "topEntries needs k > 0")
    val m = indexVersion.map(index.metaAt).getOrElse(index.meta)
    val keys = m.keyCols // (lead, pk…)
    val ord = if (desc) col(keys.head).desc else col(keys.head).asc
    index.scanPruned(topCut(index, k, desc, indexVersion), indexVersion)
      .orderBy(ord +: keys.tail.map(col(_).asc): _*)
      .limit(k)
  }

  /**
   * TOP-K by the LEAD indexed value WITH TIE COMPLETION: the base rows
   * whose lead value is strictly better than — or EQUAL to — the k-th
   * extreme value. Unlike [[topK]] (any valid top-k set, ties broken by
   * index key), the returned superset lets a caller re-apply a MULTI-key
   * `ORDER BY lead [DESC], tiebreak… LIMIT k` exactly: the true top-k
   * rows all carry one of the k extreme lead values (ties only rearrange
   * equal-lead rows), so sorting the candidates by the full key list and
   * cutting at k reproduces the corpus sort's answer. The candidate set
   * is bounded by `maxKeys` — tie-heavy data (more than maxKeys rows
   * at or past the k-th value) throws the lookup contract, like
   * [[lookupWhere]], and the caller keeps the scan. Returns None when
   * fewer than `k` non-null entries exist (the
   * caller may need null-lead rows the index never holds). `pinned` as
   * in [[lookupWhere]]; `where` as in [[topK]] (filtered tie completion:
   * both passes apply the predicate, and the topCut is bypassed — its
   * bound comes from the unfiltered population).
   */
  def topKTies(spark: SparkSession, index: GraftTable, k: Int,
      desc: Boolean, maxKeys: Int,
      pinned: Option[(Long, Long)] = None,
      where: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : Option[DataFrame] = {
    require(k > 0, "topKTies needs k > 0")
    val lead = indexedCols(index.properties).head
    val src = GraftTable.load(spark, index.properties(SrcLocKey))
    val pkCols = src.meta.keyCols
    val ord = if (desc) col(lead).desc else col(lead).asc
    // pass 1: the k-th extreme lead value (ties beyond k irrelevant —
    // any row tied at vk joins the candidate set in pass 2); zone-cut-
    // pruned like topK when unfiltered
    val scan0 = index.scanPruned(
      if (where.nonEmpty) where else topCut(index, k, desc, pinned.map(_._1)),
      pinned.map(_._1))
    val leadVals = scan0.orderBy(ord).select(col(lead)).limit(k).collect()
    if (leadVals.length < k) return None
    val vk = leadVals.last.get(0)
    // pass 2: every entry at-or-better than vk — zone maps prune a
    // value-clustered index to the extreme slabs; the bound keeps the
    // collect point-read-sized either way
    val candFilters: Seq[org.apache.spark.sql.sources.Filter] =
      (if (desc) org.apache.spark.sql.sources.GreaterThanOrEqual(lead, vk)
       else org.apache.spark.sql.sources.LessThanOrEqual(lead, vk)) +: where
    val hits = index.scanPruned(candFilters, pinned.map(_._1))
      .select(pkCols.map(col): _*)
      .limit(maxKeys + 1).collect()
    require(hits.length <= maxKeys,
      s"top-k tie set matched more than $maxKeys rows — not a point read; " +
        "scan the base table instead")
    Some(fetchByKeys(spark, src, pkCols, hits, pinned.map(_._2)))
  }

  /**
   * Incremental refresh through [[DerivedTables.refresh]] (the one refresh
   * path of every derived kind; `maxPruneKeys`/`assertPrune` as there).
   * The mutated keys re-derive their entries, and the stale ones — the
   * key's old value entry when the value changed, every entry of a deleted
   * key — tombstone in the same commit. The stale entries are the
   * BEFORE-IMAGE of the mutated keys, and the index (hash-partitioned on
   * the VALUE) cannot be probed by key, so they derive from the SOURCE's
   * watermark snapshot instead: by the maintenance invariant the index at
   * watermark v0 is exactly `entries(source@v0)`, so the old entries of
   * the changed keys are `entries(source@v0 ⋉ changedKeys)` — a keyed
   * time-travel read of the base, which IS partitioned on its PK.
   *
   * The IN-lists carry CURRENT-typed key values and prune against the v0
   * manifest's recorded bounds — sound because PK column types can never
   * change (widenColumnType refuses key and partition columns). Returns
   * false when the index is already current; an expired watermark means
   * rebuild with [[build]].
   */
  def refresh(spark: SparkSession, index: GraftTable,
      maxPruneKeys: Int = 4096, assertPrune: Boolean = false): Boolean =
    DerivedTables.refresh(spark, index, SrcLocKey, SrcVersionKey,
        maxPruneKeys, assertPrune) { (src, v0, v1) =>
      val p = index.properties
      val colNames = indexedCols(p)
      val exprCanon = p.get(ExprKey)
      val pkCols = src.meta.keyCols
      // a FUNCTIONAL index derives its entries by re-evaluating the
      // persisted expression over source rows; a plain one projects its
      // columns
      def derive(rows: DataFrame): DataFrame = exprCanon match {
        case Some(sql) => rows
          .select(expr(sql).as(ExprCol) +: pkCols.map(col): _*)
          .filter(col(ExprCol).isNotNull)
        case None => entries(rows, colNames, pkCols)
      }
      val changes = exprCanon match {
        // the expression may reference any source column — keep them all
        // (the changed set is O(changed) small); plain indexes project narrow
        case Some(_) => src.changesSince(v0, v1)
        case None => src.changesSince(v0, v1)
          .select((colNames ++ pkCols).distinct.map(col) :+
            col(GraftTable.DeletedCol): _*)
      }
      DerivedTables.Derivation(changes, pkCols, readAt = Some(v0)) {
        (changed, oldRows, _) =>
          val fresh = derive(changed.filter(!col(GraftTable.DeletedCol))
            .drop(GraftTable.DeletedCol))
          // the before-image entries the fresh set does not re-assert BY
          // KEY are stale (old lead value on rename, every entry of a
          // deleted key); the anti-join is on the INDEX KEY (lead, pk…) —
          // a trailing composite column changing value keeps the same key,
          // so upsert alone covers it
          (fresh, DerivedTables.keyJoin(derive(oldRows), fresh, colNames.head +: pkCols,
            anti = true, broadcastRight = false))
      }
    }
}
