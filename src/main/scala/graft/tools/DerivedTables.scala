package graft.tools

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.catalog.{HashComponent, TableMeta}
import graft.table.GraftTable

/**
 * The one lifecycle of every CDC-maintained DERIVED table — materialized
 * rollups, secondary indexes, vector indexes. A derived table records its
 * source location and a source-version watermark in its table properties;
 * the three kinds differ only in what they derive, never in how they are
 * built, kept current or served:
 *
 *   - [[build]] registers the source's back-pointer marker, pins the
 *     source version, creates the derived table with its source pointer,
 *     definition and watermark in its FIRST commit, re-writes the marker,
 *     and arms serving for the kinds that serve. A kind supplies only its
 *     validation, its rows over the pinned source scan, its table shape and
 *     its definition properties.
 *   - [[refresh]] re-derives exactly the keys the source's change stream
 *     touched since the watermark, and commits rows and the new watermark
 *     as one version; a kind supplies only its change frame and its
 *     derivation. [[refreshIfStale]] is the maintenance hook: the
 *     reference's MaintenanceManager covers every tablet's upkeep
 *     unconditionally in the background (util/maintenance_manager.cc:736),
 *     so [[graft.table.MaintenanceScheduler]] ticks call it per table, and
 *     warehouse ticks sweep it across every table under the directory.
 *   - Serving is [[graft.plans.ServingRewrites]]: one session-keyed
 *     registry arms a rollup's or an index's rewrite rule, and every serve
 *     pins the derived table at the base version its plan observed through
 *     [[watermarkOf]].
 */
object DerivedTables {

  /** Source-side back-pointer registry: a source table carries one marker
    * file per derived table built FROM it, under `<location>/_derived/`.
    * The derived table holds the forward pointer (its SrcLocKey +
    * watermark); the source's back-pointer is what lets history GC floor
    * its expiry at the watermarks still needed ([[graft.table.GraftTable]]
    * `expireVersions`) — without it, aggressive retention plus one missed
    * refresh tick forces a full O(derived) rebuild. Markers are FILES, not
    * table properties: a registration must not commit a version on the
    * source (builds against long-lived shared tables would bloat their
    * version chains and invalidate their fingerprints), and the GC that
    * reads markers deletes dead ones lazily. */
  private val RegDir = "_derived"

  private def regFile(sourceLoc: String, derivedLoc: String): java.nio.file.Path =
    java.nio.file.Paths.get(sourceLoc, RegDir,
      java.net.URLEncoder.encode(derivedLoc, "UTF-8"))

  /** Record `derivedLoc` as a derived table of `source` (idempotent). The
    * marker also records the source version current AT REGISTRATION: until
    * the build commits the derived table, it cannot answer
    * [[watermarkFor]], and a long build racing an aggressive retention tick
    * would otherwise lose the very version it is about to record — the GC
    * honors this recorded floor while the marker is younger than the
    * tick's own age grace (see GraftTable.expireVersions). */
  private[graft] def register(source: GraftTable, derivedLoc: String): Unit = {
    val f = regFile(source.location, derivedLoc)
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f,
      s"$derivedLoc\n${source.meta.version}".getBytes("UTF-8"))
  }

  /** The floor version recorded in the marker at registration time (absent
    * for markers written before this field existed). */
  private[graft] def markerFloor(sourceLoc: String,
      derivedLoc: String): Option[(Long, Long)] = {
    val f = regFile(sourceLoc, derivedLoc)
    if (!java.nio.file.Files.exists(f)) return None
    val lines = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .split("\n")
    for {
      v <- lines.lift(1).flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      mtime <- scala.util.Try(
        java.nio.file.Files.getLastModifiedTime(f).toMillis).toOption
    } yield (v, mtime)
  }

  /** The derived-table locations registered beside `sourceLoc`. */
  private[graft] def registered(sourceLoc: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(sourceLoc, RegDir)
    if (!java.nio.file.Files.isDirectory(dir)) return Nil
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.list(dir)) { s =>
      s.iterator().asScala
        .map(p => java.net.URLDecoder.decode(p.getFileName.toString, "UTF-8"))
        .toSeq
    }
  }

  /** Remove a dead registration (derived table dropped or re-pointed). */
  private[graft] def deregister(sourceLoc: String, derivedLoc: String): Unit =
    java.nio.file.Files.deleteIfExists(regFile(sourceLoc, derivedLoc))

  /** One maintained kind: the properties that mark a table as one (its
    * source location and source-version watermark) and its refresh. */
  private final case class Kind(srcLocKey: String, srcVersionKey: String,
      refresh: (SparkSession, GraftTable) => Boolean)

  private val kinds = Seq(
    Kind(MaterializedRollup.SrcLocKey, MaterializedRollup.SrcVersionKey,
      MaterializedRollup.refresh(_, _)),
    Kind(SecondaryIndex.SrcLocKey, SecondaryIndex.SrcVersionKey,
      SecondaryIndex.refresh(_, _)),
    Kind(VectorIndex.SrcLocKey, VectorIndex.SrcVersionKey,
      VectorIndex.refresh(_, _)))

  private def kindOf(props: Map[String, String]): Option[Kind] =
    kinds.find(k => props.contains(k.srcLocKey))

  /** The absolute normalized spelling of a table location: a trailing
    * slash, a relative path or a `..` segment names the same table. */
  private def canonical(location: String): String =
    java.nio.file.Paths.get(location).toAbsolutePath.normalize.toString

  /** The source-version watermark a derived table's properties record
    * (None for a plain table). */
  private[graft] def watermarkOf(props: Map[String, String]): Option[Long] =
    kindOf(props).flatMap(k => props.get(k.srcVersionKey))
      .flatMap(v => scala.util.Try(v.toLong).toOption)

  /** The source-version watermark `derivedLoc` still needs, IF it exists
    * and its forward pointer names `sourceLoc` (a dropped derived table, or
    * one rebuilt against another source, yields None — the caller should
    * also clear the dead registration). */
  private[graft] def watermarkFor(derivedLoc: String,
      sourceLoc: String): Option[Long] = {
    if (!TableMeta.exists(derivedLoc)) return None
    val p = TableMeta.readCurrent(derivedLoc).propsMap
    if (kindOf(p).exists(k => canonical(p(k.srcLocKey)) == canonical(sourceLoc)))
      watermarkOf(p)
    else None
  }

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-location refresh mutex. Two concurrent refreshes of ONE derived
    * table (an explicit call racing a background tick, or a per-table tick
    * racing the warehouse sweep) could commit their data in one order and
    * write their watermarks in the other — leaving the table marked
    * CURRENT while rows recomputed against the earlier snapshot overwrote
    * the newer ones (stale-but-current, the one state a refresh-or-miss
    * serving layer must never reach). Every refresh serializes on this
    * per-location monitor, keyed by the canonical location so two
    * spellings of one table share it; single-driver posture, same as the
    * scheduler registry. Never nests: a chained rollup's refresh only
    * SCANS its source, it never refreshes it. */
  private def lockFor(location: String): Object =
    locks.computeIfAbsent(canonical(location), _ => new Object)

  /** Whether `t`'s properties mark it as a maintained derived table. */
  def isDerived(t: GraftTable): Boolean = kindOf(t.properties).nonEmpty

  /** Refresh `t` if it is a derived table whose source version moved past
    * the recorded watermark. Returns true when a refresh ran (a current
    * derived table, or a plain table, returns false). Throws what the
    * underlying refresh throws — e.g. a cleanly-worded history-expiry
    * error when the source GC'd past the watermark (rebuild is the only
    * remedy; the scheduler records it as the tick's lastError). */
  def refreshIfStale(spark: SparkSession, t: GraftTable): Boolean =
    kindOf(t.properties).exists(_.refresh(spark, t))

  /** What one kind's build supplies: the derived table's name, schema,
    * primary key and hash layout, its rows (derived from the pinned source
    * scan), and its definition properties — [[build]] adds the source
    * pointer and the watermark. */
  private[tools] final case class Shape(name: String, schema: StructType,
      keys: Seq[String], hash: Seq[HashComponent], rows: DataFrame,
      props: Map[String, String])

  /**
   * The build of every derived kind. `define` validates the source's
   * manifest and derives the table's [[Shape]] from the source scan pinned
   * at that manifest's version.
   *
   *   - The back-pointer marker is written FIRST (a marker file, no
   *     commit): from this moment the source's history GC floors its
   *     expiry at the registration-time version. A failed build leaves a
   *     dangling marker, which `expireVersions` clears lazily.
   *   - The source scan is PINNED to the version the watermark records: an
   *     unpinned scan reads whatever version is current at execution, and a
   *     commit landing between the manifest read and the job would leave
   *     rows one version ahead of the watermark — the next refresh would
   *     then derive from the wrong before-image (FuzzSpec's build-vs-storm
   *     chaos exercises exactly this window).
   *   - The table's first commit carries its properties (source pointer,
   *     definition, watermark), so it answers [[watermarkFor]] from v1.
   *   - The marker is re-written after that commit: an aggressive expiry
   *     tick during a LONG build can pass the build grace and deregister
   *     the marker, and the finished table would then be excluded from the
   *     GC floor forever — one missed refresh would force the full rebuild
   *     the marker exists to prevent.
   *   - A kind that serves (rollup, secondary index) arms its rewrite in
   *     this session ([[graft.plans.ServingRewrites.autoArm]]): exact and
   *     freshness-gated, so it can never change results. A session opts
   *     out with `graft.rollup.autoRewrite`/`graft.sindex.autoRewrite` set
   *     to anything but "true".
   */
  private[tools] def build(spark: SparkSession, source: GraftTable,
      location: String, srcLocKey: String, srcVersionKey: String)(
      define: (TableMeta, DataFrame) => Shape): GraftTable = {
    register(source, location)
    val m = source.meta
    val s = define(m, source.scan(Some(m.version)))
    val t = GraftTable.create(spark, location, s.name, s.schema, s.keys,
      hash = s.hash, data = Some(s.rows),
      properties = s.props ++ Map(srcLocKey -> m.location,
        srcVersionKey -> m.version.toString))
    register(source, location)
    graft.plans.ServingRewrites.autoArm(spark, t)
    t
  }

  /** What one kind supplies for a refresh window: the window's change
    * frame (one row per changed key, carrying `keyCols`), the source
    * columns those keys address, the source version the keyed read pins
    * (`Some(v0)` for a before-image, None for the current snapshot), and
    * the derivation `(changed, sourceRows, bounded) => (fresh, stale)`.
    * `changed` is the change frame — a LocalRelation of the collected rows
    * when `bounded`, the persisted distributed frame otherwise — and
    * `sourceRows` the source rows of its keys. `fresh` rows upsert; `stale`
    * rows (any column subset holding the derived table's key) tombstone,
    * so the derivation must keep the two disjoint. A bounded derivation
    * joins through [[keyJoin]]: on the driver over local rows, else
    * broadcasting its small join sides explicitly (their optimizer
    * estimates flow through joins and aggregates, and a static plan would
    * otherwise pick a session-width sort-merge join); an unbounded
    * (backfill) one must not broadcast. */
  private[tools] final case class Derivation(changes: DataFrame,
      keyCols: Seq[String], readAt: Option[Long])(
      val derive: (DataFrame, DataFrame, Boolean) => (DataFrame, DataFrame))

  /**
   * The incremental refresh of every derived kind: re-derive exactly the
   * keys the source's change stream touched since the recorded watermark
   * `v0`, commit fresh and stale rows with the new watermark as ONE atomic
   * version, and return true — or false when the table is already
   * current. O(changed), never O(derived table) or O(source).
   *
   *   - The window `(v0, v1]` is sized from the manifest
   *     (`cdcWindowBytes`). A window within
   *     [[GraftTable.broadcastDeltaBytes]] — the steady-state maintenance
   *     tick — is read and folded on the driver, its source rows are a
   *     driver keyed read ([[GraftTable.readByKeys]]) and its derivation
   *     joins local rows on the driver ([[keyJoin]]). Any other tiny
   *     window's probe, persist and commit each run under ONE static plan
   *     ([[GraftTable.planned]]): the CDC fold exchange is
   *     delta-byte-sized and every small join side is a LocalRelation or
   *     an explicit broadcast, so AQE's per-stage jobs would be most of
   *     its cost. Snapshot-diff or backfill windows keep AQE, and persist
   *     the change frame BEFORE the bounded probe so an over-bound
   *     fallback reuses its partitions.
   *   - ONE bounded probe collects up to `maxPruneKeys + 1` change rows.
   *     An empty window (a compaction, no logical change) only advances
   *     the watermark. A bounded window derives from a LocalRelation of
   *     those rows — exact tiny stats keep the downstream joins broadcast
   *     — and reads the source through [[GraftTable.readByKeys]]: an
   *     IN-list per key column prunes untouched tablets at the manifest
   *     (S8/P4). A larger
   *     window semi-joins the source by its distributed key set instead
   *     (no driver risk). `assertPrune = true` gates the pruned path (test
   *     hook: it must run and keep at most half the source files).
   *   - The watermark rides the SAME commit as the rows: the before-image
   *     derivations read `source@watermark`, so a torn pair would corrupt
   *     the next refresh, not just mislabel this one. The commit is
   *     `applyChanges`, not a validated transaction — fresh and stale are
   *     disjoint by construction, and its in-write duplicate-key guard
   *     still allows one action per key (W9).
   *
   * If the source's history GC expired `v0`, the change read errors
   * cleanly ("expired") — a rebuild is the only remedy. (The GC floors its
   * expiry at registered watermarks, so that means the registration was
   * removed or the GC predates it.)
   */
  private[tools] def refresh(spark: SparkSession, derived: GraftTable,
      srcLocKey: String, srcVersionKey: String, maxPruneKeys: Int,
      assertPrune: Boolean)(
      window: (GraftTable, Long, Long) => Derivation)
      : Boolean = lockFor(derived.location).synchronized {
    val p = derived.properties
    val src = GraftTable.load(spark, p(srcLocKey))
    val v0 = p(srcVersionKey).toLong
    val v1 = src.meta.version
    if (v1 == v0) return false
    val watermark = Map(srcVersionKey -> Some(v1.toString))
    val winBytes = src.cdcWindowBytes(v0, v1)
    val winBig = winBytes.forall(_ > GraftTable.StaticPlanBytes)
    val d = window(src, v0, v1)
    def persisted = Some(GraftTable.persisted(d.changes, winBytes.map(BigInt(_))))
    var cached = if (winBig) persisted else None
    try {
      // a window within the driver bound comes back as local rows, which
      // collect with no job under any plan
      val changes = cached.getOrElse(d.changes)
      val probe = changes.limit(maxPruneKeys + 1)
      val rows = (if (GraftTable.isLocal(changes)) probe
        else GraftTable.planned(probe, winBytes.map(BigInt(_)))).collect()
      if (rows.isEmpty) derived.setProperties(watermark)
      else {
        val bounded = rows.length <= maxPruneKeys
        val (changed, sourceRows) =
          if (bounded) {
            val keyIdx = d.keyCols.map(d.changes.schema.fieldIndex)
            (localFrame(spark, d.changes.schema, rows),
              src.readByKeys(d.readAt,
                StructType(d.keyCols.map(d.changes.schema(_))),
                rows.map(r => Row.fromSeq(keyIdx.map(r.get))).distinct,
                assertPrune))
          } else {
            if (assertPrune) throw new IllegalStateException(
              s"refresh of ${derived.location} fell back to the semi-join " +
                s"path (> $maxPruneKeys changed keys)")
            if (cached.isEmpty) cached = persisted
            val changed = cached.get
            // a change frame of exactly the key columns (touchedKeys) is
            // already a distinct key set
            val keys =
              if (changed.columns.toSeq == d.keyCols) changed
              else changed.select(d.keyCols.map(col): _*).distinct()
            (changed, src.scan(d.readAt).join(keys, d.keyCols, "left_semi"))
          }
        val (fresh, stale) = d.derive(changed, sourceRows, bounded)
        // fresh + stale per changed key: ~2x the window, a manifest-
        // derived size for the commit's guard-window exchange (the
        // optimizer's estimate through the joins is useless); local rows
        // commit on the driver with no job
        commit(derived, fresh, stale, watermark, winBytes.map(b => b * 2 + 1024))
      }
      true
    } finally cached.foreach(_.unpersist(blocking = false))
  }

  /** `left`'s rows whose `cols` values appear (`anti` = false) or do not
    * appear (`anti` = true) in `right`: the key join of every bounded
    * derivation. Over two local relations (a window read on the driver)
    * it runs on the driver — a key set of `right`'s collected keys
    * (graft.sources.v2.MorOverlay.KeySet: Spark's key equality) probed by
    * `left`'s collected rows — and returns a local relation, since a
    * broadcast join runs a job even over local relations. Otherwise it is
    * a Spark join, `right` broadcast when `broadcastRight`. */
  private[tools] def keyJoin(left: DataFrame, right: DataFrame, cols: Seq[String],
      anti: Boolean, broadcastRight: Boolean): DataFrame =
    if (GraftTable.isLocal(left) && GraftTable.isLocal(right)) {
      def at(df: DataFrame) = cols.map(df.schema.fieldIndex).toArray
      def types(df: DataFrame) = df.schema.fields.map(_.dataType)
      val matches = new graft.sources.v2.MorOverlay.KeySet(
        GraftSqlBridge.collectInternal(right).iterator, at(right), types(right))
        .matcher(at(left), types(left))
      GraftTable.localRelation(left.sparkSession, left.schema,
        GraftSqlBridge.collectInternal(left).toSeq.filter(r => matches(r) != anti))
    } else left.join(if (broadcastRight) broadcast(right) else right, cols,
      if (anti) "left_anti" else "left_semi")

  /** A true LocalRelation (createDataFrame over a java List), never an
    * RDD-backed frame: the RDD form reports UNKNOWN stats, which a static
    * plan turns into a session-width sort-merge join. */
  private def localFrame(spark: SparkSession, schema: StructType,
      rows: Array[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toSeq.asJava,
      StructType(schema.fields.map(_.copy(nullable = true))))
  }

  /** Fresh rows upsert, stale rows tombstone, with the watermark
    * properties, as ONE [[GraftTable.applyChanges]] version. `stale` may
    * carry any subset of the table's columns that includes its key;
    * missing columns null-fill. */
  private def commit(t: GraftTable, fresh: DataFrame, stale: DataFrame,
      watermark: Map[String, Option[String]], sizeHintBytes: Option[Long]): Unit = {
    val cols = t.meta.visibleColumns
    val have = stale.columns.toSet
    val staleFull = stale.select(cols.map { c =>
      if (have(c.name)) col(c.name).cast(c.dataType).as(c.name)
      else lit(null).cast(c.dataType).as(c.name)
    }: _*)
    val freshFull = fresh.select(cols.map(c =>
      col(c.name).cast(c.dataType).as(c.name)): _*)
    t.applyChanges(
      freshFull.withColumn(GraftTable.DeletedCol, lit(false))
        .unionByName(staleFull.withColumn(GraftTable.DeletedCol, lit(true))),
      propsUpdate = watermark, sizeHintBytes = sizeHintBytes)
  }
}
