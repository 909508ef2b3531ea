package graft

import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

import graft.catalog.{HashComponent, RangeComponent}
import graft.table.GraftTable

/**
 * Engine-table definitions over the driver's testdata (FIXTURES.md): PK +
 * hash/range partition spec per table, mirroring the reference's TPC-H
 * fixtures (benchmarks/tpch/tpch-schemas.h — lineitem keyed on
 * l_orderkey+l_linenumber).
 *
 * Registration is zero-copy: the raw Parquet becomes the v1 base fileset of
 * a graft table; mutations commit deltas beside the metadata.
 */
object Tables {

  case class Spec(keys: Seq[String], hash: Seq[HashComponent],
      range: Option[RangeComponent] = None, nonUnique: Boolean = false)

  val specs: Map[String, Spec] = Map(
    "region"     -> Spec(Seq("r_regionkey"), Seq(HashComponent(Seq("r_regionkey"), 2))),
    "nation"     -> Spec(Seq("n_nationkey"), Seq(HashComponent(Seq("n_nationkey"), 2))),
    "customer"   -> Spec(Seq("c_custkey"), Seq(HashComponent(Seq("c_custkey"), 4))),
    "supplier"   -> Spec(Seq("s_suppkey"), Seq(HashComponent(Seq("s_suppkey"), 2))),
    "part"       -> Spec(Seq("p_partkey"), Seq(HashComponent(Seq("p_partkey"), 4))),
    "orders"     -> Spec(Seq("o_orderkey"), Seq(HashComponent(Seq("o_orderkey"), 4)),
      Some(RangeComponent("o_orderdate", "year"))),
    // The driver's lineitem has duplicate (l_orderkey, l_linenumber) pairs —
    // a non-unique PK, which the reference backs with a hidden
    // auto_incrementing_id key column (ColumnSchema.java:529 nonUniqueKey()).
    "lineitem"   -> Spec(Seq("l_orderkey", "l_linenumber"),
      Seq(HashComponent(Seq("l_orderkey"), 8)), nonUnique = true),
    "events"     -> Spec(Seq("event_id"), Seq(HashComponent(Seq("event_id"), 4))),
    "documents"  -> Spec(Seq("doc_id"), Seq(HashComponent(Seq("doc_id"), 4))),
    "embeddings" -> Spec(Seq("vec_id"), Seq(HashComponent(Seq("vec_id"), 4))))

  private val cache = TrieMap[(String, String), GraftTable]()

  /** Bump when the metadata format changes — stale on-disk caches from an
    * older build are then simply ignored instead of mis-loaded.
    * (v4: base files carry the writer's sorted=true proof, which the V2
    * scan's SupportsReportOrdering needs — older fixtures would silently
    * keep paying SMJ sorts.) */
  private val CacheFormatVersion = 4

  /** The fixture warehouse for `sfDir` — also what the DSv2 catalog mounts
    * (spark.sql.catalog.<name>.warehouse) for storage-partitioned joins. */
  def cacheRoot(sfDir: String): String = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft-cache-v$CacheFormatVersion/$tag"
  }

  /** Fingerprint of the source parquet (size + mtime per file) recorded at
    * registration time. The driver regenerates testdata in place between
    * rounds; without this, a cached fixture keyed on path alone would
    * silently serve stale rows against a fresh oracle. */
  private[graft] def sourceFingerprint(sfDir: String, table: String): String = {
    import scala.jdk.CollectionConverters._
    val p = Paths.get(s"$sfDir/$table.parquet")
    if (!Files.exists(p)) "absent"
    else if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.sortBy(_.toString)
        .map(f => s"${f.getFileName}:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
        .mkString(";")
      finally s.close()
    } else s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
  }

  private def fingerprintPath(loc: String) = Paths.get(loc, "source.fp")

  /** Test hook: drop the in-JVM handle so the next readonly() re-runs the
    * on-disk load + staleness check (simulates a fresh JVM). */
  private[graft] def evictCached(sfDir: String, table: String): Unit =
    cache.remove((sfDir, table))

  /** Shared read-only engine table for scan queries — registered once per
    * JVM per (sfDir, table); the on-disk registration survives across JVMs.
    * Any load failure (corrupt/stale cache) or source-fingerprint mismatch
    * (regenerated testdata, or a pre-guard cache with no fingerprint) falls
    * back to re-registration. */
  def readonly(spark: SparkSession, sfDir: String, table: String): GraftTable =
    cache.getOrElseUpdate((sfDir, table), {
      val loc = s"${cacheRoot(sfDir)}/$table"
      synchronized {
        val loaded =
          if (GraftTable.exists(loc))
            try {
              val t = GraftTable.load(spark, loc)
              t.meta // force a parse; throws on stale format
              val fp = fingerprintPath(loc)
              if (Files.exists(fp) &&
                  Files.readString(fp) == sourceFingerprint(sfDir, table)) Some(t)
              // stale vs source → rebuild; force: leftover scratch forks of
              // the outdated fixture (prior JVMs' temp dirs) must never
              // block the rebuild — they are stale-by-definition with it
              else { GraftTable.drop(loc, force = true); None }
            } catch {
              case _: Exception => GraftTable.drop(loc, force = true); None
            }
          else None
        loaded.getOrElse(registerAt(spark, sfDir, table, loc))
      }
    })

  /** Fresh, private engine table for mutation queries — a zero-copy FORK of
    * the shared readonly table: same base files, own delta/metadata dir, so
    * scripted op sequences start from the raw snapshot without
    * re-materializing large bases (non-unique lineitem, converted events). */
  def scratch(spark: SparkSession, sfDir: String, table: String): GraftTable = {
    val loc = Files.createTempDirectory(s"graft-$table-").toString
    GraftTable.fork(spark, readonly(spark, sfDir, table), loc)
  }

  private def registerAt(spark: SparkSession, sfDir: String, table: String,
      loc: String): GraftTable = {
    val spec = specs.getOrElse(table,
      throw new IllegalArgumentException(s"unknown fixture table $table"))
    Files.createDirectories(Paths.get(loc))
    // Materialize a hash/range-partitioned base (create, not zero-copy
    // register): partition coordinates in the fileset are what let
    // the scan / the write-path presence pruning skip whole files, so
    // every declared query exercises the pruned read path — the bulk-load
    // analog, paid once per (sfDir, table) and reused across JVMs.
    // Zero-copy registration remains the API for external parquet handoffs
    // (GraftTable.register; events additionally needs its TIMESTAMP(NANOS)
    // column converted, which raw() does).
    val t = GraftTable.create(spark, loc, table, raw(spark, sfDir, table).schema,
      spec.keys, spec.hash, spec.range, data = Some(raw(spark, sfDir, table)),
      nonUniqueKey = spec.nonUnique)
    Files.writeString(fingerprintPath(loc), sourceFingerprint(sfDir, table))
    t
  }

  /** Raw parquet read (what the DuckDB oracle sees). The engine ingests
    * foreign parquet it does not control, so the events table's `ts` column
    * adapts to whatever physical type the file actually carries rather than
    * assuming one: TIMESTAMP(NANOS) loads as LongType (under the legacy
    * conf) and is truncated ns→µs matching DuckDB; a plain µs TIMESTAMP —
    * with or without UTC adjustment — casts directly (the session timezone
    * is UTC, so NTZ→TZ preserves the stored micros). */
  // Memoized PHYSICAL schema per source file identity: parquet schema
  // inference runs a footer-reading Spark job at read() construction time,
  // and raw() is called by nearly every declared query (gate scripts read
  // their fixture source per iteration). The schema is a pure function of
  // the file bytes, so it is keyed on (path, size, mtime) — a driver
  // regenerating the test file mid-run (it happened in round 8) misses the
  // memo and re-infers instead of reading with a stale schema.
  // Bounded (harness sources are a handful of fixture files; a runaway
  // path set must not grow the map forever) and restricted to REGULAR
  // FILES: a directory-shaped parquet source's size/mtime do not reflect
  // part-file rewrites, so memoizing it could serve a stale schema after
  // a regeneration — directories just re-infer.
  private val RawSchemaMemoMax = 256
  private val rawSchemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), StructType]()

  private def rawRead(spark: SparkSession, path: String): DataFrame = {
    val f = new java.io.File(path)
    if (!f.isFile) return spark.read.parquet(path) // dir inputs: no memo
    val key = (f.getAbsolutePath, f.length(), f.lastModified())
    if (rawSchemaMemo.size > RawSchemaMemoMax) rawSchemaMemo.clear()
    val st = rawSchemaMemo.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    spark.read.schema(st).parquet(path)
  }

  def raw(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    if (table == "events") {
      // Lets TIMESTAMP(NANOS) files load (as LongType) instead of throwing;
      // has no effect on µs-typed files.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = rawRead(spark, s"$sfDir/$table.parquet")
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampType => df
        case _ => df.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else rawRead(spark, s"$sfDir/$table.parquet")
  }

  /** Scan through the engine's read path: filters the optimizer pushes
    * down prune hash-bucket/range files from table metadata before any
    * file opens (the V2 scan). */
  def scan(spark: SparkSession, sfDir: String, table: String): DataFrame =
    readonly(spark, sfDir, table).scan()
}
