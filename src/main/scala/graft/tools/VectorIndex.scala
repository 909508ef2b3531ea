package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.HashComponent
import graft.functions.TextFunctions.{dot, l2norm, toDouble}
import graft.table.GraftTable

/**
 * Maintained IVF vector index over an engine table — the build-once /
 * probe-many / refresh-on-mutation ANN posture a 100 TB corpus needs
 * (re-quantizing per query batch is the p13 simulation; an index that the
 * CDC surface keeps current is the production shape).
 *
 * Layout: the index is itself an engine table keyed `(cell, id)` and
 * hash-partitioned on `cell`, holding every source vector L2-normalized in
 * its IVF cell; the frozen centroids live in a sibling engine table (tiny —
 * ~min(√n, 4096) rows, broadcast to every consumer). A probe batch reads
 * the index through the engine's partition pruning: the IN-list over its
 * probed cells prunes whole hash-bucket file groups before any file opens.
 *
 * Refresh rides the engine's own CDC: `changesSince(watermark)` yields the
 * latest state + tombstones of exactly the mutated keys; re-assignment
 * touches only those vectors and commits as ONE atomic transaction
 * (upserts + moved/dead row deletes), with the new source watermark
 * recorded in the index table's properties. Centroids stay frozen between
 * rebuilds — the standard IVF contract (assignment drift is bounded by the
 * mutation rate, and a rebuild is just `build` again).
 *
 * Reference anchors: the scan layer this rides is SURVEY.md S8/P4 (PK-range
 * + hash-bucket pruning); the refresh path is S11 (diff scan) + W9
 * (multi-row transaction).
 */
object VectorIndex {

  val SrcLocKey = "graft.vindex.source"
  val IdColKey = "graft.vindex.idCol"
  val VecColKey = "graft.vindex.vecCol"
  val SrcVersionKey = "graft.vindex.sourceVersion"
  val CentsLocKey = "graft.vindex.centroids"
  val ModulusKey = "graft.vindex.modulus"

  /** (id, v): L2-normalized double vectors — the same expression shape as
    * the pipeline's normalizedVecs, so an index built from the embeddings
    * table reproduces p13's assignment bit-for-bit. Null and zero-norm
    * vectors drop: neither has a direction, so neither has a cell (and
    * normalizing a zero vector would divide by zero). */
  private def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = toDouble(col(vecCol))
    df.filter(col(vecCol).isNotNull && l2norm(v) =!= 0.0)
      .select(col(idCol),
        zip_with(v, array_repeat(l2norm(v), size(v)), (x, n) => x / n).as("v"))
  }

  /** Nearest-centroid cell per vector: max dot, ties to the lowest cell —
    * a map-side-combinable max_by, never a row_number shuffle of the
    * n×cells cross product. Every assignment also carries the row's int8
    * PQ residual code against its winning centroid (65 B/vector with the
    * cell id) — the RAM-resident candidate ranking [[probePq]] reads
    * instead of raw vectors, kept current by the same refresh that moves
    * the row. */
  private def assigned(vecs: DataFrame, idCol: String, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("d", dot(col("v"), col("cv")))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("cell"), col("cv")),
          struct(col("d"), (-col("cell")).cast("double"))).as("best"),
        first(col("v")).as("v"))
      .select(col("best.cell").as("cell"), col(idCol), col("v"),
        graft.functions.TextFunctions.pqCode(col("v"), col("best.cv")).as("code"))

  /**
   * Build the index beside `source` (any engine table with an integral id
   * column and an array vector column) through [[DerivedTables.build]],
   * the one build of every derived kind (marker, pinned source scan,
   * properties in the first commit). Deterministic medoid centroids with
   * the modulus derived from n — M = max(⌈√n⌉, ⌈n/4096⌉) keeps the cell
   * count (≈ n/M) sublinear and the centroid broadcast bounded at any
   * scale. Two engine tables are created: `location` (the index) and
   * `location + "_cents"` (the frozen centroids).
   */
  def build(spark: SparkSession, source: GraftTable, idCol: String,
      vecCol: String, location: String, buckets: Int = 16): GraftTable = {
    val centsLoc = location + "_cents"
    try DerivedTables.build(spark, source, location, SrcLocKey, SrcVersionKey) {
      (m, scan) =>
        require(m.column(idCol).dataType == LongType,
          s"vector index id column must be LONG, got ${m.column(idCol).dataType}")
        val vecs0 = normalized(scan, idCol, vecCol)
        val n = vecs0.count()
        require(n > 0, s"${m.name} has no vectors in $vecCol")
        // The assignment below is the build's dominant term (~n·√n pair
        // dots) and is CPU-bound, so its parallelism must come from the ROW
        // COUNT, not from however many files the source happens to occupy
        // — a small table written as one PK-sorted file would otherwise
        // assign on one core. ~4096 vectors per task, capped at the session
        // width.
        val spreadParts = math.max(1L, math.min(
          spark.conf.get("spark.sql.shuffle.partitions").toInt.toLong,
          math.ceil(n / 4096.0).toLong)).toInt
        val mMod = math.max(1L, math.max(
          math.ceil(math.sqrt(n.toDouble)).toLong,
          math.ceil(n / 4096.0).toLong))
        val cents = vecs0.filter(col(idCol) % mMod === lit(5L % mMod))
          .select(col(idCol).as("cell"), col("v").as("cv"))
        GraftTable.create(spark, centsLoc, s"${m.name}_${vecCol}_cents",
          StructType(Seq(
            StructField("cell", LongType, nullable = false),
            StructField("cv", ArrayType(DoubleType), nullable = true))),
          Seq("cell"), data = Some(cents))
        DerivedTables.Shape(s"${m.name}_${vecCol}_idx",
          StructType(Seq(
            StructField("cell", LongType, nullable = false),
            StructField(idCol, LongType, nullable = false),
            StructField("v", ArrayType(DoubleType), nullable = true),
            StructField("code", BinaryType, nullable = true))),
          Seq("cell", idCol), Seq(HashComponent(Seq("cell"), buckets)),
          assigned(vecs0.repartition(spreadParts), idCol, cents),
          Map(IdColKey -> idCol, VecColKey -> vecCol, CentsLocKey -> centsLoc,
            ModulusKey -> mMod.toString))
    } catch {
      case e: Throwable =>
        // don't strand the centroids of an index that never got created:
        // the cents table is useless without its index
        if (!graft.catalog.TableMeta.exists(location))
          try GraftTable.drop(centsLoc) catch { case _: Throwable => () }
        throw e
    }
  }

  /** The index's frozen centroid frame (cell, cv). */
  def centroids(spark: SparkSession, index: GraftTable): DataFrame =
    GraftTable.load(spark, index.properties(CentsLocKey)).scan()

  /**
   * ANN probe: `queries` is (query_id LONG, qv ARRAY<DOUBLE> normalized);
   * each query ranks the exact dot top-k within its `nProbe` nearest cells.
   * The index scan carries an IN-list over the batch's probed cells, so
   * whole hash buckets prune before any file opens; `assertPrune` turns
   * that into a hard in-query gate (≤ half the index files may open).
   */
  def probe(spark: SparkSession, index: GraftTable, queries: DataFrame,
      nProbe: Int = 2, k: Int = 3, assertPrune: Boolean = false): DataFrame = {
    val idCol = index.properties(IdColKey)
    val cents = centroids(spark, index)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("d").desc, col("cell"))
    val probeCells = queries.crossJoin(broadcast(cents))
      .withColumn("d", dot(col("qv"), col("cv")))
      .withColumn("r", row_number().over(wProbe)).filter(col("r") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    // the probe set is per-query-batch small by construction (queries ×
    // nProbe cells) — the one driver-side collect an index lookup needs
    val cells = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val filters: Seq[org.apache.spark.sql.sources.Filter] =
      Seq(org.apache.spark.sql.sources.In("cell", cells.map(c => c: Any)))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("neighbor_id"))
    index.scanPruned(filters, assertPrune = assertPrune)
      .join(broadcast(probeCells), "cell")
      .filter(col("query_id") =!= col(idCol))
      .withColumn("c", dot(col("qv"), col("v")))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("c"))
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * ADC probe over the stored PQ codes — the RAM-resident path for a
   * 100 TB embedding corpus: the candidate stage reads (cell, id, code)
   * ONLY — 65 B/vector instead of the 512 B raw vector, an 8× I/O and
   * memory cut Spark's column pruning enforces at the parquet scan — and
   * ranks by the integer-exact quantized score `qz·cz + (qz·code)·2^14`
   * (p15's contract: all int64, no float-summation knife edge). The top
   * `k·rerank` survivors per query then load their RAW vectors through a
   * second (cell,id)-semi-joined pruned read and re-rank by exact dot, so
   * the returned top-k differs from [[probe]] only when a true neighbor's
   * quantized score falls outside the survivor set — recall is gated in
   * VectorIndexSpec. Same cell pruning as [[probe]]: the IN-list over the
   * batch's probed cells drops whole hash-bucket file groups; cell choice
   * uses the integer dots too.
   */
  def probePq(spark: SparkSession, index: GraftTable, queries: DataFrame,
      nProbe: Int = 2, k: Int = 3, rerank: Int = 4,
      assertPrune: Boolean = false): DataFrame = {
    val idCol = index.properties(IdColKey)
    val quant = (c: Column) =>
      transform(c, x => floor(x * graft.functions.TextFunctions.QuantScale).cast("long"))
    val idot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)
    val cents = centroids(spark, index).withColumn("cz", quant(col("cv")))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("d").desc, col("cell"))
    // per-(query, cell) quantized frame is tiny (queries × nProbe): the
    // query-centroid dot computes ONCE here and rides the broadcast — the
    // per-candidate hot loop below is only the codegen'd ADC byte dot
    val probeCells = queries.withColumn("qz", quant(col("qv")))
      .crossJoin(broadcast(cents))
      .withColumn("d", idot(col("qz"), col("cz")))
      .withColumn("r", row_number().over(wProbe)).filter(col("r") <= nProbe)
      .select(col("query_id"), col("qv"), col("qz"), col("cell"),
        col("d").as("qc"))
    val cells = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val filters: Seq[org.apache.spark.sql.sources.Filter] =
      Seq(org.apache.spark.sql.sources.In("cell", cells.map(c => c: Any)))
    val topR = math.max(k, k * rerank)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    // candidate stage: codes only — `v` must NOT appear here, so column
    // pruning keeps raw vectors out of the scan (spec-asserted)
    val cand = index.scanPruned(filters, assertPrune = assertPrune)
      .select(col("cell"), col(idCol), col("code"))
      .join(broadcast(probeCells.select("query_id", "qz", "cell", "qc")), "cell")
      .filter(col("query_id") =!= col(idCol))
      .withColumn("score", col("qc") +
        graft.functions.TextFunctions.adcDot(col("qz"), col("code")) * lit(16384L))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("cell"),
        col("score"))
      .withColumn("r", row_number().over(wAdc)).filter(col("r") <= topR)
      .select("query_id", "neighbor_id", "cell")
    if (assertPrune) {
      // the candidate stage's contract: its scan reads the 65 B/vector
      // codes WITHOUT the raw vectors (column pruning reaches the parquet
      // scan). The stage executes eagerly below, so the check lives here
      // where its plan is still visible.
      val schemas = cand.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .linesIterator.filter(_.contains("ReadSchema")).toSeq
      if (!schemas.exists(l => l.contains("code:") && !l.contains("v:array")))
        throw new IllegalStateException(
          s"candidate stage must scan codes without raw vectors:\n" +
            schemas.mkString("\n"))
    }
    // the survivor set is plan-time-sized by construction (≤ queries ×
    // k·rerank rows) — collect it so the re-rank scan below pushes an id
    // IN-list, reading only the survivors' raw vectors (row-group pruning
    // within the probed cells) instead of every raw vector in every probed
    // cell; the collected frame also stops the whole ADC candidate subplan
    // from re-executing inside the re-rank job
    val candRows = cand.collect()
    val candDf = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(candRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(
        cand.schema.fields.map(_.copy(nullable = true)))))
    val survivorIds = candRows.map(_.get(1)).distinct
    val rerankFilters = filters :+ (org.apache.spark.sql.sources.In(idCol,
      survivorIds) : org.apache.spark.sql.sources.Filter)
    // survivors' raw vectors load through a second pruned read (exact
    // key join on the broadcast survivor set) and re-rank by exact dot.
    // scanPruned applies the id IN-list it prunes with, so the one list
    // prunes files (manifest/zone maps inside the probed cells) and row
    // groups inside the surviving files — bounded by the plan-time
    // survivor count.
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("neighbor_id"))
    index.scanPruned(rerankFilters)
      .select(col("cell"), col(idCol).as("neighbor_id"), col("v"))
      .join(candDf, Seq("cell", "neighbor_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))),
        "query_id")
      .withColumn("c", dot(col("qv"), col("v")))
      .select(col("query_id"), col("neighbor_id"), col("c"))
      .withColumn("rank", row_number().over(wRank)).filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /**
   * Incremental refresh through [[DerivedTables.refresh]] (the one refresh
   * path of every derived kind; `maxPruneKeys`/`assertPrune` as there):
   * the mutated ids' vectors re-assign against the frozen centroids, and
   * moved or dead rows tombstone in the same commit. O(changed × cells),
   * never O(index) — the stale rows are the BEFORE-IMAGE cells of the
   * mutated ids, and the index (hash-partitioned on `cell`) cannot be
   * probed by id, so they derive from the SOURCE's watermark snapshot
   * instead. By the maintenance invariant the index at watermark v0 is
   * exactly the deterministic assignment of `source@v0` against the
   * frozen centroids, so re-assigning the changed ids' v0 vectors (a keyed
   * read over the id column — a source keyed on it prunes untouched
   * tablets) reproduces their current index rows bit-for-bit (same
   * expressions, same tie-break). Returns false when the index is already
   * current; an expired watermark means rebuild with [[build]].
   */
  def refresh(spark: SparkSession, index: GraftTable,
      maxPruneKeys: Int = 4096, assertPrune: Boolean = false): Boolean =
    DerivedTables.refresh(spark, index, SrcLocKey, SrcVersionKey,
        maxPruneKeys, assertPrune) { (src, v0, v1) =>
      val p = index.properties
      val idCol = p(IdColKey)
      val vecCol = p(VecColKey)
      val cents = centroids(spark, index)
      val changes = src.changesSince(v0, v1)
        .select(col(idCol), col(vecCol), col(GraftTable.DeletedCol))
      DerivedTables.Derivation(changes, Seq(idCol), readAt = Some(v0)) {
        (changed, oldSrc, bounded) =>
          // latest state of surviving mutated vectors → their (possibly
          // moved) cells; a NULLed-out vector counts as removal
          val fresh = assigned(
            normalized(changed.filter(!col(GraftTable.DeletedCol)), idCol, vecCol),
            idCol, cents)
          // before-image (cell, id) rows the fresh assignment does not
          // re-assert are stale (moved cell, deleted id); upsert already
          // covers re-asserted rows
          val freshKeys = fresh.select(col("cell"), col(idCol))
          (fresh, assigned(normalized(oldSrc, idCol, vecCol), idCol, cents)
            .select(col("cell"), col(idCol))
            .transform(DerivedTables.keyJoin(_, freshKeys, Seq("cell", idCol),
              anti = true, broadcastRight = bounded)))
      }
    }
}
