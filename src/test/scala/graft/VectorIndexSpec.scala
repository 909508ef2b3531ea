package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftTable
import graft.tools.VectorIndex

/**
 * The maintained IVF index: build correctness (probe == exact ranking
 * within the probed cells), the pruning contract, and the CDC-driven
 * incremental refresh (upserts move cells, deletes leave the index, the
 * whole delta commits as ONE transaction version).
 */
class VectorIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Private mutable copy of embeddings + an index over it. */
  private def freshPair(): (GraftTable, GraftTable) = {
    val src = Tables.scratch(spark, dir, "embeddings")
    val root = Files.createTempDirectory("graft-vidx-").toString
    val idx = VectorIndex.build(spark, src, "vec_id", "embedding", root + "/idx")
    (src, idx)
  }

  /** Exact dot ranking within the probed cells, computed independently
    * from the index table itself (the oracle for probe()). */
  private def expectedTopK(idx: GraftTable, queryIds: Seq[Long],
      nProbe: Int, k: Int): Seq[(Long, Long, Int)] = {
    val all = idx.scan().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    val cents = VectorIndex.centroids(spark, idx).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dotp(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    queryIds.flatMap { q =>
      val qv = all.find(_._2 == q).get._3
      val probed = cents.map { case (c, cv) => (c, dotp(qv, cv)) }
        .sortBy { case (c, d) => (-d, c) }.take(nProbe).map(_._1).toSet
      all.filter(r => probed.contains(r._1) && r._2 != q)
        .map(r => (r._2, dotp(qv, r._3)))
        .sortBy { case (id, d) => (-d, id) }.take(k).zipWithIndex
        .map { case ((id, _), i) => (q, id, i + 1) }
    }
  }

  test("zero vectors have no cell: build skips them, a refresh to zeros drops the entry") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vidx0-").toString
    val rows = (0L until 64L).map(i =>
      i -> (if (i == 0L) Seq(0.0, 0.0) else Seq(1.0 + i % 5, 1.0 + i % 7)))
    val df = rows.toDF("id", "vec")
    val src = GraftTable.create(spark, root + "/src", "zsrc", df.schema, Seq("id"),
      data = Some(df))
    val idx = VectorIndex.build(spark, src, "id", "vec", root + "/idx", buckets = 4)
    def ids = idx.scan().select("id").as[Long].collect().toSet
    assert(ids == (1L until 64L).toSet)
    src.upsert(Seq(5L -> Seq(0.0, 0.0)).toDF("id", "vec"))
    assert(VectorIndex.refresh(spark, idx))
    assert(ids == (1L until 64L).toSet - 5L)
  }

  test("probe ranks exactly within probed cells and prunes the index scan") {
    val (_, idx) = freshPair()
    val queries = idx.scan().filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val got = VectorIndex.probe(spark, idx, queries, nProbe = 2, k = 3,
      assertPrune = true) // throws if more than half the files survive
      .orderBy("query_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expectedTopK(idx, Seq(0L, 1L), nProbe = 2, k = 3))
  }

  test("probePq: candidate stage reads codes not vectors; recall gated; refresh keeps codes current") {
    val (src, idx) = freshPair()
    val queries = idx.scan().filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val pq = VectorIndex.probePq(spark, idx, queries, nProbe = 2, k = 3,
      rerank = 4, assertPrune = true)
    val got = pq.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the candidate stage executes eagerly inside probePq (its survivors
    // collect so the re-rank can push them as an IN-list) — its
    // codes-without-vectors ReadSchema contract is checked INSIDE probePq
    // under assertPrune (which this call sets). The returned plan holds
    // the re-rank: it must read `v` without codes, and its scan must
    // carry the pushed survivor id IN-list (round-15 advice: the re-rank
    // previously read every raw vector in every probed cell).
    val ex = pq.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val schemas = ex.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(l => l.contains("v:array") && !l.contains("code:binary")),
      s"re-rank stage must scan raw vectors without codes:\n${schemas.mkString("\n")}")
    val pushed = ex.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(_.contains("In(vec_id")),
      s"re-rank scan must push the survivor id IN-list:\n${pushed.mkString("\n")}")
    // recall vs the exact-within-cells top-k: the exact re-rank of the
    // top-R quantized survivors loses a neighbor only when its ADC score
    // falls outside R — gate well above chance, expect near-1.0
    val want = expectedTopK(idx, Seq(0L, 1L), nProbe = 2, k = 3)
      .map(t => (t._1, t._2)).toSet
    val recall = want.intersect(got).size.toDouble / want.size
    assert(recall >= 0.8, s"recall $recall: got $got want $want")

    // refresh keeps codes current: re-vector a band, refresh, then every
    // index row's stored code must equal the recomputation from its raw
    // vector and its cell's frozen centroid
    import spark.implicits._
    src.upsert(src.scan().filter(col("vec_id") % 11 === 3)
      .withColumn("embedding",
        expr("transform(embedding, x -> cast(-x as float))")))
    src.insert(Seq((2000L, Array.tabulate(64)(d => ((d * 13) % 23 - 11).toFloat)))
      .toDF("vec_id", "embedding"))
    assert(VectorIndex.refresh(spark, idx))
    val cents = VectorIndex.centroids(spark, idx)
      .select(col("cell"), col("cv"))
    val stale = idx.scan().join(cents, "cell")
      .withColumn("want",
        graft.functions.TextFunctions.pqCode(col("v"), col("cv")))
      .filter(!(col("code") <=> col("want")))
    assert(stale.count() == 0,
      s"refresh must keep PQ codes current: ${stale.take(3).mkString(";")}")
    // and the probe still serves post-refresh
    assert(VectorIndex.probePq(spark, idx, queries, nProbe = 2, k = 3)
      .count() == 6)
  }

  test("refresh is incremental: one txn version, moved cells, dead rows gone") {
    val (src, idx) = freshPair()
    val v0 = idx.meta.version
    assert(!VectorIndex.refresh(spark, idx), "current index must no-op")
    assert(idx.meta.version == v0, "a no-op refresh must not commit")

    // mutate the source: re-vector one id (forcing a likely cell move by
    // pointing it AT a centroid), delete another
    val cents = VectorIndex.centroids(spark, idx).collect()
    val targetCell = cents.map(_.getLong(0)).max
    val cv = cents.find(_.getLong(0) == targetCell).get.getSeq[Double](1)
    import spark.implicits._
    val moved = 1L // query vector 1 now sits exactly on targetCell's centroid
    val dead = 7L
    src.upsert(Seq((moved, cv.map(_.toFloat)))
      .toDF("vec_id", "embedding"))
    src.delete(Seq(Tuple1(dead)).toDF("vec_id"))

    val before = idx.meta.version
    assert(VectorIndex.refresh(spark, idx))
    // exactly ONE commit: upserts + deletes + the watermark property all
    // land in one version — a crash can never tear rows from watermark
    assert(idx.meta.version == before + 1,
      s"refresh must commit rows AND watermark as one version, got ${idx.meta.version - before}")

    val rows = idx.scan().collect()
      .map(r => (r.getLong(1), r.getLong(0))).toMap // id -> cell
    assert(!rows.contains(dead), "deleted vector must leave the index")
    assert(rows(moved) == targetCell,
      s"re-vectored id must re-assign to its new cell, got ${rows(moved)}")
    // one index row per live source id — no duplicate (old-cell) residue
    val n = idx.scan().count()
    assert(n == idx.scan().select("vec_id").distinct().count(),
      "a moved vector must not leave its old-cell row behind")
    assert(n == src.scan().count())

    // a second refresh with no new source commits is a no-op again
    assert(!VectorIndex.refresh(spark, idx))
  }

  test("refresh is O(changed): before-image from the pruned v0 source, never the index") {
    val (src, idx) = freshPair()
    import spark.implicits._
    // ONE mutated id: assertPrune hard-gates the before-image derivation —
    // the v0 SOURCE scan (hash(vec_id, 4)) must take the IN-list path and
    // keep ≤ half its files; the index (hash-partitioned on cell,
    // unprunable by id) is never read on the refresh path.
    src.upsert(Seq((2L, Array.tabulate(64)(d => ((d * 11) % 17 - 8).toFloat)))
      .toDF("vec_id", "embedding"))
    assert(VectorIndex.refresh(spark, idx, assertPrune = true))
    // moved/re-asserted: exactly one row per live id survives
    assert(idx.scan().count() == src.scan().count())
    assert(idx.scan().select("vec_id").distinct().count() == idx.scan().count())
    // a delete's before-image row tombstones through the same pruned path
    src.delete(Seq(Tuple1(5L)).toDF("vec_id"))
    assert(VectorIndex.refresh(spark, idx, assertPrune = true))
    assert(idx.scan().filter(col("vec_id") === 5L).count() == 0)
    // a backfill-sized change set refuses the assert (semi-join fallback)
    src.upsert(src.scan().withColumn("embedding",
      expr("transform(embedding, x -> cast(-x as float))")))
    assert(intercept[IllegalStateException] {
      VectorIndex.refresh(spark, idx, maxPruneKeys = 4, assertPrune = true)
    }.getMessage.contains("semi-join"))
    assert(VectorIndex.refresh(spark, idx, maxPruneKeys = 4))
    assert(idx.scan().count() == src.scan().count())
  }

  test("invariant: after any mutation rounds, index == fresh assignment vs frozen centroids") {
    val (src, idx) = freshPair()
    import spark.implicits._
    // 3 deterministic mutation rounds: re-vector a band, delete a band,
    // insert brand-new ids past the original keyspace
    (1 to 3).foreach { round =>
      src.upsert(src.scan().filter(col("vec_id") % 13 === round)
        .withColumn("embedding",
          expr("transform(embedding, x -> cast(-x as float))")))
      src.delete(src.scan().filter(col("vec_id") % 37 === round)
        .select("vec_id"))
      src.insert(Seq((1000L + round, Array.tabulate(64)(d =>
        ((round * 31 + d * 7) % 19 - 9).toFloat))).toDF("vec_id", "embedding"))
      assert(VectorIndex.refresh(spark, idx))
    }
    // ground truth: every CURRENT source vector assigned to its nearest
    // FROZEN centroid (the IVF contract between rebuilds)
    val cents = VectorIndex.centroids(spark, idx).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dotp(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val want = src.scan().collect().map { r =>
      val raw = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(dotp(raw, raw))
      val v = raw.map(_ / n)
      val cell = cents.map { case (c, cv) => (c, dotp(v, cv)) }
        .minBy { case (c, d) => (-d, c) }._1
      r.getLong(0) -> cell
    }.toMap
    val got = idx.scan().collect().map(r => r.getLong(1) -> r.getLong(0)).toMap
    assert(got == want,
      s"diverged on ${got.toSet.diff(want.toSet).take(5)} vs ${want.toSet.diff(got.toSet).take(5)}")
  }

  test("setProperties merges, removes, and survives reload") {
    val loc = Files.createTempDirectory("graft-props-").toString
    import spark.implicits._
    val t = GraftTable.create(spark, loc, "props_t",
      Seq((1L, "a")).toDF("k", "s").schema, Seq("k"),
      data = Some(Seq((1L, "a")).toDF("k", "s")))
    t.setProperties(Map("x" -> Some("1"), "y" -> Some("2")))
    t.setProperties(Map("x" -> Some("3"), "y" -> None, "z" -> Some("4")))
    assert(GraftTable.load(spark, loc).properties == Map("x" -> "3", "z" -> "4"))
    // scans and mutations still work across the files-unchanged versions
    t.upsert(Seq((2L, "b")).toDF("k", "s"))
    assert(t.scan().count() == 2)
  }
}
