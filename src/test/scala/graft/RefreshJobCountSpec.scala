package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable
import graft.tools.{MaterializedRollup, SecondaryIndex, VectorIndex}

/** Job-count guard for the incremental refresh of all three derived-table
  * kinds. One source carries a secondary index, a rollup and a vector
  * index; each refresh call's Spark jobs and stages are counted through
  * a listener and must stay at or under the floors last measured (a
  * one-row fast-path window, the first refresh after build, a window
  * spanning a tail merge — still the fast path — and a window spanning a
  * compaction — the snapshot-diff path). */
class RefreshJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Spark (jobs, stages) `body` starts ([[TaggedJobs]]). */
  private def jobs(body: => Boolean): (Int, Int) = {
    val (n, refreshed) = TaggedJobs.count(spark)(body)
    assert(refreshed, "the window must refresh")
    n
  }

  test("refresh job counts stay at or under the recorded floors for every kind") {
    val dir = Files.createTempDirectory("graft-rjc-").toString
    val schema = StructType(Seq(
      StructField("g", IntegerType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("v", StringType),
      StructField("x", DoubleType),
      StructField("emb", ArrayType(FloatType, containsNull = true))))
    def rows(ids: Seq[Long], salt: Int) = spark.createDataFrame(
      java.util.Arrays.asList(ids.map { i =>
        Row((i % 8).toInt, i, s"v${i}_$salt", i.toDouble + salt,
          Seq(i % 7 + 1f, i % 5 + salt.toFloat, i % 3 + 1f, 1f))
      }: _*), schema)
    spark.conf.set("graft.maintain.auto", "false")
    val (src, sidx, roll, vidx) =
      try {
        val src = GraftTable.create(spark, s"$dir/src", "rjc_src", schema,
          Seq("g", "id"), hash = Seq(HashComponent(Seq("id"), 4)),
          data = Some(rows(1L to 400L, 0)))
        (src,
          SecondaryIndex.build(spark, src, "v", s"$dir/sidx", 4),
          MaterializedRollup.build(spark, src, Seq("g"),
            Seq("n" -> "count(*)", "sx" -> "sum(x)"), s"$dir/roll", 4),
          VectorIndex.build(spark, src, "id", "emb", s"$dir/vidx", 4))
      } finally spark.conf.unset("graft.maintain.auto")
    def refreshAll(): Seq[(Int, Int)] = Seq(
      jobs(SecondaryIndex.refresh(spark, sidx)),
      jobs(MaterializedRollup.refresh(spark, roll)),
      jobs(VectorIndex.refresh(spark, vidx)))

    src.upsert(rows(Seq(11L), 1))
    val first = refreshAll()
    src.upsert(rows(Seq(12L), 2))
    val steady = refreshAll()
    // a tail merge folds the window's delta file together with the ones
    // before it: the refresh stays on the delta fast path
    src.upsert(rows(Seq(14L), 4))
    assert(src.mergeTailDeltas())
    val merged = refreshAll()
    src.upsert(rows(Seq(13L), 3))
    src.compact()
    val compacted = refreshAll()
    info(s"(jobs, stages) (sindex, rollup, vindex): first $first, steady $steady, " +
      s"across a tail merge $merged, across compaction $compacted")

    // floors as (jobs, stages) per kind (sindex, rollup, vindex)
    def within(got: Seq[(Int, Int)], floor: Seq[(Int, Int)], what: String) =
      assert(got.zip(floor).forall { case ((j, s), (fj, fs)) => j <= fj && s <= fs },
        s"$what refresh (jobs, stages) (sindex, rollup, vindex) $got exceed $floor")
    // a fast-path window within the driver bound reads, folds and joins
    // on the driver: the secondary index runs no job; the rollup's
    // aggregate (one single-partition stage, collected once) and the
    // vector index's centroid assignment still do
    val fastPath = Seq((0, 0), (1, 1), (3, 6))
    within(first, fastPath, "first")
    within(steady, fastPath, "steady-state fast-path")
    within(merged, fastPath, "across-a-tail-merge")
    within(compacted, Seq((4, 4), (6, 6), (7, 10)), "across-compaction")

    // the guarded refreshes stayed exact: each derived table equals a
    // rebuild from the current source
    val live = src.scan().collect().map(r => r.getLong(1) -> r.getString(2)).toMap
    assert(sidx.scan().collect().map(r => r.getLong(2) -> r.getString(0)).toMap == live)
    assert(roll.scan().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      live.keys.groupBy(i => (i % 8).toInt).map { case (g, ids) => g -> ids.size.toLong })
    assert(vidx.scan().count() == live.size)
  }
}
