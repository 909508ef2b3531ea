package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, TableMeta}
import graft.plans.{IndexRewrite, RollupRewrite, ServingRewrites, ServingStats}
import graft.table.GraftTable
import graft.tools.{DerivedTables, MaterializedRollup, SecondaryIndex, VectorIndex}

/** The one derived-table lifecycle: every kind is created whole (source
  * pointer and watermark in its first manifest), every serving kind arms
  * through one session registry, and a failing serve of either kind
  * declines through one handler. */
class DerivedTablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-dt-").toString

  /** (g, k, name): PK (g, k), hash(2) on k. */
  private def mkBase(): GraftTable = {
    val data = (1L to 40L).map(k => (s"g${k % 4}", k, s"n$k"))
      .toDF("g", "k", "name")
    GraftTable.create(spark, tmp(), "dt_base", data.schema, Seq("g", "k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(data))
  }

  test("every kind's first manifest carries its source pointer and watermark") {
    val src = mkBase()
    // a source past v1, so a watermark of 1 could not pass by accident
    src.upsert(Seq(("g1", 1L, "renamed")).toDF("g", "k", "name"))
    val vecSrc = {
      val data = (1L to 40L).map(k => (k, Seq(k.toDouble, (k % 3).toDouble)))
        .toDF("id", "vec")
      GraftTable.create(spark, tmp(), "dt_vec", data.schema, Seq("id"),
        data = Some(data))
    }
    val built = Seq(
      ("plain index", src, SecondaryIndex.build(spark, src, "name", tmp()),
        SecondaryIndex.SrcLocKey, SecondaryIndex.SrcVersionKey),
      ("functional index",
        src, SecondaryIndex.buildExpression(spark, src, "upper(name)", tmp()),
        SecondaryIndex.SrcLocKey, SecondaryIndex.SrcVersionKey),
      ("rollup", src, MaterializedRollup.build(spark, src, Seq("g"),
          Seq("n" -> "count(*)"), tmp(), buckets = 2),
        MaterializedRollup.SrcLocKey, MaterializedRollup.SrcVersionKey),
      ("vector index", vecSrc,
        VectorIndex.build(spark, vecSrc, "id", "vec", tmp() + "/idx", buckets = 2),
        VectorIndex.SrcLocKey, VectorIndex.SrcVersionKey))
    try built.foreach { case (kind, s, d, locKey, versionKey) =>
      assert(d.meta.version == 1L, s"$kind: the build must commit once")
      val p = TableMeta.read(d.location, 1L).propsMap
      assert(p.get(locKey).contains(s.location), s"$kind: $p")
      assert(p.get(versionKey).contains(s.meta.version.toString), s"$kind: $p")
      assert(DerivedTables.watermarkFor(d.location, s.location)
        .contains(s.meta.version), kind)
    } finally built.foreach { case (_, _, d, _, _) =>
      ServingRewrites.disarm(spark, d.location)
    }
  }

  test("one registry: dropping the source removes its rollup and its index on the next read") {
    val src = mkBase()
    val idx = SecondaryIndex.build(spark, src, "name", tmp())
    val roll = MaterializedRollup.build(spark, src, Seq("g"),
      Seq("n" -> "count(*)"), tmp(), buckets = 2)
    assert(ServingRewrites.isArmed(spark, idx.location))
    assert(ServingRewrites.isArmed(spark, roll.location))
    assert(ServingRewrites.armed(spark, IndexRewrite).contains(idx.location))
    assert(ServingRewrites.armed(spark, RollupRewrite).contains(roll.location))
    GraftTable.drop(src.location)
    // one read, by either rule, cleans both entries
    assert(!ServingRewrites.armed(spark, RollupRewrite).contains(roll.location))
    assert(!ServingRewrites.isArmed(spark, idx.location))
    assert(!ServingRewrites.isArmed(spark, roll.location))
  }

  test("an armed rollup with an unreadable manifest declines with one error and the base answers") {
    val src = mkBase()
    def q = src.scan().groupBy("g").agg(count(lit(1)).as("n"))
    val want = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val roll = MaterializedRollup.build(spark, src, Seq("g"),
      Seq("n" -> "count(*)"), tmp(), buckets = 2)
    try {
      assert(ServingRewrites.isArmed(spark, roll.location))
      val vf = Paths.get(roll.location, "_graft", s"v${roll.meta.version}.json")
      Files.writeString(vf, "{ not a manifest")
      // one DataFrame, so the query plans once
      val df = q
      assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == want)
      assert(graft.plans.ScanRoots.filesRead(df.queryExecution.optimizedPlan,
        _.startsWith(roll.location)).isEmpty, "a sick rollup must not serve")
      val c = ServingStats.snapshot(spark).toMap.get(roll.location)
      assert(c.map(_.errorDeclines).contains(1L), c.toString)
      assert(c.forall(_.serves == 0L), c.toString)
    } finally ServingRewrites.disarm(spark, roll.location)
  }

  test("a rollup refresh over a NaN DOUBLE group: the driver path matches the job path") {
    // NaN = NaN as a Spark join, IN or group-by key; -0.0 = 0.0 likewise
    def run(bound: Option[String]): Seq[String] = {
      val data = Seq((Double.NaN, 1L, 10L), (Double.NaN, 2L, 20L), (1.5, 3L, 30L),
        (-0.0, 4L, 40L), (0.0, 5L, 50L)).toDF("g", "k", "v")
      val src = GraftTable.create(spark, tmp(), "dt_nan", data.schema, Seq("g", "k"),
        Seq(HashComponent(Seq("k"), 2)), data = Some(data))
      val roll = MaterializedRollup.build(spark, src, Seq("g"),
        Seq("s" -> "sum(v)", "n" -> "count(*)"), tmp(), buckets = 2)
      try {
        src.upsert(Seq((Double.NaN, 1L, 100L), (0.0, 5L, 500L)).toDF("g", "k", "v"))
        src.delete(Seq((1.5, 3L)).toDF("g", "k"))
        bound.foreach(spark.conf.set("graft.mor.broadcastBytes", _))
        try assert(MaterializedRollup.refresh(spark, roll))
        finally spark.conf.unset("graft.mor.broadcastBytes")
        roll.scan().collect().map(r => s"${r.getDouble(0) + 0.0},${r.get(1)},${r.get(2)}")
          .toSeq.sorted
      } finally ServingRewrites.disarm(spark, roll.location)
    }
    val expected = Seq("0.0,540,2", "NaN,120,2")
    assert(run(None) == expected)
    assert(run(Some("1")) == expected)
  }
}
