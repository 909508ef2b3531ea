package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, RangeBound, RangeComponent}
import graft.sources.PartitionPruner
import graft.table.{GraftTable, PrimaryKeyException}
import graft.SparkTestSession.FilesRead

/**
 * Explicit [lower, upper) range-partition bounds (reference:
 * CreateTableOptions.addRangePartition / AlterTableOptions.java:321-394;
 * common/partition.h:169): unequal-width ranges, non-covered write errors,
 * metadata-time pruning against the bound intervals, and the full
 * drop → re-add lifecycle with seq-aware masking.
 */

class RangeBoundsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-rb-").toString

  // unequal widths on purpose: a wide cold range next to narrow hot ones
  private val bounds = Seq(
    RangeBound("cold", None, Some("1000")),
    RangeBound("mid", Some("1000"), Some("1100")),
    RangeBound("hot", Some("1100"), None))

  private def data(rows: (Int, Long, String)*): DataFrame =
    rows.toDF("id", "ts", "v")

  private def newTable(rows: (Int, Long, String)*): GraftTable =
    GraftTable.create(spark, tmp(), "rb",
      StructType(Seq(StructField("id", IntegerType, false),
        StructField("ts", LongType), StructField("v", StringType))),
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
      range = Some(RangeComponent("ts", "value", bounds = Some(bounds))),
      data = if (rows.isEmpty) None else Some(data(rows: _*)))

  private val rows = Seq(
    (1, 5L, "a"), (2, 999L, "b"),      // cold
    (3, 1000L, "c"), (4, 1050L, "d"),  // mid
    (5, 1100L, "e"), (6, 99999L, "f")) // hot

  test("unequal-width bounds partition the base fileset by interval") {
    val t = newTable(rows: _*)
    val keys = t.meta.baseFiles.flatMap(_.rangeKey).toSet
    assert(keys == Set("cold", "mid", "hot"))
    // every file path carries its range coordinate
    assert(t.meta.baseFiles.forall(f => f.path.contains(s"_r=${f.rangeKey.get}")))
    assert(t.scan().count() == 6)
  }

  test("pruning keeps only files whose interval can satisfy the filters") {
    val t = newTable(rows: _*)
    val m = t.meta
    def prunedKeys(fs: org.apache.spark.sql.sources.Filter*): Set[String] =
      PartitionPruner.pruneFiles(m, m.baseFiles, fs).flatMap(_.rangeKey).toSet
    assert(prunedKeys(GreaterThanOrEqual("ts", 1100L)) == Set("hot"))
    assert(prunedKeys(LessThan("ts", 1000L)) == Set("cold"))
    assert(prunedKeys(EqualTo("ts", 1050L)) == Set("mid"))
    assert(prunedKeys(GreaterThanOrEqual("ts", 1000L), LessThan("ts", 1100L))
      == Set("mid"))
    // unconstrained → everything kept
    assert(prunedKeys() == Set("cold", "mid", "hot"))
    // correctness through the engine read path
    assert(t.scan().filter(col("ts") >= 1100L).count() == 2)
  }

  test("writes into a gap between bounds error as non-covered") {
    val t = GraftTable.create(spark, tmp(), "rb2",
      StructType(Seq(StructField("id", IntegerType, false),
        StructField("ts", LongType), StructField("v", StringType))),
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
      range = Some(RangeComponent("ts", "value", bounds = Some(Seq(
        RangeBound("a", Some("0"), Some("100")),
        RangeBound("b", Some("500"), Some("600")))))),
      data = Some(data((1, 50L, "x"), (2, 550L, "y"))))
    val e = intercept[PrimaryKeyException] { t.upsert(data((3, 200L, "gap"))) }
    assert(e.getMessage.contains("not covered"))
    val e2 = intercept[PrimaryKeyException] { t.upsert(data((4, -1L, "below"))) }
    assert(e2.getMessage.contains("not covered"))
    // the initial load itself is coverage-checked
    intercept[PrimaryKeyException] {
      GraftTable.create(spark, tmp(), "rb3",
        StructType(Seq(StructField("id", IntegerType, false),
          StructField("ts", LongType), StructField("v", StringType))),
        keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
        range = Some(RangeComponent("ts", "value", bounds = Some(Seq(
          RangeBound("a", Some("0"), Some("100")))))),
        data = Some(data((1, 200L, "outside"))))
    }
  }

  test("drop by bounds → masked + non-covered; re-add restores writes") {
    val t = newTable(rows: _*)
    // a delta row in mid BEFORE the drop must die with the range
    t.upsert(data((7, 1075L, "pre-drop")))
    assert(t.scan().count() == 7)
    t.dropRangeBound("mid")
    // base files of mid left the fileset without being read
    assert(t.meta.baseFiles.flatMap(_.rangeKey).toSet == Set("cold", "hot"))
    // both the base rows (3, 4) and the pre-drop delta row (7) are gone
    assert(t.scan().select("id").collect().map(_.getInt(0)).toSet
      == Set(1, 2, 5, 6))
    // the interval is non-covered now
    val e = intercept[PrimaryKeyException] { t.upsert(data((8, 1050L, "z"))) }
    assert(e.getMessage.contains("not covered"))
    // re-add (narrower is fine) and write again
    t.addRangeBound("mid2", Some("1000"), Some("1100"))
    t.upsert(data((8, 1050L, "z")))
    assert(t.scan().select("id").collect().map(_.getInt(0)).toSet
      == Set(1, 2, 5, 6, 8))
    // pre-drop rows stay dead after the re-add (seq-aware mask)...
    assert(!t.scan().select("id").collect().map(_.getInt(0)).contains(7))
    // ...and compaction makes the drop physical without changing results
    t.compact()
    assert(t.scan().select("id").collect().map(_.getInt(0)).toSet
      == Set(1, 2, 5, 6, 8))
  }

  test("overlapping or empty bounds are rejected") {
    val t = newTable(rows: _*)
    intercept[IllegalArgumentException] {
      t.addRangeBound("clash", Some("500"), Some("1500")) // overlaps cold+mid+hot
    }
    t.dropRangeBound("hot")
    intercept[IllegalArgumentException] {
      t.addRangeBound("empty", Some("2000"), Some("2000"))
    }
    // a *different* non-overlapping re-cover works
    t.addRangeBound("hot2", Some("5000"), None)
    t.upsert(data((9, 6000L, "ok")))
    intercept[PrimaryKeyException] { t.upsert(data((10, 1200L, "gap"))) }
  }

  test("multi-column (month, tenant) range: tuple bounds partition, prune, cover") {
    // (month, tenant) time-series key: composite lexicographic bounds
    // (common/partition.h:169; PartitionSchemaPB common/common.proto:355-398)
    def mk(loc: String, rows: Seq[(Int, String, Int, String)]): GraftTable =
      GraftTable.create(spark, loc, "mt",
        StructType(Seq(StructField("id", IntegerType, false),
          StructField("month", StringType), StructField("tenant", IntegerType),
          StructField("v", StringType))),
        keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
        range = Some(RangeComponent("month", "value",
          moreCols = Some(Seq("tenant")),
          bounds = Some(Seq(
            RangeBound("m1_small", None, None,
              lowers = Some(Seq("2024-01", "0")), uppers = Some(Seq("2024-01", "100"))),
            RangeBound("m1_big", None, None,
              lowers = Some(Seq("2024-01", "100")), uppers = Some(Seq("2024-02", "0"))),
            RangeBound("m2", None, None,
              lowers = Some(Seq("2024-02", "0")), uppers = Some(Seq("2024-03", "0"))))))),
        data = if (rows.isEmpty) None else Some(rows.toDF("id", "month", "tenant", "v")))
    val t = mk(tmp(), Seq(
      (1, "2024-01", 5, "a"), (2, "2024-01", 99, "b"),   // m1_small
      (3, "2024-01", 150, "c"),                          // m1_big
      (4, "2024-02", 7, "d"), (5, "2024-02", 9000, "e")))// m2
    // tuple-lexicographic routing to file coordinates
    val byKey = t.meta.baseFiles.flatMap(_.rangeKey).toSet
    assert(byKey == Set("m1_small", "m1_big", "m2"))
    assert(t.meta.baseFiles.forall(f => f.path.contains(s"_r=${f.rangeKey.get}")))
    // first-column pruning against file paths: month='2024-02' cannot live
    // in m1_small ([.., (2024-01,100)) has closed first-col upper 2024-01)
    // judge the RANGE-BOUND pruner in isolation (zone maps stripped): the
    // closed first-col upper keeps m1_big conservatively at the range level
    val m0 = t.meta
    val m = m0.copy(baseFiles = m0.baseFiles.map(_.copy(
      colLo = None, colHi = None, colNulls = None)))
    def prunedKeys(fs: org.apache.spark.sql.sources.Filter*): Set[String] =
      PartitionPruner.pruneFiles(m, m.baseFiles, fs).flatMap(_.rangeKey).toSet
    assert(prunedKeys(EqualTo("month", "2024-02")) == Set("m1_big", "m2"))
    assert(prunedKeys(LessThan("month", "2024-01")) == Set())
    assert(prunedKeys(GreaterThanOrEqual("month", "2024-02")) == Set("m1_big", "m2"))
    // with zone maps on, m1_big's single 2024-01 row provably excludes it
    assert(PartitionPruner.pruneFiles(m0, m0.baseFiles,
      Seq(EqualTo("month", "2024-02"))).flatMap(_.rangeKey).toSet == Set("m2"))
    // engine read path agrees
    assert(t.scan().filter(col("month") === "2024-01").count() == 3)
    assert(t.scanPruned(Seq(EqualTo("month", "2024-02"))).filesRead.length
      <= m.baseFiles.count(f => Set("m1_big", "m2").contains(f.rangeKey.get)))
    // non-covered tuple writes error: before every bound / after every bound
    val bad1 = Seq((9, "2023-12", 5, "early")).toDF("id", "month", "tenant", "v")
    val e1 = intercept[PrimaryKeyException] { t.upsert(bad1) }
    assert(e1.getMessage.contains("not covered"))
    val bad2 = Seq((9, "2024-03", 0, "late")).toDF("id", "month", "tenant", "v")
    intercept[PrimaryKeyException] { t.upsert(bad2) }
    // covered writes land in the right partition
    t.upsert(Seq((6, "2024-01", 100, "edge")).toDF("id", "month", "tenant", "v"))
    assert(t.scan().filter(col("id") === 6).select("v").as[String].head() == "edge")
    // drop a tuple bound: rows die, interval non-covered, tuple re-add works
    t.dropRangeBound("m1_big")
    assert(t.scan().select("id").collect().map(_.getInt(0)).toSet == Set(1, 2, 4, 5))
    intercept[PrimaryKeyException] {
      t.upsert(Seq((7, "2024-01", 200, "x")).toDF("id", "month", "tenant", "v"))
    }
    t.addRangeBoundT("m1_big2",
      Some(Seq("2024-01", "100")), Some(Seq("2024-02", "0")))
    t.upsert(Seq((7, "2024-01", 200, "x")).toDF("id", "month", "tenant", "v"))
    assert(t.scan().select("id").collect().map(_.getInt(0)).toSet == Set(1, 2, 4, 5, 7))
    // overlapping tuple bound rejected; arity mismatch rejected
    intercept[IllegalArgumentException] {
      t.addRangeBoundT("clash", Some(Seq("2024-01", "50")), Some(Seq("2024-01", "60")))
    }
    intercept[IllegalArgumentException] {
      t.addRangeBoundT("badarity", Some(Seq("2024-05")), Some(Seq("2024-06")))
    }
    // multi-column components refuse granularity mode at create
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), "mtg",
        StructType(Seq(StructField("id", IntegerType, false),
          StructField("month", StringType), StructField("tenant", IntegerType))),
        keys = Seq("id"),
        range = Some(RangeComponent("month", "value", moreCols = Some(Seq("tenant")))))
    }
  }

  test("timestamp-typed bounds compare in the column's own domain") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val t = GraftTable.create(spark, tmp(), "rbt",
      StructType(Seq(StructField("id", IntegerType, false),
        StructField("d", TimestampType), StructField("v", StringType))),
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
      range = Some(RangeComponent("d", "value", bounds = Some(Seq(
        RangeBound("ancient", None, Some("1996-01-01 00:00:00")),
        RangeBound("modern", Some("1996-01-01 00:00:00"), None))))),
      data = Some(Seq(
        (1, ts("1995-06-01 12:00:00"), "old"),
        (2, ts("1996-01-01 00:00:00"), "boundary"),
        (3, ts("2001-07-04 08:30:00"), "new")).toDF("id", "d", "v")))
    val byKey = t.meta.baseFiles.flatMap(_.rangeKey).toSet
    assert(byKey == Set("ancient", "modern"))
    val m = t.meta
    val kept = PartitionPruner.pruneFiles(m, m.baseFiles,
      Seq(LessThan("d", ts("1996-01-01 00:00:00")))).flatMap(_.rangeKey).toSet
    assert(kept == Set("ancient"))
    // boundary row landed on the inclusive-lower side
    assert(t.scan().filter(col("id") === 2).count() == 1)
    t.dropRangeBound("ancient")
    assert(t.scan().select("id").collect().map(_.getInt(0)).toSet == Set(2, 3))
  }
}
