package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * ALTER type widening through the column-id remap layer: old files keep
 * their narrow physical type and are cast up at read (the reference forbids
 * type ALTER outright — master.cc AlterTable; this engine supports the
 * lossless direction, the operation a long-lived pipeline needs when a
 * counter outgrows INT32).
 */
class TypeWideningSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-widen-").toString

  private def newTable(rows: (Long, Int)*): GraftTable =
    GraftTable.create(spark, tmp(), "wide",
      StructType(Seq(StructField("id", LongType, false), StructField("n", IntegerType))),
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
      data = Some(rows.toDF("id", "n")))

  private def asMap(t: GraftTable): Map[Long, Long] =
    t.scan().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("widen INT -> BIGINT: old files readable, new writes take wide values") {
    val t = newTable(1L -> 10, 2L -> 20)
    t.widenColumnType("n", LongType)
    assert(t.scan().schema("n").dataType == LongType)
    assert(asMap(t) == Map(1L -> 10L, 2L -> 20L))
    // a value that does not fit in INT32 round-trips through the delta path
    val big = 10_000_000_000L
    t.upsert(Seq((3L, big)).toDF("id", "n"))
    assert(asMap(t) == Map(1L -> 10L, 2L -> 20L, 3L -> big))
    // compaction rewrites everything in the wide physical type
    t.compact()
    assert(asMap(t) == Map(1L -> 10L, 2L -> 20L, 3L -> big))
    assert(t.scan().schema("n").dataType == LongType)
  }

  test("widen is visible through the indexed scan and pruned point lookups") {
    val t = newTable((1L to 20L).map(i => i -> i.toInt * 100): _*)
    t.widenColumnType("n", LongType)
    val hit = t.scan().filter(col("id") === 7L).collect()
    assert(hit.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((7L, 700L)))
  }

  test("mixed generations union: pre-widen base + post-widen delta files") {
    val t = newTable(1L -> 1, 2L -> 2)
    t.widenColumnType("n", LongType)
    t.upsert(Seq((2L, 5_000_000_000L), (3L, 3L)).toDF("id", "n"))
    assert(asMap(t) == Map(1L -> 1L, 2L -> 5_000_000_000L, 3L -> 3L))
    // diff scan across the widen version compares in the new (wide) type
    val ch = t.changes(1L, t.currentVersion)
    val changed = ch.collect().map(r => r.getLong(0)).toSet
    assert(changed == Set(2L, 3L))
  }

  test("decimal precision growth and float->double widen; time travel keeps old type") {
    val t = GraftTable.create(spark, tmp(), "dec",
      StructType(Seq(StructField("id", LongType, false),
        StructField("amt", DecimalType(10, 2)), StructField("x", FloatType))),
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
      data = Some(Seq((1L, BigDecimal("12345678.99"), 1.5f)).toDF("id", "amt", "x")))
    val v1 = t.currentVersion
    t.widenColumnType("amt", DecimalType(28, 4))
    t.widenColumnType("x", DoubleType)
    val row = t.scan().collect().head
    assert(t.scan().schema("amt").dataType == DecimalType(28, 4))
    assert(row.getDecimal(1).toString == "12345678.9900")
    assert(row.getDouble(2) == 1.5)
    // the pre-widen snapshot still reads with the narrow schema
    val old = t.scan(Some(v1))
    assert(old.schema("amt").dataType == DecimalType(10, 2))
    assert(old.schema("x").dataType == FloatType)
  }

  test("rejects narrowing, key/hash columns, and lossy conversions") {
    val t = newTable(1L -> 1)
    intercept[IllegalArgumentException] { t.widenColumnType("n", ShortType) }
    intercept[IllegalArgumentException] { t.widenColumnType("id", StringType) }
    // LONG -> DOUBLE loses precision past 2^53 — not a widening
    t.widenColumnType("n", LongType)
    intercept[IllegalArgumentException] { t.widenColumnType("n", DoubleType) }
    // DECIMAL must not shrink scale or integer digits
    val d = GraftTable.create(spark, tmp(), "dec2",
      StructType(Seq(StructField("id", LongType, false),
        StructField("amt", DecimalType(10, 2)))),
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
      data = Some(Seq((1L, BigDecimal("1.25"))).toDF("id", "amt")))
    intercept[IllegalArgumentException] { d.widenColumnType("amt", DecimalType(12, 5)) }
    d.widenColumnType("amt", DecimalType(12, 4)) // +2 int digits, +2 scale: fine
  }

  test("repeated widening chains prior generations (INT8 -> INT32 -> INT64)") {
    val t = GraftTable.create(spark, tmp(), "chain",
      StructType(Seq(StructField("id", LongType, false), StructField("b", ByteType))),
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 2)),
      data = Some(Seq((1L, 7.toByte)).toDF("id", "b")))
    t.widenColumnType("b", IntegerType)
    t.upsert(Seq((2L, 100000)).toDF("id", "b"))
    t.widenColumnType("b", LongType)
    t.upsert(Seq((3L, 6_000_000_000L)).toDF("id", "b"))
    // three physical generations live side by side in one logical column
    assert(asMapB(t) == Map(1L -> 7L, 2L -> 100000L, 3L -> 6_000_000_000L))
    t.compact()
    assert(asMapB(t) == Map(1L -> 7L, 2L -> 100000L, 3L -> 6_000_000_000L))
  }

  private def asMapB(t: GraftTable): Map[Long, Long] =
    t.scan().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
}
