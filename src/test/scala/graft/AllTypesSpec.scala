package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * Per-type roundtrip + predicate sweep, mirroring the reference's
 * all_types-scan-correctness-test.cc (FIXTURES.md `all_types`): every
 * client-visible type from SURVEY.md §1.2 stored, scanned back, and
 * predicate-filtered.
 */
class AllTypesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("id", LongType, false),
    StructField("c_bool", BooleanType),
    StructField("c_i8", ByteType),
    StructField("c_i16", ShortType),
    StructField("c_i32", IntegerType),
    StructField("c_i64", LongType),
    StructField("c_float", FloatType),
    StructField("c_double", DoubleType),
    StructField("c_dec", DecimalType(18, 4)),
    StructField("c_str", StringType),
    StructField("c_bin", BinaryType),
    StructField("c_ts", TimestampType),
    StructField("c_date", DateType),
    StructField("c_arr_i32", ArrayType(IntegerType)),
    StructField("c_arr_str", ArrayType(StringType))))

  private def row(i: Long): Row = {
    if (i % 7 == 0)
      Row(i, null, null, null, null, null, null, null, null, null, null, null, null, null, null)
    else Row(i, i % 2 == 0, (i % 127).toByte, (i % 32000).toShort, i.toInt, i * 1000L,
      i.toFloat / 3f, i.toDouble / 7d, new java.math.BigDecimal(i).movePointLeft(2),
      s"s$i", Array[Byte](i.toByte, (i + 1).toByte),
      new Timestamp(1700000000000L + i * 1000), new Date(1700000000000L + i * 86400000L),
      Seq(i.toInt, i.toInt + 1), Seq(s"a$i", s"b$i"))
  }

  test("all types roundtrip through create/scan/upsert with predicates") {
    val data = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 100L).map(row)), schema)
    val loc = Files.createTempDirectory("graft-alltypes-").toString
    val t = GraftTable.create(spark, loc, "all_types", schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), data = Some(data))
    assert(t.scan().count() == 100)
    // type fidelity
    assert(t.scan().schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // per-type predicates (P1/P2/P3/P4/P7 analogs)
    assert(t.scan().filter(col("c_bool") === true).count() ==
      (1L to 100L).count(i => i % 7 != 0 && i % 2 == 0))
    assert(t.scan().filter(col("c_i32") >= 50 && col("c_i32") < 60).count() ==
      (50L until 60L).count(_ % 7 != 0))
    assert(t.scan().filter(col("c_str").isNull).count() == (1L to 100L).count(_ % 7 == 0))
    assert(t.scan().filter(col("c_str").isin("s3", "s4", "s7")).count() == 2) // s7 is null row? 7%7==0 → null
    assert(t.scan().filter(col("c_str").startsWith("s1")).count() ==
      (1L to 100L).count(i => i % 7 != 0 && i.toString.startsWith("1")))
    assert(t.scan().filter(col("c_dec") > new java.math.BigDecimal("0.50")).count() ==
      (1L to 100L).count(i => i % 7 != 0 && i > 50))
    assert(t.scan().filter(array_contains(col("c_arr_i32"), 11)).count() ==
      (1L to 100L).count(i => i % 7 != 0 && (i == 10 || i == 11)))
    // mutation on typed row
    t.upsert(spark.createDataFrame(spark.sparkContext.parallelize(Seq(row(200L))), schema))
    assert(t.scan().count() == 101)
    assert(t.scan().filter(col("id") === 200).count() == 1)
  }

  test("decimal PRIMARY KEY: full mutate/compact/V2 lifecycle") {
    // decimal(<=18) lead keys carry the unscaled-long bound encoding —
    // exercise the whole path: create, upsert, delete, point predicate,
    // forced-spill V2 read (interval routing), compact, DSv1/V2 equality.
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-decpk-").toString
    def d(s: String) = new java.math.BigDecimal(s)
    val df = (1 to 200).map(i => (i, s"v$i")).toDF("i", "v")
      .select((col("i").cast("decimal(10,2)") / 4).cast("decimal(10,2)").as("k"), col("v"))
    val t = GraftTable.create(spark, s"$wh/dp", "dp", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert(Seq((d("0.25"), "up"), (d("999.99"), "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(d("0.50"))).toDF("k"))
    def state(dfr: org.apache.spark.sql.DataFrame) =
      dfr.collect().map(r => r.getDecimal(0) -> r.getString(1)).toMap
    val expect = state(t.scan())
    assert(expect.size == 200 && expect(d("0.25")) == "up" &&
      expect(d("999.99")) == "new" && !expect.contains(d("0.50")))
    // point predicate prunes and answers exactly
    assert(t.scan().filter(col("k") === d("0.25")).count() == 1)
    // forced-spill V2 read equals DSv1
    spark.conf.set("spark.sql.catalog.gdp", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdp.warehouse", wh)
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try assert(state(spark.table("gdp.dp")) == expect)
    finally spark.conf.unset("graft.mor.broadcastBytes")
    // compact and re-check both paths
    t.compact()
    assert(state(t.scan()) == expect)
    assert(state(spark.table("gdp.dp")) == expect)
  }

  test("non-null array elements and map values: created tables read back") {
    // toDF records array<float> without null elements and map<string,int>
    // without null values; every parquet read yields the nullable forms,
    // so the manifest must record those or no read can cast back
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-nested-").toString
    val df = (1L to 20L).map(i => (i, Array(i.toFloat, 1f), Map(s"k$i" -> i.toInt)))
      .toDF("id", "vec", "tags")
    assert(!df.schema("vec").dataType.asInstanceOf[ArrayType].containsNull)
    assert(!df.schema("tags").dataType.asInstanceOf[MapType].valueContainsNull)
    val t = GraftTable.create(spark, s"$wh/nested", "nested", df.schema,
      Seq("id"), Seq(HashComponent(Seq("id"), 2)), data = Some(df))
    def state(dfr: org.apache.spark.sql.DataFrame) =
      dfr.collect().map(r => r.getLong(0) ->
        ((r.getSeq[Float](1), r.getMap[String, Int](2).toMap))).toMap
    val built = (1L to 20L).map(i =>
      i -> ((Seq(i.toFloat, 1f), Map(s"k$i" -> i.toInt)))).toMap
    assert(state(t.scan()) == built)
    t.upsert(Seq((3L, Array(9f), Map("up" -> 3))).toDF("id", "vec", "tags"))
    val expect = built + (3L -> ((Seq(9f), Map("up" -> 3))))
    assert(state(t.scan()) == expect)
    spark.conf.set("spark.sql.catalog.gnest", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnest.warehouse", wh)
    assert(state(spark.sql("SELECT id, vec, tags FROM gnest.nested")) == expect)
  }
}
