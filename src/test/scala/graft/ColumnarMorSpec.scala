package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * Columnar merge-on-read (S13 under mutation): a delta-carrying table read
 * through the V2 catalog must still serve vectorized ColumnarBatches — the
 * reference never leaves its columnar RowBlocks to apply deltas
 * (tablet/delta_applier.h). Clean routes (no delta row computes their
 * route) pass the stock vectorized parquet reader through untouched;
 * dirty routes probe the broadcast dead set per batch and append their
 * upserts as a final batch. Spark forbids mixing row and columnar splits
 * in one scan, so every case asserts BOTH the plan shape (ColumnarToRow
 * above the scan) and exactness against the DSv1 scan.
 */
class ColumnarMorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def stateOf(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def assertColumnar(df: org.apache.spark.sql.DataFrame): Unit = {
    // Drive THIS queryExecution to its final AQE plan (df.count() would
    // execute a different one), then read the formatted explain — stage
    // internals (incl. the ColumnarToRow transition) only show there.
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("ColumnarToRow"),
      s"expected a columnar scan under the MOR overlay:\n$plan")
  }

  /** The same V2 read served by the ROW overlay readers
    * (`graft.mor.columnar=false`) — the reference the columnar readers
    * must agree with, checked on every delta transport. */
  private def rowStateOf(table: String): Map[Long, String] = {
    spark.conf.set("graft.mor.columnar", "false")
    try {
      val df = spark.table(table)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("ColumnarToRow"),
        s"graft.mor.columnar=false must serve rows:\n$plan")
      stateOf(df)
    } finally spark.conf.unset("graft.mor.columnar")
  }

  /** The reader factory of a fresh V2 scan over `t`, with the scan's own
    * transport counters proving the broadcast overlay was chosen. */
  private def broadcastFactory(t: GraftTable)
      : graft.sources.v2.MorOverlayReaderFactory = {
    val scan = new graft.sources.v2.GraftV2Scan(t.meta, t.scan().schema, Array.empty)
    val fac = scan.createReaderFactory()
    val m = scan.reportDriverMetrics().map(c => c.name() -> c.value()).toMap
    import graft.sources.v2.GraftV2Scan.{DeltasAttached, DeltasBroadcast, DeltasSpilled}
    assert(m(DeltasBroadcast) > 0 && m(DeltasAttached) == 0 &&
      m(DeltasSpilled) == 0, s"expected the broadcast transport: $m")
    fac match {
      case f: graft.sources.v2.MorOverlayReaderFactory => f
      case other => fail(s"expected the merge-on-read overlay factory: $other")
    }
  }

  test("a dirty batch keeps its surviving rows' nulls") {
    // one bucket, so the upsert's key dirties the batch every base row is in
    val wh = Files.createTempDirectory("graft-cm-null-").toString
    val df = (1 to 20).map(i => (i.toLong, if (i % 3 == 0) null else s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/n", "n", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 1)), data = Some(df))
    t.upsert(Seq((1L, "u1")).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.gcmn", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcmn.warehouse", wh)
    assertColumnar(spark.table("gcmn.n"))
    val want = (1 to 20).map(i => i.toLong ->
      (if (i == 1) "u1" else if (i % 3 == 0) null else s"a$i")).toMap
    assert(stateOf(spark.table("gcmn.n")) == want)
    assert(rowStateOf("gcmn.n") == want)
  }

  test("delta-carrying hash table serves columnar batches, matches DSv1") {
    val wh = Files.createTempDirectory("graft-cmor1-").toString
    val df = (1 to 400).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/c1", "c1", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 50).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete((390 to 400).map(i => Tuple1(i.toLong)).toDF("k"))
    t.upsert(Seq((900L, "new")).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.gcm1", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm1.warehouse", wh)
    val v2df = spark.table("gcm1.c1")
    assertColumnar(v2df)
    val v2 = stateOf(v2df)
    assert(v2 == stateOf(t.scan()))
    assert(v2.size == 390 && v2(1L) == "u1" && v2(200L) == "a200" &&
      v2(900L) == "new" && !v2.contains(395L))
    assert(rowStateOf("gcm1.c1") == stateOf(t.scan()))
  }

  test("key-pruning projection (identity=false) stays columnar and exact") {
    val wh = Files.createTempDirectory("graft-cmor2-").toString
    val df = (1 to 300).map(i => (i.toLong, s"p$i", i * 10)).toDF("k", "v", "amt")
    val t = GraftTable.create(spark, s"$wh/c2", "c2", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert(Seq((1L, "p1", 100000), (2L, "p2", 200000)).toDF("k", "v", "amt"))
    t.delete(Seq(Tuple1(3L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gcm2", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm2.warehouse", wh)
    // the projection drops the key column: the overlay re-adds it
    // internally, probes, and re-projects batches down to (amt)
    val proj = spark.table("gcm2.c2").select(col("amt"))
    assertColumnar(proj)
    val total = proj.agg(sum("amt")).collect()(0).getLong(0)
    // base 1..300 minus deleted 3, with amt overrides for keys 1 and 2
    val expected = (1 to 300).filterNot(_ == 3).map(_ * 10L).sum -
      10L - 20L + 100000L + 200000L
    assert(total == expected)
  }

  test("unpartitioned layout: single dirty route still serves columnar") {
    val wh = Files.createTempDirectory("graft-cmor3-").toString
    val df = (1 to 60).map(i => (i.toLong, s"f$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/c3", "c3", df.schema, Seq("k"),
      hash = Nil, data = Some(df))
    t.upsert(Seq((1L, "u"), (500L, "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(7L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gcm3", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm3.warehouse", wh)
    val v2df = spark.table("gcm3.c3")
    assertColumnar(v2df)
    val v2 = stateOf(v2df)
    assert(v2 == stateOf(t.scan()))
    assert(v2.size == 60 && v2(1L) == "u" && v2(500L) == "new" && !v2.contains(7L))
  }

  test("per-range hash overrides (route not key-derivable) stay columnar-exact") {
    val wh = Files.createTempDirectory("graft-cmor4-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 100).map(i => (i.toLong, ts(1995 + i % 2), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/c4", "c4", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    t.dropRangePartition("1996")
    t.addRangePartition("1996", hashBuckets = Some(4))
    t.upsert((1 to 100).filter(_ % 2 == 1).map(i => (i.toLong, ts(1996), s"n$i"))
      .toDF("id", "d", "v"))
    t.compact()
    t.upsert(Seq((2L, ts(1995), "u95"), (1L, ts(1996), "u96"))
      .toDF("id", "d", "v"))
    t.delete(Seq(Tuple1(4L)).toDF("id"))
    spark.conf.set("spark.sql.catalog.gcm4", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm4.warehouse", wh)
    val v2df = spark.table("gcm4.c4")
    assertColumnar(v2df)
    val v2 = v2df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val v1 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v2 == v1)
    assert(v2(2L) == "u95" && v2(1L) == "u96" && !v2.contains(4L))
  }

  test("shuffle-spill overlay (past the broadcast bound) serves columnar") {
    val wh = Files.createTempDirectory("graft-cmor6-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/c6", "c6", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 60).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete(Seq(Tuple1(190L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gcm6", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm6.warehouse", wh)
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try {
      val v2df = spark.table("gcm6.c6")
      assertColumnar(v2df)
      val v2 = stateOf(v2df)
      assert(v2 == stateOf(t.scan()))
      assert(v2.size == 199 && v2(1L) == "u1" && !v2.contains(190L))
      assert(rowStateOf("gcm6.c6") == stateOf(t.scan()))
    } finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  test("routed-flush attachment (per-tablet delta files) serves columnar") {
    val wh = Files.createTempDirectory("graft-cmor7-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/c7", "c7", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 40).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete(Seq(Tuple1(150L)).toDF("k"))
    t.compactDeltas() // flush: deltas become per-tablet routed files
    t.upsert(Seq((2L, "tail")).toDF("k", "v")) // unflushed tail on top
    spark.conf.set("spark.sql.catalog.gcm7", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm7.warehouse", wh)
    val v2df = spark.table("gcm7.c7")
    assertColumnar(v2df)
    val v2 = stateOf(v2df)
    assert(v2 == stateOf(t.scan()))
    assert(v2.size == 199 && v2(1L) == "u1" && v2(2L) == "tail" &&
      !v2.contains(150L))
    assert(rowStateOf("gcm7.c7") == stateOf(t.scan()))
  }

  test("every atomic type survives the dirty-batch copy and upsert batch") {
    val wh = Files.createTempDirectory("graft-cmor8-").toString
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, false),
      StructField("s", StringType),
      StructField("i", IntegerType),
      StructField("sh", ShortType),
      StructField("by", ByteType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("dec", DecimalType(12, 2)),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("bool", BooleanType),
      StructField("bin", BinaryType)))
    def row(i: Int, tag: String) = org.apache.spark.sql.Row(
      i.toLong, if (i % 7 == 0) null else s"$tag$i", i, (i % 100).toShort,
      (i % 50).toByte, i * 1.5f, i * 2.5, BigDecimal(i).setScale(2),
      java.sql.Date.valueOf(s"2020-01-${i % 28 + 1}"),
      java.sql.Timestamp.valueOf(s"2020-06-01 00:00:${i % 60}"),
      i % 2 == 0, Array.fill(3)(i.toByte))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((1 to 120).map(row(_, "a"))), schema)
    val t = GraftTable.create(spark, s"$wh/c8", "c8", schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    // dirty every tablet: upserts rewrite some rows (exercising the
    // survivor-copy path AND the upsert batch), deletes kill others
    t.upsert(spark.createDataFrame(
      spark.sparkContext.parallelize((1 to 30).map(row(_, "u"))), schema))
    t.delete((100 to 110).map(i => Tuple1(i.toLong)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gcm8", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm8.warehouse", wh)
    val v2df = spark.table("gcm8.c8")
    assertColumnar(v2df)
    def keyed(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map { r =>
        r.getLong(0) -> r.toSeq.drop(1).map {
          case b: Array[Byte] => b.toSeq.toString
          case v => String.valueOf(v)
        }.mkString("|")
      }.toMap
    val v2 = keyed(v2df)
    val v1 = keyed(t.scan())
    assert(v2 == v1, "columnar MOR must be value-identical across all types")
    assert(v2.size == 109 && v2(1L).startsWith("u1|") && !v2.contains(105L))
    assert(v2(7L).startsWith("null|")) // null string survives the copy
  }

  test("a fully-superseded tablet emits only its upserts; others pass clean") {
    val wh = Files.createTempDirectory("graft-cmor5-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/c5", "c5", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    // kill or rewrite EVERY key of bucket pmod(hash(k),4)==route-of-1, by
    // deleting all keys that share key 1's bucket
    val bucketOf = t.scan().select(col("k"),
      graft.table.GraftTable.bucketExpr(t.meta,
        n => col(n)).as("b")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val hot = bucketOf(1L)
    val victims = bucketOf.collect { case (k, b) if b == hot => k }.toSeq
    t.delete(victims.map(Tuple1(_)).toDF("k"))
    t.upsert(Seq((1L, "revived")).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.gcm5", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm5.warehouse", wh)
    val v2df = spark.table("gcm5.c5")
    assertColumnar(v2df)
    val v2 = stateOf(v2df)
    assert(v2 == stateOf(t.scan()))
    assert(v2.size == 200 - victims.size + 1 && v2(1L) == "revived")
    victims.filterNot(_ == 1L).foreach(k => assert(!v2.contains(k)))
    // the untouched buckets are CLEAN: their splits take the bare
    // pass-through reader (no probe, no key re-add). Asserted on the
    // factory itself — the pass-through has no observable plan shape.
    val clean = broadcastFactory(t).columnar.get.clean
    assert(clean == (0 until 4).map(_.toString).toSet - hot.toString,
      s"expected all buckets but $hot clean, got $clean")
  }

  test("type outside the columnar writer's set falls back to row overlay") {
    // ANSI intervals decode vectorized in the stock parquet reader, but
    // MorColumnarReader.set cannot WRITE them back into an
    // OnHeapColumnVector — the gate must answer supportColumnarReads=false
    // up front, not throw UnsupportedOperationException mid-scan on the
    // first dirty route.
    val wh = Files.createTempDirectory("graft-cmor9-").toString
    val df = (1 to 120).map(i => (i.toLong, s"x$i")).toDF("k", "v")
      .withColumn("dur", expr("make_dt_interval(0, 0, 0, k)"))
    val t = GraftTable.create(spark, s"$wh/c9", "c9", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert(Seq((1L, "up")).toDF("k", "v")
      .withColumn("dur", expr("make_dt_interval(0, 1, 0, 0)")))
    t.delete(Seq(Tuple1(2L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gcm9", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm9.warehouse", wh)
    val v2df = spark.table("gcm9.c9")
    v2df.queryExecution.toRdd.count() // threw mid-scan before the gate fix
    val v2 = stateOf(v2df.select(col("k"), col("v")))
    assert(v2 == stateOf(t.scan().select(col("k"), col("v"))))
    assert(v2.size == 119 && v2(1L) == "up" && !v2.contains(2L))
    // and the factory must not offer a columnar path at all
    assert(broadcastFactory(t).columnar.isEmpty,
      "columnar gate must decline interval columns")
  }

  /** Every row a fresh V2 scan over `t` serves, read straight off its
    * reader factory split by split (columnar when the factory offers it),
    * as (id, v) from columns 0 and 2. Reaches layouts the catalog refuses
    * to plan, such as pending range drops. */
  private def factoryState(t: GraftTable): Map[Long, String] = {
    import scala.jdk.CollectionConverters._
    val scan = new graft.sources.v2.GraftV2Scan(t.meta, t.scan().schema, Array.empty)
    val fac = scan.createReaderFactory()
    assert(fac.isInstanceOf[graft.sources.v2.MorOverlayReaderFactory])
    scan.planInputPartitions().toSeq.flatMap { p =>
      if (fac.supportColumnarReads(p)) {
        val r = fac.createColumnarReader(p)
        try Iterator.continually(r).takeWhile(_.next())
          .flatMap(_.get().rowIterator().asScala.map(_.copy())).toList
        finally r.close()
      } else {
        val r = fac.createReader(p)
        try Iterator.continually(r).takeWhile(_.next()).map(_.get().copy()).toList
        finally r.close()
      }
    }.map(r => r.getLong(0) -> r.getUTF8String(2).toString).toMap
  }

  test("the driver-side tail fold matches latestDeltas, row and columnar") {
    val wh = Files.createTempDirectory("graft-cmor10-").toString
    val df = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/c10", "c10", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    // one key upserted in three commits: the newest seq wins
    Seq("x1", "x2", "x3").foreach(v => t.upsert(Seq((5L, v)).toDF("k", "v")))
    spark.conf.set("spark.sql.catalog.gcm10", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcm10.warehouse", wh)
    // one MERGE commit tombstones key 10 (DELETE) and upserts key 10 (key
    // 11 reassigned onto it): the equal-seq tie, which the upsert wins
    Seq((10L, true, 10L), (11L, false, 10L)).toDF("k", "del", "nk")
      .createOrReplaceTempView("c10src")
    spark.sql("""MERGE INTO gcm10.c10 t USING c10src s ON t.k = s.k
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET k = s.nk""")
    val want = stateOf(t.scan())
    assert(want(5L) == "x3" && want(10L) == "a11" && !want.contains(11L) &&
      want.size == 99)
    assert(stateOf(spark.table("gcm10.c10")) == want)
    assert(rowStateOf("gcm10.c10") == want)

    // a range-partitioned table with deltas under a dropped range: rows
    // written at or before the drop are masked, rows after the re-add live
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val rdf = (1 to 60).map(i => (i.toLong, ts(1995 + i % 2), s"b$i")).toDF("id", "d", "v")
    val r = GraftTable.create(spark, s"$wh/r10", "r10", rdf.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(rdf))
    r.upsert(Seq((1L, ts(1996), "dropped"), (2L, ts(1995), "kept"))
      .toDF("id", "d", "v"))
    r.dropRangePartition("1996")
    r.addRangePartition("1996")
    r.upsert(Seq((3L, ts(1996), "readded")).toDF("id", "d", "v"))
    r.upsert(Seq((3L, ts(1996), "readded2")).toDF("id", "d", "v"))
    val rWant = r.scan().collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(rWant == Map(2L -> "kept", 3L -> "readded2") ++
      (2 to 60 by 2).filterNot(_ == 2).map(i => i.toLong -> s"b$i"))
    assert(factoryState(r) == rWant)
    spark.conf.set("graft.mor.columnar", "false")
    try assert(factoryState(r) == rWant)
    finally spark.conf.unset("graft.mor.columnar")
  }
}
