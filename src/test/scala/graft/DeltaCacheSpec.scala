package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, RangeComponent}
import graft.sources.v2.{DeltaCache, GraftV2Scan}
import graft.table.GraftTable

/**
 * The decoded-delta cache (DeltaCache): every read of a tail file in the
 * JVM shares one decode per file and read shape. Each case checks the rows
 * against an in-memory model under the default broadcast bound, where
 * merge-on-read folds the tail on the driver, and counts decodes with the
 * scan's `graftDeltaFilesDecoded` metric or `GraftV2Scan.readTail`'s own
 * count.
 */
class DeltaCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A table at a fresh location, with background maintenance off so
    * nothing folds its tail between reads. */
  private def table(prefix: String, schema: StructType,
      range: Option[RangeComponent] = None): GraftTable = {
    val loc = Files.createTempDirectory(prefix).toString + "/t"
    spark.conf.set("graft.maintain.auto", "false")
    try GraftTable.create(spark, loc, "dc", schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), range = range)
    finally spark.conf.unset("graft.maintain.auto")
  }

  /** `df`'s rows and the delta files its scans decoded. */
  private def read(df: DataFrame): (Seq[Row], Long) = {
    val rows = df.collect().toSeq
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.nonEmpty, s"no BatchScan in:\n${df.queryExecution.executedPlan}")
    (rows, scans.map(_.metrics(GraftV2Scan.DeltasDecoded).value).sum)
  }

  private val kv = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", StringType)))

  private def upsert(t: GraftTable, model: collection.mutable.Map[Long, String],
      rows: (Long, String)*): Unit = {
    t.upsert(rows.toDF("k", "v"))
    model ++= rows
  }

  private def asMap(rows: Seq[Row]): Map[Long, String] =
    rows.map(r => r.getLong(0) -> r.getString(1)).toMap

  test("a second read of the same tail decodes no file, whatever face reads it") {
    val t = table("graft-dc1-", kv)
    val model = collection.mutable.Map[Long, String]()
    upsert(t, model, (1L to 40L).map(i => i -> s"a$i"): _*)
    val v0 = t.currentVersion
    upsert(t, model, (5L, "b5"), (6L, "b6"))
    t.delete(Seq(7L).toDF("k")); model -= 7L
    upsert(t, model, (41L, "c41"))
    val tail = t.meta.deltaFiles
    assert(tail.nonEmpty)

    val (first, decoded1) = read(t.scan())
    assert(asMap(first) == model.toMap)
    // the delete's presence check read (and cached) the files holding 7
    assert(decoded1 >= 1L && decoded1 <= tail.length)
    val (again, decoded2) = read(t.scan())
    assert(asMap(again) == model.toMap)
    assert(decoded2 == 0L, "a second read decodes nothing")
    val (point, decoded3) = read(t.scan().filter($"k" === 6L))
    assert(asMap(point) == Map(6L -> "b6"))
    assert(decoded3 == 0L, "a point get decodes nothing")

    // the CDC window, the keyed read and the tail fold share the entries
    assert(GraftV2Scan.readTail(t.meta, tail).decoded == 0)
    val window = t.changesSince(v0, t.currentVersion).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Boolean]("_deleted")).toMap
    assert(window == Map(5L -> false, 6L -> false, 7L -> true, 41L -> false))
    assert(t.mergeTailDeltas())
    val (merged, decoded4) = read(t.scan())
    assert(asMap(merged) == model.toMap)
    assert(decoded4 == t.meta.deltaFiles.length, "only the fold's new file decodes")
  }

  test("a cached tail reads the new shape after a rename, a widen and an added column") {
    val t = table("graft-dc2-", StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("c0", IntegerType))))
    t.upsert(Seq((1L, 10), (2L, 20)).toDF("k", "c0"))
    t.upsert(Seq((2L, 21), (3L, 30)).toDF("k", "c0"))
    def state(df: DataFrame): (Seq[String], Map[Long, Seq[Any]]) = {
      val (rows, _) = read(df)
      (df.schema.fields.toSeq.map(f => s"${f.name}:${f.dataType.simpleString}"),
        rows.map(r => r.getLong(0) -> r.toSeq.tail).toMap)
    }
    assert(state(t.scan()) ==
      ((Seq("k:bigint", "c0:int"), Map(1L -> Seq(10), 2L -> Seq(21), 3L -> Seq(30)))))

    t.renameColumn("c0", "c1")
    assert(state(t.scan()) ==
      ((Seq("k:bigint", "c1:int"), Map(1L -> Seq(10), 2L -> Seq(21), 3L -> Seq(30)))))

    t.widenColumnType("c1", LongType)
    val (_, decodedWiden) = read(t.scan())
    assert(decodedWiden > 0L, "a widened column is a new read shape")
    assert(state(t.scan()) ==
      ((Seq("k:bigint", "c1:bigint"), Map(1L -> Seq(10L), 2L -> Seq(21L), 3L -> Seq(30L)))))

    t.addColumn("c2", StringType, default = Some("d"))
    val (_, decodedAdd) = read(t.scan())
    assert(decodedAdd > 0L, "an added column is a new read shape")
    t.upsert(Seq((3L, 31L, "x")).toDF("k", "c1", "c2"))
    assert(state(t.scan()) == ((Seq("k:bigint", "c1:bigint", "c2:string"),
      Map(1L -> Seq(10L, "d"), 2L -> Seq(21L, "d"), 3L -> Seq(31L, "x")))))
  }

  test("a cached tail reads a pending range drop's mask, and the re-added range") {
    val t = table("graft-dc3-", StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("d", TimestampType),
      StructField("v", IntegerType))), range = Some(RangeComponent("d", "year")))
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    def state(): Map[Long, (Int, Int)] = read(t.scan())._1.map(r =>
      r.getLong(0) -> (r.getTimestamp(1).toLocalDateTime.getYear, r.getInt(2))).toMap
    t.upsert(Seq((1L, ts(1995), 1), (2L, ts(1996), 2)).toDF("k", "d", "v"))
    t.upsert(Seq((3L, ts(1995), 3), (2L, ts(1996), 22)).toDF("k", "d", "v"))
    assert(state() == Map(1L -> (1995, 1), 2L -> (1996, 22), 3L -> (1995, 3)))
    t.dropRangePartition("1995")
    val (_, decoded) = read(t.scan())
    assert(decoded > 0L, "a pending drop is a new read shape")
    assert(state() == Map(2L -> (1996, 22)))
    t.addRangePartition("1995")
    t.upsert(Seq((3L, ts(1995), 33)).toDF("k", "d", "v"))
    assert(state() == Map(2L -> (1996, 22), 3L -> (1995, 33)))
  }

  test("a delta file replaced in place is decoded again") {
    val t = table("graft-dc4-", kv)
    t.upsert(Seq((1L, "a")).toDF("k", "v"))
    t.upsert(Seq((2L, "b"), (3L, "c")).toDF("k", "v"))
    val Seq(a, b) = t.meta.deltaFiles.sortBy(_.seq)
    def rows(f: graft.catalog.DataFileMeta): (Set[String], Int) = {
      val tail = GraftV2Scan.readTail(t.meta, Seq(f))
      (tail.rows.map(r => s"${r.getLong(0)}:${r.getUTF8String(1)}").toSet, tail.decoded)
    }
    assert(rows(a)._1 == Set("1:a"))
    assert(rows(a) == ((Set("1:a"), 0)), "cached")
    // swap b's bytes in under a's path; the stale checksum sibling goes
    // too, or the read would fail its checksum
    val pa = Paths.get(a.path)
    Files.deleteIfExists(pa.resolveSibling("." + pa.getFileName + ".crc"))
    Files.copy(Paths.get(b.path), pa, StandardCopyOption.REPLACE_EXISTING)
    assert(rows(a) == ((Set("2:b", "3:c"), 1)), "the replaced file decodes again")
  }

  test("the byte bound evicts least recently used files first") {
    val shape = DeltaCache.Shape(Nil, None, Nil)
    def key(p: String) = DeltaCache.Key(p, 1L, 1L, Nil, shape)
    def rows(n: Int): Array[InternalRow] = {
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(Array[DataType](LongType))
      Array.tabulate(n)(i => toUnsafe(InternalRow(i.toLong)).copy(): InternalRow)
    }
    val perRow = rows(1).head.asInstanceOf[org.apache.spark.sql.catalyst.expressions.UnsafeRow]
      .getSizeInBytes
    val cache = new DeltaCache(10L * perRow)
    cache.put(key("a"), rows(4))
    cache.put(key("b"), rows(4))
    assert(cache.get(key("a")) != null) // a is now the most recently used
    cache.put(key("c"), rows(4))
    assert(cache.get(key("b")) == null, "the least recently used entry goes")
    assert(cache.get(key("a")) != null && cache.get(key("c")) != null)
    assert(cache.bytesHeld == 8L * perRow)
    cache.put(key("big"), rows(11))
    assert(cache.get(key("big")) == null, "a file past the whole bound is not kept")
    assert(cache.size == 2 && cache.decoded == 4L)
  }

  test("concurrent readers of one tail get the same rows") {
    val t = table("graft-dc5-", kv)
    val model = collection.mutable.Map[Long, String]()
    (0 until 6).foreach(i =>
      upsert(t, model, (1L to 50L).map(k => (k * 7 + i) % 120 -> s"r$i-$k"): _*))
    val m = t.meta
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val reads = (0 until 8).map(_ => pool.submit(
        new java.util.concurrent.Callable[Vector[(Long, String, Long)]] {
          def call() = GraftV2Scan.readTail(m, m.deltaFiles).rows
            .map(r => (r.getLong(0), r.getUTF8String(1).toString, r.getLong(3))).toVector
        }))
      val got = reads.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.distinct.size == 1, "every reader sees the same rows")
      assert(got.head.size == 300)
    } finally pool.shutdown()
    assert(asMap(read(t.scan())._1) == model.toMap)
  }
}
