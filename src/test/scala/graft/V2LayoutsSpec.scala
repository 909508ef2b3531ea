package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, RangeComponent}
import graft.table.GraftTable

/**
 * The layouts the V2 scan once refused, one table each, every table with
 * deltas pending: a renamed column, a widened column, a column added with
 * a read default and absent from old base files, a pending range drop
 * over a registered (coordinate-less) base, and a past-bound delta tail
 * over base files with no key bounds. Each reads through SQL and through
 * `GraftTable.scan()`, with the columnar overlay on and off, and must
 * equal the expected rows. Plus: a stream over a renamed column, and the
 * one plan shape every read face has.
 */
class V2LayoutsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A warehouse dir with a catalog `name` over it. */
  private def warehouse(name: String): String = {
    val wh = Files.createTempDirectory(s"graft-v2l-$name-").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** `t` reads as `want` through SQL (`sqlName`) and `scan()`, with the
    * columnar overlay on and off. */
  private def readsAs(t: GraftTable, sqlName: String, want: Set[Seq[Any]]): Unit =
    Seq("true", "false").foreach { columnar =>
      spark.conf.set("graft.mor.columnar", columnar)
      try {
        assert(rows(spark.table(sqlName)) == want, s"SQL read, columnar=$columnar")
        assert(rows(t.scan()) == want, s"scan(), columnar=$columnar")
      } finally spark.conf.unset("graft.mor.columnar")
    }

  private def kv(n: Int) = (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")

  test("a renamed column reads by position") {
    val wh = warehouse("glren")
    val t = GraftTable.create(spark, s"$wh/ren", "ren", kv(20).schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(kv(20)))
    t.renameColumn("v", "w")
    t.upsert(Seq((1L, "u1"), (21L, "n21")).toDF("k", "w"))
    t.delete(Seq(Tuple1(2L)).toDF("k"))
    val want = ((3 to 20).map(i => Seq[Any](i.toLong, s"v$i")) ++
      Seq(Seq[Any](1L, "u1"), Seq[Any](21L, "n21"))).toSet
    readsAs(t, "glren.ren", want)
  }

  test("a widened column is cast up from old files") {
    val wh = warehouse("glwid")
    val df = (1 to 20).map(i => (i.toLong, i * 10)).toDF("k", "n")
    val t = GraftTable.create(spark, s"$wh/wid", "wid", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.widenColumnType("n", LongType)
    t.upsert(Seq((3L, 10000000000L)).toDF("k", "n"))
    t.delete(Seq(Tuple1(4L)).toDF("k"))
    val want = (1 to 20).filterNot(_ == 4).map(i =>
      Seq[Any](i.toLong, if (i == 3) 10000000000L else i * 10L)).toSet
    readsAs(t, "glwid.wid", want)
  }

  test("a column added with a read default reads it from old base files") {
    val wh = warehouse("gldef")
    val t = GraftTable.create(spark, s"$wh/def", "def", kv(20).schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(kv(20)))
    t.addColumn("extra", StringType, default = Some("d"))
    t.upsert(Seq((5L, "u5", "e5")).toDF("k", "v", "extra"))
    t.delete(Seq(Tuple1(6L)).toDF("k"))
    val want = (1 to 20).filterNot(_ == 6).map(i =>
      if (i == 5) Seq[Any](5L, "u5", "e5") else Seq[Any](i.toLong, s"v$i", "d")).toSet
    readsAs(t, "gldef.def", want)
  }

  test("a pending range drop masks a registered base and its deltas") {
    val wh = warehouse("gldrop")
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val raw = s"$wh/raw"
    (1 to 30).map(i => (i.toLong, ts(1995 + i % 3), s"b$i")).toDF("k", "d", "v")
      .repartition(3).write.parquet(raw)
    val t = GraftTable.register(spark, s"$wh/reg", "reg", raw, Seq("k"),
      range = Some(RangeComponent("d", "year")))
    assert(t.meta.baseFiles.forall(f => f.bucket.isEmpty && f.rangeKey.isEmpty))
    t.upsert(Seq((1L, ts(1996), "dropped"), (2L, ts(1995), "kept"),
      (31L, ts(1997), "new")).toDF("k", "d", "v"))
    t.dropRangePartition("1996")
    val want = ((1 to 30).filter(i => 1995 + i % 3 != 1996 && i != 2)
      .map(i => Seq[Any](i.toLong, ts(1995 + i % 3), s"b$i")) ++
      Seq(Seq[Any](2L, ts(1995), "kept"), Seq[Any](31L, ts(1997), "new"))).toSet
    readsAs(t, "gldrop.reg", want)
    // two pending drops: the mask names the range column once per drop,
    // and every drop still masks
    t.dropRangePartition("1997")
    readsAs(t, "gldrop.reg", want.filterNot(_(1) == ts(1997)))
  }

  test("a past-bound tail over base files with no key bounds reads as one split") {
    val wh = warehouse("glnob")
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val raw = s"$wh/raw"
    // INT96 timestamps carry no usable footer statistics: no key bounds
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try (1 to 30).map(i => (ts(i), s"v$i")).toDF("t", "v")
      .repartition(3).write.parquet(raw)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val t = GraftTable.register(spark, s"$wh/nob", "nob", raw, Seq("t"))
    assert(t.meta.baseFiles.size > 1 &&
      t.meta.baseFiles.forall(f => f.keyLo.isEmpty && f.bucket.isEmpty))
    t.upsert(Seq((ts(1), "u1"), (ts(31), "n31")).toDF("t", "v"))
    t.delete(Seq(Tuple1(ts(2))).toDF("t"))
    val want = ((3 to 30).map(i => Seq[Any](ts(i), s"v$i")) ++
      Seq(Seq[Any](ts(1), "u1"), Seq[Any](ts(31), "n31"))).toSet
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try readsAs(t, "glnob.nob", want)
    finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  test("changes across a widen, a rename and an added column resolve by column id") {
    val df = (1 to 20).map(i => (i.toLong, i)).toDF("k", "c0")
    val t = GraftTable.create(spark, Files.createTempDirectory("graft-v2l-chg-").toString,
      "chg", df.schema, Seq("k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.upsert(Seq((21L, 21)).toDF("k", "c0"))
    val v1 = t.currentVersion
    t.widenColumnType("c0", LongType)
    t.renameColumn("c0", "c1")
    t.addColumn("d", StringType, default = Some("dflt"))
    t.upsert(Seq((1L, 100L, "x"), (22L, 22L, "y")).toDF("k", "c1", "d"))
    t.delete(Seq(Tuple1(2L)).toDF("k"))
    val v2 = t.currentVersion
    // old rows read the added column's default on both sides, so only the
    // rows the window wrote differ
    val want = Set[Seq[Any]](Seq(1L, 100L, "x", false), Seq(22L, 22L, "y", false),
      Seq(2L, 2L, "dflt", true))
    assert(rows(t.changes(v1, v2)) == want)
    // the delta fast path: a tombstone carries its key alone
    def keyOnlyDeletes(rs: Set[Seq[Any]]) =
      rs.map(r => if (r.last == true) Seq(r.head, true) else r)
    assert(keyOnlyDeletes(rows(t.changesSince(v1, v2))) == keyOnlyDeletes(want))
    // a window across a compaction falls back to the two-snapshot diff
    t.compact()
    assert(rows(t.changesSince(v1, t.currentVersion)) == want)
  }

  test("a stream over a renamed column emits its value, not null") {
    val wh = warehouse("glstr")
    val t = GraftTable.create(spark, s"$wh/st", "st", kv(10).schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(kv(10)))
    t.renameColumn("v", "w")
    val seen = scala.collection.mutable.Map[Long, String]()
    val q = spark.readStream.table("glstr.st").writeStream
      .option("checkpointLocation", Files.createTempDirectory("graft-v2l-ckpt-").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val got = batch.collect()
        seen.synchronized { got.foreach(r => seen(r.getLong(0)) = r.getString(1)) }
        ()
      }.start()
    try {
      q.processAllAvailable()
      t.upsert(Seq((1L, "u1"), (11L, "n11")).toDF("k", "w"))
      q.processAllAvailable()
      assert(seen.synchronized(seen.toMap) == Map(1L -> "u1", 11L -> "n11"))
    } finally q.stop()
  }

  test("every read face plans one V2 scan per snapshot and no union") {
    val wh = warehouse("glplan")
    val t = GraftTable.create(spark, s"$wh/p", "p", kv(20).schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(kv(20)))
    val v1 = t.currentVersion
    t.upsert(Seq((1L, "u1"), (21L, "n21")).toDF("k", "v"))
    t.delete(Seq(Tuple1(2L)).toDF("k"))
    val v2 = t.currentVersion
    val faces = Seq(
      "scan" -> t.scan(),
      "scanWithHidden" -> t.scanWithHidden(),
      "scanPruned" -> t.scanPruned(Seq(EqualTo("k", 1L))),
      "scanAtTimestamp" -> t.scanAtTimestamp(System.currentTimeMillis()),
      "changes" -> t.changes(v1, v2))
    faces.foreach { case (face, df) =>
      val plan = df.queryExecution.optimizedPlan
      val leaves = plan.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall {
        case s: DataSourceV2ScanRelation =>
          s.relation.table.isInstanceOf[graft.sources.v2.GraftV2Table]
        case _ => false
      }, s"$face must read only through V2 graft scans:\n$plan")
      assert(plan.collectFirst { case u: Union => u }.isEmpty,
        s"$face must plan no union:\n$plan")
    }
    // both sides of the two-snapshot diff are V2 scans
    assert(t.changes(v1, v2).queryExecution.optimizedPlan.collectLeaves().size == 2)
    assert(t.changes(v1, v2).collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap ==
      Map(1L -> false, 2L -> true, 21L -> false))
    assert(rows(t.scanPruned(Seq(EqualTo("k", 1L)))) == Set(Seq[Any](1L, "u1")))
    assert(!rows(t.scan()).exists(_.head == 2L))
    assert(rows(t.scanWithHidden().where(col("k") === 21L)) == Set(Seq[Any](21L, "n21")))
    assert(Row.fromSeq(Seq(1L, "v1")) == t.scan(Some(v1)).where(col("k") === 1L).head())
  }
}
