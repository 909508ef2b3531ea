package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * Routed delta flush (reference: the DMS flush into per-rowset delta
 * stores, tablet/deltafile.h): compactDeltas on a partitioned table
 * writes its folded delta files per tablet coordinate, and the V2 read
 * attaches each tablet's flushed deltas to its own split straight from
 * disk — no broadcast, no shuffle, at any flushed size. Only the unrouted
 * tail (commits since the last flush) rides the broadcast bound.
 *
 * Tombstones carry only key columns, so layouts whose route depends on a
 * non-key column (per-range overrides / hash-less range layouts) cannot
 * trust a DELETE row's computed route: flush writes those tombstones
 * unrouted, and the spill overlay duplicates them into every owned route.
 */
class RoutedDeltaSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A test run with `confs` set on the shared session, each previous
    * value restored (or unset) afterwards: a leaked setting would change
    * how every later suite in the JVM plans. */
  private def confTest(name: String, confs: (String, String)*)(body: => Any): Unit =
    test(name) {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private def withSpillForced[A](body: => A): A = {
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try body finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  private def spillDirs(loc: String): Seq[String] = {
    val tmp = Paths.get(loc, "tmp")
    if (!Files.isDirectory(tmp)) Seq.empty
    else scala.util.Using.resource(Files.list(tmp)) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .map(_.getFileName.toString).filter(_.startsWith("_morspill_")).toSeq
    }
  }

  private def catConf(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
  }

  test("flushed deltas carry coords and attach per split — no spill even past the bound") {
    val wh = Files.createTempDirectory("graft-routed1-").toString
    val df = (1 to 400).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/r1", "r1", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 200).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete((390 to 400).map(i => Tuple1(i.toLong)).toDF("k"))
    t.upsert(Seq((900L, "new")).toDF("k", "v"))
    t.compactDeltas()
    val m = t.meta
    assert(m.deltaFiles.nonEmpty && m.deltaFiles.forall(_.bucket.isDefined),
      s"flushed delta files must carry bucket coords: ${m.deltaFiles}")
    catConf("grd1", wh)
    withSpillForced {
      // empty tail under a 1-byte bound: the routed attachment must serve
      // (the old code would have spilled — or refused — here)
      val v2 = spark.table("grd1.r1").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val v1 = t.scan().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(v2 == v1)
      assert(v2.size == 390 && v2(1L) == "u1" && v2(300L) == "a300" &&
        v2(900L) == "new" && !v2.contains(395L))
      assert(spillDirs(t.location).isEmpty,
        "routed attachment must not build a shuffle spill")
      assert(spark.sql("SELECT v FROM grd1.r1 WHERE k = 150").collect()
        .map(_.getString(0)).toSeq == Seq("u150"))
    }
  }

  test("tail commits overlay the flushed slice (tail always wins per key)") {
    val wh = Files.createTempDirectory("graft-routed2-").toString
    val df = (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/r2", "r2", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 50).map(i => (i.toLong, s"flush$i")).toDF("k", "v"))
    t.delete(Seq(Tuple1(99L)).toDF("k"))
    t.compactDeltas()
    // tail: override a flushed upsert, tombstone a flushed upsert,
    // resurrect a flushed tombstone, add a new key
    t.upsert(Seq((1L, "tail1"), (99L, "back"), (500L, "tailnew")).toDF("k", "v"))
    t.delete(Seq(Tuple1(2L)).toDF("k"))
    catConf("grd2", wh)
    val v2 = spark.table("grd2.r2").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val v1 = t.scan().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2 == v1)
    assert(v2(1L) == "tail1" && v2(99L) == "back" && v2(500L) == "tailnew" &&
      !v2.contains(2L) && v2(3L) == "flush3" && v2(60L) == "a60")
    // past-bound tail still serves via the spill path, flushed files and all
    withSpillForced {
      val sp = spark.table("grd2.r2").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(sp == v1)
    }
  }

  confTest("SPJ join stays shuffle-free over a flushed table",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    val wh = Files.createTempDirectory("graft-routed3-").toString
    def mk(name: String, n: Int, payload: String): GraftTable = {
      val df = (1 to n).map(i => (i.toLong, s"$payload$i")).toDF("k", "v")
      GraftTable.create(spark, s"$wh/$name", name, df.schema, Seq("k"),
        Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    }
    val t1 = mk("j1", 100, "a"); mk("j2", 80, "b")
    t1.upsert(Seq((3L, "edited"), (7L, "edited7")).toDF("k", "v"))
    t1.compactDeltas()
    catConf("grd3", wh)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withSpillForced {
      val j = spark.table("grd3.j1").join(spark.table("grd3.j2"), "k")
        .select(col("k"), col("grd3.j1.v").as("v1"))
      val rows = j.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 80 && rows(3L) == "edited" && rows(7L) == "edited7")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free SPJ:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("uniform hash + non-key range: flush routes tombstones by bucket, deletes hold across ranges") {
    val wh = Files.createTempDirectory("graft-routed4-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 120).map(i => (i.toLong, ts(1995 + i % 3), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/okr", "okr", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    assert(GraftTable.deleteRouteTrusted(t.meta),
      "uniform hash routes by bucket alone — non-key range must stay trusted")
    val doomed = (1 to 20).map(_.toLong)
    t.delete(doomed.map(Tuple1(_)).toDF("id"))
    t.upsert(Seq((60L, ts(1995), "upd")).toDF("id", "d", "v"))
    t.compactDeltas()
    assert(t.meta.deltaFiles.forall(_.bucket.isDefined))
    catConf("grd4", wh)
    withSpillForced {
      val v2 = spark.table("grd4.okr").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(v2.size == 100 && doomed.forall(k => !v2.contains(k)) &&
        v2(60L) == "upd")
      assert(v2 == t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap)
    }
  }

  test("per-range overrides + non-key range: tombstones flush unrouted, reads stay exact") {
    val wh = Files.createTempDirectory("graft-routed5-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 100).map(i => (i.toLong, ts(1995 + i % 2), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/prh", "prh", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    t.dropRangePartition("1996")
    t.addRangePartition("1996", hashBuckets = Some(4))
    t.upsert((1 to 100).filter(_ % 2 == 1).map(i => (i.toLong, ts(1996), s"n$i"))
      .toDF("id", "d", "v"))
    t.compact()
    assert(!GraftTable.deleteRouteTrusted(t.meta))
    // delete a SPREAD of keys — under the old spill routing, any key whose
    // base row sits outside the fallback split resurrected
    val doomed = Seq(2L, 4L, 6L, 8L, 10L, 12L, 1L, 3L, 5L, 7L)
    t.delete(doomed.map(Tuple1(_)).toDF("id"))
    t.upsert(Seq((200L, ts(1995), "new")).toDF("id", "d", "v"))
    catConf("grd5", wh)
    // spill path first (unflushed, forced bound): tombstones must
    // duplicate into every owned route
    withSpillForced {
      val sp = spark.table("grd5.prh").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(doomed.forall(k => !sp.contains(k)),
        s"spill path resurrected ${doomed.filter(sp.contains)}")
      assert(sp(200L) == "new" && sp.size == 91)
      assert(sp == t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap)
    }
    // now flush: upserts routed, tombstones unrouted
    t.compactDeltas()
    val m = t.meta
    assert(m.deltaFiles.exists(f => f.bucket.isEmpty && f.rangeKey.isEmpty),
      "untrusted layout must keep tombstones coordinate-less")
    assert(m.deltaFiles.exists(f => f.bucket.isDefined),
      "upserts must still flush routed")
    val v2 = spark.table("grd5.prh").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(doomed.forall(k => !v2.contains(k)) && v2(200L) == "new" && v2.size == 91)
  }

  test("range-only layout: spill duplicates tombstones across range routes") {
    val wh = Files.createTempDirectory("graft-routed6-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 60).map(i => (i.toLong, ts(1995 + i % 3), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/ro", "ro", df.schema, Seq("id"),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    assert(!GraftTable.deleteRouteTrusted(t.meta))
    val doomed = (1 to 9).map(_.toLong) // spans all three ranges
    t.delete(doomed.map(Tuple1(_)).toDF("id"))
    catConf("grd6", wh)
    withSpillForced {
      val sp = spark.table("grd6.ro").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(doomed.forall(k => !sp.contains(k)),
        s"range-only spill resurrected ${doomed.filter(sp.contains)}")
      assert(sp.size == 51)
    }
  }

  test("DSv1 point reads prune flushed delta files by bucket") {
    val wh = Files.createTempDirectory("graft-routed7-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/pp", "pp", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 200).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.compactDeltas()
    val m = t.meta
    assert(m.deltaFiles.size > 1)
    val keep = graft.sources.PartitionPruner.pruneFiles(
      m, m.deltaFiles, Seq(org.apache.spark.sql.sources.EqualTo("k", 17L)))
    assert(keep.size == 1,
      s"a point predicate must open 1 of ${m.deltaFiles.size} flushed delta files")
    val r = spark.read.format("graft").load(t.location)
    assert(r.filter(col("k") === 17L).head().getString(1) == "u17")
  }

  test("compactTablet leaves other tablets' flushed delta files untouched") {
    val wh = Files.createTempDirectory("graft-routed8-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/ct", "ct", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 200).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.compactDeltas()
    val before = t.meta.deltaFiles
    assert(before.forall(_.bucket.isDefined) && before.size > 1)
    t.compactTablet(bucket = Some(0))
    val after = t.meta.deltaFiles
    assert(!after.exists(_.bucket.contains(0)),
      "the folded tablet's flushed file must be gone")
    val keptOther = before.filter(f => !f.bucket.contains(0)).map(_.path).toSet
    assert(keptOther.subsetOf(after.map(_.path).toSet),
      "other tablets' flushed files must survive by identity (no rewrite)")
    val state = t.scan().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state.size == 200 && (1 to 200).forall(i => state(i.toLong) == s"u$i"))
  }

  test("compactTablet: stale non-member tombstone must not survive a newer folded upsert") {
    val wh = Files.createTempDirectory("graft-routed9-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 60).map(i => (i.toLong, ts(1995 + i % 3), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/stale", "stale", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    // delete then re-upsert the same keys: the tombstone (null range col →
    // "__null" member evaluation) is non-member for every real tablet,
    // while the newer upsert folds into the base — the tombstone must die
    // with it, or the folded rows resurrect as deletes
    val keys = Seq(5L, 10L, 15L, 20L)
    t.delete(keys.map(Tuple1(_)).toDF("id"))
    t.upsert(keys.map(k => (k, ts(1995 + (k % 3).toInt), s"back$k")).toDF("id", "d", "v"))
    // fold every real tablet the stats report (skip the __null wildcard)
    val tablets = t.deltaTabletStats().collect()
      .map(r => (r.getInt(0), r.getString(1))).filter(_._2 != "__null")
    tablets.foreach { case (b, rk) =>
      t.compactTablet(bucket = Some(b), rangeKey = Some(rk))
    }
    val state = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    keys.foreach(k => assert(state.get(k).contains(s"back$k"),
      s"key $k lost to a stale tombstone (got ${state.get(k)})"))
    assert(state.size == 60)
  }

  test("compactTablet on the __null tablet must not fold foreign tombstones") {
    val wh = Files.createTempDirectory("graft-routed10-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 60).map(i => (i.toLong, ts(1995 + i % 3), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/nult", "nult", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    val doomed = Seq(3L, 6L, 9L, 12L)
    t.delete(doomed.map(Tuple1(_)).toDF("id"))
    // the tombstones surface as "__null"-range tablet pressure; folding
    // that pseudo-tablet must NOT drop them (their base rows live in real
    // ranges and would resurrect)
    val nullTablets = t.deltaTabletStats().collect()
      .map(r => (r.getInt(0), r.getString(1))).filter(_._2 == "__null")
    assert(nullTablets.nonEmpty, "tombstones should group under __null")
    nullTablets.foreach { case (b, rk) =>
      t.compactTablet(bucket = Some(b), rangeKey = Some(rk))
    }
    val state = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(doomed.forall(k => !state.contains(k)),
      s"__null-tablet fold resurrected ${doomed.filter(state.contains)}")
    assert(state.size == 56)
  }
}
