package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable
import graft.SparkTestSession.FilesRead

/**
 * Shuffle-spill merge-on-read overlay: past the broadcast bound
 * (`graft.mor.broadcastBytes`, forced to 1 byte here so every delta set
 * is "too big"), the V2 read path must NOT refuse — it shuffles the
 * latest delta state into per-route parquet spills and each split loads
 * only its own tablet's slice (the reference applies deltas at any size,
 * tablet/delta_applier.h:52; the broadcast bound is our transport choice,
 * not a semantic limit). Every layout the broadcast overlay serves must
 * hash-match the DSv1 scan through the spill path too.
 */

class MorSpillSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withSpillForced[A](body: => A): A = {
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try body finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  private def stateOf(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("hash layout: delta-heavy SQL read serves via per-route spill, matches DSv1") {
    val wh = Files.createTempDirectory("graft-spill-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/sp1", "sp1", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 100).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete((190 to 200).map(i => Tuple1(i.toLong)).toDF("k"))
    t.upsert(Seq((500L, "new")).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.gsp1", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp1.warehouse", wh)
    withSpillForced {
      val v2df = spark.table("gsp1.sp1")
      // key grouping unchanged by the spill path: one split per bucket
      assert(v2df.rdd.getNumPartitions == 4)
      val v2 = stateOf(v2df)
      assert(v2 == stateOf(t.scan()))
      assert(v2.size == 190 && v2(1L) == "u1" && v2(150L) == "a150" &&
        v2(500L) == "new" && !v2.contains(195L))
      // spill dirs live under tmp/, never under data/ → fsck stays clean
      assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
    }
  }

  test("SPJ join stays shuffle-free through the spill overlay") {
    val wh = Files.createTempDirectory("graft-spill2-").toString
    def mk(name: String, n: Int, payload: String): GraftTable = {
      val df = (1 to n).map(i => (i.toLong, s"$payload$i")).toDF("k", "v")
      GraftTable.create(spark, s"$wh/$name", name, df.schema, Seq("k"),
        Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    }
    val t1 = mk("j1", 100, "a"); mk("j2", 80, "b")
    t1.upsert(Seq((3L, "edited")).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.gsp2", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp2.warehouse", wh)
    val prevBucketing =
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withSpillForced {
      val j = spark.table("gsp2.j1").join(spark.table("gsp2.j2"), "k")
        .select(col("k"), col("gsp2.j1.v").as("v1"))
      val rows = j.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 80 && rows(3L) == "edited")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free spill-MOR SPJ:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
    }
  }

  test("per-range hash overrides + fallback folding serve via spill") {
    val wh = Files.createTempDirectory("graft-spill3-").toString
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
    // deltas across both hash schemas + an upsert into a base-less range
    // (1997): its route is owned by no split → folds into the fallback
    t.upsert(Seq((2L, ts(1995), "u95"), (1L, ts(1996), "u96"),
      (201L, ts(1995), "new"), (301L, ts(1997), "o97")).toDF("id", "d", "v"))
    t.delete(Seq(Tuple1(4L)).toDF("id"))
    spark.conf.set("spark.sql.catalog.gsp3", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp3.warehouse", wh)
    withSpillForced {
      val v2 = spark.table("gsp3.prh").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
      val v1 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      assert(v2 == v1)
      assert(v2(2L) == "u95" && v2(1L) == "u96" && v2(201L) == "new")
      assert(v2(301L) == "o97" && !v2.contains(4L) && v2.size == 101)
    }
  }

  test("delta-only table (no base yet) reads via spill") {
    val wh = Files.createTempDirectory("graft-spill4-").toString
    val schema = Seq((1L, "x")).toDF("k", "v").schema
    val t = GraftTable.create(spark, s"$wh/donly", "donly", schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)))
    t.upsert((1 to 40).map(i => (i.toLong, s"d$i")).toDF("k", "v"))
    t.delete(Seq(Tuple1(7L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gsp4", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp4.warehouse", wh)
    withSpillForced {
      val v2 = stateOf(spark.table("gsp4.donly"))
      assert(v2 == stateOf(t.scan()))
      assert(v2.size == 39 && v2(1L) == "d1" && !v2.contains(7L))
    }
  }

  test("unpartitioned layout past the bound serves via key-interval routing") {
    val wh = Files.createTempDirectory("graft-spill5-").toString
    val df = (1 to 20).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/flat", "flat", df.schema, Seq("k"),
      hash = Nil, data = Some(df))
    // upsert inside the base interval, tombstone, and a NEW key beyond every
    // file's bounds (must still be emitted via the fallback route)
    t.upsert(Seq((1L, "u"), (500L, "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(7L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gsp5", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp5.warehouse", wh)
    withSpillForced {
      val v2 = stateOf(spark.table("gsp5.flat"))
      assert(v2 == stateOf(t.scan()))
      assert(v2.size == 20 && v2(1L) == "u" && v2(500L) == "new" && !v2.contains(7L))
    }
  }

  test("zero-copy registered bases past the bound serve via key-interval routing") {
    val wh = Files.createTempDirectory("graft-spill6-").toString
    // multi-file raw parquet with disjoint key ranges: interval routing must
    // land each tombstone/upsert in the file(s) whose bounds contain its key
    val raw = s"$wh/raw"
    (1 to 300).map(i => (i.toLong, s"a$i")).toDF("k", "v")
      .repartitionByRange(3, col("k")).write.parquet(raw)
    val t = GraftTable.register(spark, s"$wh/reg", "reg", raw, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)))
    assert(t.meta.baseFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    // deltas spanning every file's range + one beyond all bounds
    t.upsert(Seq((5L, "u5"), (150L, "u150"), (299L, "u299"), (999L, "new"))
      .toDF("k", "v"))
    t.delete(Seq(Tuple1(10L), Tuple1(200L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gsp6", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp6.warehouse", wh)
    withSpillForced {
      val v2 = stateOf(spark.table("gsp6.reg"))
      assert(v2 == stateOf(t.scan()))
      assert(v2.size == 299 && v2(5L) == "u5" && v2(150L) == "u150" &&
        v2(299L) == "u299" && v2(999L) == "new" &&
        !v2.contains(10L) && !v2.contains(200L))
      assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
    }
  }

  test("key-grouped layout over coordinate-less bases: single split drains the spill") {
    val wh = Files.createTempDirectory("graft-spill8-").toString
    val raw = s"$wh/raw"
    (1 to 100).map(i => (i.toLong, s"a$i")).toDF("k", "v").write.parquet(raw)
    val t = GraftTable.register(spark, s"$wh/kgb", "kgb", raw, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)))
    t.upsert(Seq((3L, "u3"), (777L, "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(9L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gsp8", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp8.warehouse", wh)
    val prev = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try withSpillForced {
      val v2 = stateOf(spark.table("gsp8.kgb"))
      assert(v2 == stateOf(t.scan()))
      assert(v2.size == 100 && v2(3L) == "u3" && v2(777L) == "new" && !v2.contains(9L))
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prev)
  }

  test("string-keyed registered bases: interval routing + pruning (incl. non-ASCII)") {
    val wh = Files.createTempDirectory("graft-spill9-").toString
    val raw = s"$wh/raw"
    // keys spanning ASCII and supplementary code points — the hex-of-UTF-8
    // bound encoding must order them identically to parquet's unsigned-byte
    // stats (Java String ordering would not, at the emoji)
    val keys = (1 to 200).map(i => f"k$i%03d") :+ "😀smile" :+ "zz"
    keys.map(k => (k, s"v-$k")).toDF("id", "v")
      .repartitionByRange(3, col("id")).write.parquet(raw)
    val t = GraftTable.register(spark, s"$wh/sreg", "sreg", raw, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)))
    assert(t.meta.baseFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    // point-lookup pruning through the recorded string bounds
    import org.apache.spark.sql.sources.EqualTo
    assert(t.scanPruned(Seq(EqualTo("id", "k050"))).filesRead.length == 1)
    t.upsert(Seq(("k050", "EDIT"), ("😀smile", "EMOJI"), ("zzz", "NEW"))
      .toDF("id", "v"))
    t.delete(Seq(Tuple1("k199")).toDF("id"))
    spark.conf.set("spark.sql.catalog.gsp9", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp9.warehouse", wh)
    withSpillForced {
      val v2 = spark.table("gsp9.sreg").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val v1 = t.scan().collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(v2 == v1)
      assert(v2("k050") == "EDIT" && v2("😀smile") == "EMOJI" &&
        v2("zzz") == "NEW" && !v2.contains("k199") && v2.size == 202)
    }
  }

  test("OVERLAPPING file bounds: deltas duplicate to all candidates, upserts emit once") {
    val wh = Files.createTempDirectory("graft-spill10-").toString
    val raw = s"$wh/raw"
    // two files whose key intervals overlap almost completely (evens vs
    // odds): every delta has TWO candidate files — the tombstone must
    // apply in both, the upsert row must be emitted exactly once
    (1 to 99 by 2).map(i => (i.toLong, s"o$i")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$raw/odd")
    (2 to 100 by 2).map(i => (i.toLong, s"e$i")).toDF("k", "v")
      .coalesce(1).write.parquet(s"$raw/even")
    // single dir with both files
    val both = s"$wh/both"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(both))
    for (sub <- Seq("odd", "even")) {
      val s0 = java.nio.file.Files.list(java.nio.file.Paths.get(s"$raw/$sub"))
      try s0.filter(_.toString.endsWith(".parquet")).forEach { p =>
        java.nio.file.Files.copy(p, java.nio.file.Paths.get(both, s"$sub.parquet"))
      } finally s0.close()
    }
    val t = GraftTable.register(spark, s"$wh/ovl", "ovl", both, Seq("k"))
    assert(t.meta.baseFiles.size == 2 &&
      t.meta.baseFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    t.upsert(Seq((51L, "u51"), (52L, "u52")).toDF("k", "v")) // one per file
    t.delete(Seq(Tuple1(53L), Tuple1(54L)).toDF("k"))        // one per file
    spark.conf.set("spark.sql.catalog.gsp10", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp10.warehouse", wh)
    withSpillForced {
      val v2 = stateOf(spark.table("gsp10.ovl"))
      assert(v2 == stateOf(t.scan()))
      // exactly-once emission despite two candidates (a double-emit would
      // make the upserted keys appear twice and fail the size check)
      assert(v2.size == 98 && v2(51L) == "u51" && v2(52L) == "u52" &&
        !v2.contains(53L) && !v2.contains(54L) && v2(1L) == "o1" && v2(100L) == "e100")
      // count() (no Map dedup) catches a double-emitted upsert
      assert(spark.table("gsp10.ovl").count() == 98)
    }
  }

  test("timestamp first key: footer-unit bounds stay in lockstep with unix_micros routing") {
    val wh = Files.createTempDirectory("graft-spill11-").toString
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:30:00")
    val raw = s"$wh/raw"
    // INT64 micros — Spark's INT96 default carries no usable footer stats,
    // in which case registration correctly records no bounds (conservative)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try (1 to 28).map(d => (ts(d), s"day$d")).toDF("t", "v")
      .repartitionByRange(2, col("t")).write.parquet(raw)
    finally spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val t = GraftTable.register(spark, s"$wh/tsreg", "tsreg", raw, Seq("t"))
    assert(t.meta.baseFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    import org.apache.spark.sql.sources.EqualTo
    assert(t.scanPruned(Seq(EqualTo("t", ts(5)))).filesRead.length == 1)
    t.upsert(Seq((ts(5), "EDIT")).toDF("t", "v"))
    t.delete(Seq(Tuple1(ts(20))).toDF("t"))
    spark.conf.set("spark.sql.catalog.gsp11", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp11.warehouse", wh)
    withSpillForced {
      val v2 = spark.table("gsp11.tsreg").collect()
        .map(r => r.getTimestamp(0) -> r.getString(1)).toMap
      assert(v2 == t.scan().collect().map(r => r.getTimestamp(0) -> r.getString(1)).toMap)
      assert(v2.size == 27 && v2(ts(5)) == "EDIT" && !v2.contains(ts(20)))
    }
  }

  test("pre-bounds metadata heals: footer hydration serves the spill read") {
    val wh = Files.createTempDirectory("graft-spill7-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/nb", "nb", df.schema, Seq("k"),
      hash = Nil, data = Some(df))
    t.upsert(Seq((1L, "u"), (999L, "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(7L)).toDF("k"))
    // simulate metadata written by an older build: strip the key bounds —
    // the planner must backfill them from the parquet footers (one
    // driver-side footer read per file, memoized) instead of refusing
    val m = t.meta
    graft.catalog.TableMeta.write(m.copy(version = m.version + 1,
      operation = "strip_bounds",
      baseFiles = m.baseFiles.map(_.copy(keyLo = None, keyHi = None)),
      deltaFiles = m.deltaFiles.map(_.copy(keyLo = None, keyHi = None))))
    spark.conf.set("spark.sql.catalog.gsp7", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp7.warehouse", wh)
    withSpillForced {
      val v2 = stateOf(spark.table("gsp7.nb"))
      assert(v2 == stateOf(GraftTable.load(spark, t.location).scan()))
      assert(v2.size == 200 && v2(1L) == "u" && v2(999L) == "new" &&
        !v2.contains(7L))
    }
  }

  test("decimal lead key: registered bases route by interval past the bound") {
    val wh = Files.createTempDirectory("graft-spill9-").toString
    val raw = s"$wh/raw"
    (1 to 300).map(i => (i, s"a$i")).toDF("i", "v")
      .select((col("i").cast("decimal(12,2)") / 4).cast("decimal(12,2)").as("k"),
        col("v"))
      .repartitionByRange(3, col("k")).write.parquet(raw)
    val t = GraftTable.register(spark, s"$wh/dreg", "dreg", raw, Seq("k"))
    // bounds recorded from footers at register (unscaled-long encoding)
    assert(t.meta.baseFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    def d(s: String) = new java.math.BigDecimal(s)
    t.upsert(Seq((d("0.25"), "u1"), (d("37.50"), "u150"), (d("75.00"), "u300"),
      (d("400.00"), "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(d("0.50")), Tuple1(d("50.00"))).toDF("k"))
    spark.conf.set("spark.sql.catalog.gsp12", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp12.warehouse", wh)
    def decState(df: org.apache.spark.sql.DataFrame): Map[java.math.BigDecimal, String] =
      df.collect().map(r => r.getDecimal(0) -> r.getString(1)).toMap
    withSpillForced {
      val v2 = decState(spark.table("gsp12.dreg"))
      assert(v2 == decState(t.scan()))
      assert(v2.size == 299 && v2(d("0.25")) == "u1" &&
        v2(d("37.50")) == "u150" && v2(d("400.00")) == "new" &&
        !v2.contains(d("50.00")))
    }
  }

  test("a genuinely non-encodable lead key reads past the bound as one split") {
    val wh = Files.createTempDirectory("graft-spill10-").toString
    // decimal wider than 18 digits: unscaled values exceed a long, so
    // neither the expression nor the footer encoding exists — no per-route
    // spill is sound, so the scan reads every base file as ONE split that
    // owns the whole spill rather than route wrongly
    val df = (1 to 20).map(i => (i, s"a$i")).toDF("i", "v")
      .select(col("i").cast("decimal(24,2)").as("k"), col("v"))
    val t = GraftTable.create(spark, s"$wh/wide", "wide", df.schema, Seq("k"),
      hash = Nil, data = Some(df))
    t.upsert(Seq((new java.math.BigDecimal("1.00"), "u")).toDF("k", "v"))
    val m = t.meta
    assert(m.baseFiles.forall(f => f.keyLo.isEmpty && f.keyHi.isEmpty))
    spark.conf.set("spark.sql.catalog.gsp13", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsp13.warehouse", wh)
    withSpillForced {
      val v2 = spark.table("gsp13.wide").collect()
        .map(r => r.getDecimal(0).intValue -> r.getString(1)).toMap
      assert(v2 == (1 to 20).map(i => i -> (if (i == 1) "u" else s"a$i")).toMap)
    }
    // below the bound the same table serves via broadcast overlay
    assert(spark.table("gsp13.wide").count() == 20)
  }
}
