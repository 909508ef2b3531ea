package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * Adaptive delta-transport selection: the V2 planner picks broadcast vs
 * shuffle-spill vs routed-attach per scan from the delta fileset's size
 * and layout — no `graft.mor.broadcastBytes` knob set anywhere in this
 * suite. The bound derives from the session's own broadcast appetite
 * (`spark.sql.autoBroadcastJoinThreshold`) capped by driver heap, the
 * analog of the reference deriving maintenance ops from observed state
 * under a budget (tablet/compaction_policy.h:50-60) instead of a fixed
 * constant.
 */
class AdaptiveTransportSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Builds a V2 scan's merge-on-read reader factory over `t` and returns
    * the delta files the scan reports per transport, read off its own
    * driver metrics: (broadcast, attached, spilled). */
  private def transportOf(t: GraftTable,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : (Long, Long, Long) = {
    val scan = new graft.sources.v2.GraftV2Scan(t.meta, t.scan().schema, filters)
    val f = scan.createReaderFactory()
    assert(f.isInstanceOf[graft.sources.v2.MorOverlayReaderFactory],
      s"expected the merge-on-read overlay factory, got $f")
    val m = scan.reportDriverMetrics().map(c => c.name() -> c.value()).toMap
    import graft.sources.v2.GraftV2Scan.{DeltasAttached, DeltasBroadcast, DeltasSpilled}
    (m(DeltasBroadcast), m(DeltasAttached), m(DeltasSpilled))
  }
  private def assertBroadcast(t: GraftTable,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty): Unit = {
    val tr @ (b, a, s) = transportOf(t, filters)
    assert(b > 0 && a == 0 && s == 0, s"expected the broadcast transport, got $tr")
  }
  private def assertSpill(t: GraftTable): Unit = {
    val tr @ (b, a, s) = transportOf(t)
    assert(b == 0 && a == 0 && s == t.meta.deltaFiles.length,
      s"expected the spill transport, got $tr")
  }

  private def assertNoGraftConf(): Unit =
    assert(spark.conf.getOption("graft.mor.broadcastBytes").isEmpty)

  test("small delta, no conf: broadcast overlay chosen") {
    assertNoGraftConf()
    val wh = Files.createTempDirectory("graft-at1-").toString
    val df = (1 to 300).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/t1", "t1", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert(Seq((1L, "u1"), (2L, "u2")).toDF("k", "v"))
    assertBroadcast(t)
  }

  test("delta past the session's broadcast appetite: spill chosen") {
    assertNoGraftConf()
    val wh = Files.createTempDirectory("graft-at2-").toString
    val df = (1 to 500).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/t2", "t2", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    // ~150 KB of delta payload, three distinct sha digests per row (one
    // digest repeated would compress to a third, near the 64 KB floor)
    def digest(pad: String) = sha2(concat_ws("#", col("k"), lit(pad)), 512)
    t.upsert((1 to 400).map(_.toLong).toDF("k")
      .select(col("k"), concat(digest("pad"), digest("pad2"), digest("pad3")).as("v")))
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // a deliberately tiny join threshold drops the adaptive bound to its
      // 64 KB floor; the delta above exceeds it -> per-route spill
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      assert(GraftTable.deltaBytes(t.meta.deltaFiles) > 64L * 1024,
        s"test delta too small: ${GraftTable.deltaBytes(t.meta.deltaFiles)}")
      assertSpill(t)
      // and the read is exact through the spill
      val got = spark.read.format("graft").load(s"$wh/t2")
      assert(got.count() == 500)
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    // with the session's default appetite restored, the SAME table
    // broadcasts again — the decision is per scan, not per table
    assertBroadcast(t)
  }

  test("flushed deltas: routed-attach chosen at any size, no conf") {
    assertNoGraftConf()
    val wh = Files.createTempDirectory("graft-at3-").toString
    val df = (1 to 400).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/t3", "t3", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 120).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete(Seq(Tuple1(390L)).toDF("k"))
    t.compactDeltas() // flush -> tablet-routed delta files
    t.upsert(Seq((5L, "tail")).toDF("k", "v"))
    val tr @ (_, attached, spilled) = transportOf(t)
    assert(attached > 0 && spilled == 0, s"expected routed attachment, got $tr")
    val v2 = GraftTable.load(spark, s"$wh/t3").scan()
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2.size == 399 && v2(5L) == "tail" && v2(1L) == "u1" &&
      !v2.contains(390L))
  }

  test("selective scan broadcasts its pruned tail past the full-tail bound") {
    assertNoGraftConf()
    val wh = Files.createTempDirectory("graft-at4-").toString
    val df = (1 to 2000).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/t4", "t4", df.schema, Seq("k"),
      hash = Nil, data = Some(df))
    // many delta commits across disjoint key ranges -> per-file key bounds
    (0 until 8).foreach { b =>
      t.upsert(((b * 250 + 1) to (b * 250 + 250)).map(_.toLong).toDF("k")
        .withColumn("v", sha2(concat_ws("#", col("k")), 512)))
    }
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val full = GraftTable.deltaBytes(t.meta.deltaFiles)
      assert(full > 64L * 1024, s"test delta too small: $full")
      // unfiltered: past the bound -> spill
      assertSpill(t)
      // a first-PK-column point predicate prunes the tail to ~1/8 by the
      // recorded delta-file key bounds; the pruned slice fits -> broadcast
      val point: Array[org.apache.spark.sql.sources.Filter] =
        Array(org.apache.spark.sql.sources.EqualTo("k", 7L))
      assertBroadcast(t, point) // the selective scan broadcasts its pruned tail
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("the adaptive bound clamps: floor 64 KB, driver-heap cap, override wins") {
    val sqlConfBefore = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      assert(GraftTable.adaptiveBroadcastDeltaBytes == 64L * 1024)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1L << 40).toString)
      assert(GraftTable.adaptiveBroadcastDeltaBytes ==
        Runtime.getRuntime.maxMemory() / 16)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(GraftTable.adaptiveBroadcastDeltaBytes == 16L * 1024 * 1024)
      spark.conf.set("graft.mor.broadcastBytes", "12345")
      assert(GraftTable.broadcastDeltaBytes == 12345L)
    } finally {
      spark.conf.unset("graft.mor.broadcastBytes")
      sqlConfBefore match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("a merge-on-read get runs no Spark job") {
    val wh = Files.createTempDirectory("graft-at-jobs-").toString
    val df = (1 to 300).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/tj", "tj", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    // a 3-commit unrouted tail
    t.upsert(Seq((1L, "u1"), (2L, "u2")).toDF("k", "v"))
    t.upsert(Seq((1L, "w1")).toDF("k", "v"))
    t.delete(Seq(Tuple1(3L)).toDF("k"))
    assert(t.meta.deltaFiles.forall(f => f.bucket.isEmpty && f.rangeKey.isEmpty))
    spark.conf.set("spark.sql.catalog.gatj", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gatj.warehouse", wh)
    val q = spark.sql("SELECT v FROM gatj.tj WHERE k = 1")
    val ((jobs, stages), rows) = TaggedJobs.count(spark)(q.collect())
    assert(rows.map(_.getString(0)).toSeq == Seq("w1"))
    // the pruned tail is read and folded on the driver, and the one-split
    // scan is collected there too (graft.plans.InlineReads)
    assert((jobs, stages) == (0, 0), s"(jobs, stages) = ${(jobs, stages)}")
    val scan = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head
    // the broadcast tail is the delta files whose key bounds hold k = 1
    val held = graft.sources.PartitionPruner.pruneFiles(t.meta, t.meta.deltaFiles,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 1L)))
    assert(held.nonEmpty && held.length < t.meta.deltaFiles.length)
    assert(scan.metrics(graft.sources.v2.GraftV2Scan.DeltasBroadcast).value == held.length)
    // the engine's own read face plans the same way: a `scan()` get costs
    // what the SQL get costs
    val ((sJobs, sStages), sRows) = TaggedJobs.count(spark)(
      t.scan().where(col("k") === 1).select("v").collect())
    assert(sRows.map(_.getString(0)).toSeq == Seq("w1"))
    assert((sJobs, sStages) == (0, 0), s"scan() (jobs, stages) = ${(sJobs, sStages)}")
  }
}
