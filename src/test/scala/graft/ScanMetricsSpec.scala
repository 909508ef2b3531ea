package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.sources.v2.GraftV2Scan
import graft.table.GraftTable

/**
 * DSv2 custom scan metrics — the engine's analog of the reference's
 * per-scan tablet counters (tablet/tablet_metrics.h): base files
 * read/pruned and delta files by transport (broadcast tail / routed
 * attach / shuffle spill), posted as driver metrics on the BatchScan
 * node and visible in the Spark UI SQL tab.
 */
class ScanMetricsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def scanNode(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    df.collect()
    val nodes = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(nodes.nonEmpty, s"no BatchScan in:\n${df.queryExecution.executedPlan}")
    nodes.head
  }

  private def metric(b: BatchScanExec, name: String): Long = {
    assert(b.metrics.contains(name),
      s"metric $name not declared; have ${b.metrics.keys.mkString(", ")}")
    b.metrics(name).value
  }

  private def mkTable(): (GraftTable, String) = {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("graft-metrics-").toString
    val data = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val t = GraftTable.create(spark, loc, "metrics_t", data.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(data))
    val f = new java.io.File(loc)
    spark.conf.set("spark.sql.catalog.gmetrics",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmetrics.warehouse", f.getParent)
    (t, s"gmetrics.`${f.getName}`")
  }

  test("point lookup reports 1 file read, rest pruned; clean scan reports zero deltas") {
    val (t, sqlName) = mkTable()
    assert(t.meta.baseFiles.length == 4)
    val b = scanNode(spark.sql(s"SELECT v FROM $sqlName WHERE k = 42"))
    assert(metric(b, GraftV2Scan.FilesRead) == 1L,
      s"point lookup must plan exactly the key's bucket file")
    assert(metric(b, GraftV2Scan.FilesPruned) == 3L)
    assert(metric(b, GraftV2Scan.DeltasBroadcast) == 0L)
    assert(metric(b, GraftV2Scan.DeltasSpilled) == 0L)

    val full = scanNode(spark.sql(s"SELECT v FROM $sqlName"))
    assert(metric(full, GraftV2Scan.FilesRead) == 4L)
    assert(metric(full, GraftV2Scan.FilesPruned) == 0L)
  }

  test("non-key bloom attribute skips row groups on point equality (A/B recordsRead)") {
    import spark.implicits._
    // 8 bucket files x 2000 rows; u is a high-entropy plain-encoded string
    // whose per-file [min,max] spans the whole domain — manifest zone maps
    // and parquet min/max stats can skip NOTHING on it, and the lookup
    // column is not a key, so the only skip mechanism left is the bloom.
    // The observable is decoded input rows (task inputMetrics.recordsRead):
    // the vectorized reader counts only rows of row groups that survived
    // parquet's row-group filter, so bloom-on reads ~1 file's rows and the
    // un-bloom'd control decodes the whole table. Deterministic counts,
    // not timing — the honest unit-scale form of the A/B.
    val df = (1 to 16000)
      .map(i => (i.toLong, f"u-${i * 2654435761L}%016x", i)).toDF("k", "u", "v")
    def mk(bloom: Boolean): GraftTable = {
      val loc = java.nio.file.Files.createTempDirectory(s"graft-bloomab-").toString
      val t = GraftTable.create(spark, loc, s"bab$bloom", df.schema, Seq("k"),
        Seq(HashComponent(Seq("k"), 8)), data = Some(df))
      if (bloom) t.setColumnBloom("u", on = true)
      t.setColumnEncoding("u", "plain")
      t.compact() // attributes apply on the next base rewrite
      t
    }
    def recordsRead(body: => Unit): Long = {
      // scoped to a job group: the shared session runs background work
      // (default-on auto-maintenance ticks on other suites' tables) whose
      // task reads must not land in this measurement
      val group = s"bloomab-${java.util.UUID.randomUUID().toString.take(8)}"
      val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val n = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.properties != null &&
              group == js.properties.getProperty("spark.jobGroup.id"))
            js.stageIds.foreach(id => stages.add(id))
        override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null && stages.contains(te.stageId))
            n.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
      }
      spark.sparkContext.addSparkListener(l)
      spark.sparkContext.setJobGroup(group, "bloom A/B recordsRead", false)
      try { body; org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark) }
      finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(l)
      }
      n.get
    }
    val target = f"u-${7777L * 2654435761L}%016x"
    val withBloom = mk(bloom = true)
    val control = mk(bloom = false)
    def lookup(t: GraftTable): Unit =
      assert(t.scan().filter(col("u") === target).count() == 1)
    lookup(withBloom) // warm both paths before measuring
    lookup(control)
    val readB = recordsRead(lookup(withBloom))
    val read0 = recordsRead(lookup(control))
    assert(read0 >= 15000,
      s"the un-bloom'd control must decode ~everything, read $read0")
    assert(readB * 4 <= read0,
      s"bloom must skip non-matching row groups: bloom'd read $readB vs control $read0")
  }

  test("delta transport shows per scan: broadcast tail, routed attach, forced spill") {
    import spark.implicits._
    val (t, sqlName) = mkTable()
    t.upsert(Seq((7L, "u7"), (8L, "u8")).toDF("k", "v"))

    // tail-only deltas under the bound → broadcast transport
    val tail = scanNode(spark.sql(s"SELECT v FROM $sqlName"))
    assert(metric(tail, GraftV2Scan.DeltasBroadcast) >= 1L)
    assert(metric(tail, GraftV2Scan.DeltasAttached) == 0L)
    assert(metric(tail, GraftV2Scan.DeltasSpilled) == 0L)
    // the new tail file decodes once; the next scan reads it decoded
    assert(metric(tail, GraftV2Scan.DeltasDecoded) == metric(tail, GraftV2Scan.DeltasBroadcast))
    val again = scanNode(spark.sql(s"SELECT k, v FROM $sqlName"))
    assert(metric(again, GraftV2Scan.DeltasBroadcast) >= 1L)
    assert(metric(again, GraftV2Scan.DeltasDecoded) == 0L)

    // flushed (routed) deltas → attach transport, nothing broadcast
    t.compactDeltas()
    val attached = scanNode(spark.sql(s"SELECT v FROM $sqlName"))
    assert(metric(attached, GraftV2Scan.DeltasAttached) >= 1L)
    assert(metric(attached, GraftV2Scan.DeltasBroadcast) == 0L)
    assert(metric(attached, GraftV2Scan.DeltasSpilled) == 0L)
    assert(metric(attached, GraftV2Scan.DeltasDecoded) == 0L)

    // force the spill overlay: a fresh tail past a 1-byte bound
    t.upsert(Seq((9L, "u9")).toDF("k", "v"))
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try {
      val spilled = scanNode(spark.sql(s"SELECT v FROM $sqlName"))
      assert(metric(spilled, GraftV2Scan.DeltasSpilled) >= 1L)
      assert(metric(spilled, GraftV2Scan.DeltasBroadcast) == 0L)
      assert(metric(spilled, GraftV2Scan.DeltasDecoded) == 0L)
    } finally spark.conf.unset("graft.mor.broadcastBytes")
  }
}
