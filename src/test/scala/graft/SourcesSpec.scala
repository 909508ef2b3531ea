package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, RangeComponent}
import graft.table.GraftTable
import graft.tools.GraftTools
import graft.SparkTestSession.FilesRead

/** DataSource ("graft" format), partition pruning, streaming, and tools. */

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def mkTable(): (String, GraftTable) = {
    val loc = tmp("graft-src-")
    val data = (1 to 100).map(i => (i.toLong, s"n$i", i % 10)).toDF("id", "name", "grp")
    val t = GraftTable.create(spark, loc, "t", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    (loc, t)
  }

  test("format('graft') read/write/upsert/snapshot") {
    val (loc, _) = mkTable()
    val df = spark.read.format("graft").option("graft.table.path", loc).load()
    assert(df.count() == 100)
    assert(df.filter(col("id") === 5).select("name").as[String].head() == "n5")
    Seq((5L, "changed", 0)).toDF("id", "name", "grp")
      .write.format("graft").option("graft.table.path", loc).mode("append").save()
    val df2 = spark.read.format("graft").option("graft.table.path", loc).load()
    assert(df2.filter(col("id") === 5).select("name").as[String].head() == "changed")
    val v1 = spark.read.format("graft").option("graft.table.path", loc)
      .option("graft.snapshotVersion", "1").load()
    assert(v1.filter(col("id") === 5).select("name").as[String].head() == "n5")
    // time-travel by wall clock (kudu.snapshotTimestampMs analog)
    val ts1 = graft.catalog.TableMeta.read(loc, 1L).timestampMs
    val atTs = spark.read.format("graft").option("graft.table.path", loc)
      .option("graft.snapshotTimestampMs", ts1.toString).load()
    assert(atTs.filter(col("id") === 5).select("name").as[String].head() == "n5")
  }

  test("format('graft') create-on-write with options") {
    val loc = tmp("graft-src-create-")
    (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .write.format("graft")
      .option("graft.table.path", loc)
      .option("graft.primaryKey", "k")
      .option("graft.hash.columns", "k").option("graft.hash.buckets", "2")
      .save()
    assert(GraftTable.load(spark, loc).scan().count() == 10)
  }

  test("hash-bucket and range-partition file pruning") {
    val (_, t) = mkTable()
    assert(t.scanPruned(Nil).filesRead.length == 4)
    assert(t.scanPruned(Seq(EqualTo("id", 42L))).filesRead.length == 1)
    val in3 = t.scanPruned(Seq(In("id", Array(1L, 2L, 3L)))).filesRead.length
    assert(in3 <= 3 && in3 >= 1)
    // pruned scan still contains the looked-up row
    assert(t.scanPruned(Seq(EqualTo("id", 42L))).filter(col("id") === 42).count() == 1)
    // range pruning
    val oloc = tmp("graft-src-range-")
    val odata = (1 to 100).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"${1995 + i % 5}-06-01 00:00:00"))).toDF("id", "d")
    val ot = GraftTable.create(spark, oloc, "o", odata.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), Some(RangeComponent("d", "year")), data = Some(odata))
    val all = ot.scanPruned(Nil).filesRead.length
    val one = ot.scanPruned(Seq(
      GreaterThanOrEqual("d", java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
      LessThanOrEqual("d", java.sql.Timestamp.valueOf("1996-12-31 00:00:00")))).filesRead.length
    assert(all == 10 && one == 2, s"all=$all one=$one")
    // exclusive year-start bound excludes the boundary year's partition
    // (data years 1995-1999 → `< 1997-01-01` keeps 1995+1996 = 4 files)
    val excl = ot.scanPruned(Seq(
      LessThan("d", java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))).filesRead.length
    assert(excl == 4, s"excl=$excl")
    // ...one tick past the boundary keeps 1997 at the RANGE level, but the
    // per-file zone maps see that no 1997 row (all at 1997-06-01) can sit
    // below the cutoff and prune the two 1997 files anyway
    val incl = ot.scanPruned(Seq(
      LessThan("d", java.sql.Timestamp.valueOf("1997-01-01 00:00:01")))).filesRead.length
    assert(incl == 4, s"incl=$incl")
    // the range-pruner's boundary conservatism, judged in isolation: strip
    // the zone maps and the 1997 files come back
    val bare = ot.meta.copy(baseFiles = ot.meta.baseFiles.map(_.copy(
      colLo = None, colHi = None, colNulls = None)))
    val inclBare = graft.sources.PartitionPruner.pruneFiles(bare, bare.baseFiles,
      Seq(LessThan("d", java.sql.Timestamp.valueOf("1997-01-01 00:00:01")))).length
    assert(inclBare == 6, s"inclBare=$inclBare")
  }

  test("filter pushdown reaches parquet in the DataFrame scan path") {
    val (_, t) = mkTable()
    val plan = t.scan().filter(col("id") === 42).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,42)]"), plan)
  }

  test("tools: copy/loadgen/export+import csv/backup+restore") {
    val (_, t) = mkTable()
    val copy = GraftTools.copyTable(spark, t, tmp("graft-copy-"))
    assert(copy.scan().count() == 100)
    assert(GraftTools.loadgen(spark, 1000).count() == 1000)
    val csvDir = tmp("graft-csv-") + "/out"
    GraftTools.exportCsv(t, csvDir)
    val t2 = GraftTable.create(spark, tmp("graft-csv-imp-"), "t2",
      t.scan().schema, Seq("id"), Seq(HashComponent(Seq("id"), 2)))
    GraftTools.importCsv(spark, csvDir, t2)
    assert(t2.scan().count() == 100)
    val bdir = tmp("graft-bak-") + "/b1"
    GraftTools.backup(t, bdir)
    val restored = GraftTools.restore(spark, bdir, tmp("graft-restore-"), Seq("id"))
    assert(restored.scan().count() == 100)
  }

  test("tools: fsck finds missing files, coordinate mismatches and orphans") {
    val (loc, t) = mkTable()
    t.upsert(Seq((5L, "x", 0)).toDF("id", "name", "grp"))
    assert(GraftTools.fsck(loc).isEmpty, GraftTools.fsck(loc).mkString("; "))
    // orphan: crash residue from a lost commit race — referenced by nothing
    val orphan = java.nio.file.Paths.get(loc, "data", "c9_base_dead", "part-0.parquet")
    java.nio.file.Files.createDirectories(orphan.getParent)
    java.nio.file.Files.write(orphan, Array[Byte](1, 2, 3))
    val i1 = GraftTools.fsck(loc)
    assert(i1.exists(_.contains("orphan")), i1.mkString("; "))
    java.nio.file.Files.delete(orphan)
    // missing: a referenced base file vanishes out from under the manifest
    val victim = t.meta.baseFiles.head.path
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(victim))
    java.nio.file.Files.delete(java.nio.file.Paths.get(victim))
    val i2 = GraftTools.fsck(loc)
    assert(i2.exists(_.contains("missing base file")), i2.mkString("; "))
    java.nio.file.Files.write(java.nio.file.Paths.get(victim), bytes)
    assert(GraftTools.fsck(loc).isEmpty)
  }

  test("tools: `table scan` JSON predicate grammar (E1)") {
    val (_, t) = mkTable() // ids 1..100, name = "n$i"
    // comparison + conjunction
    assert(GraftTools.scanTable(t,
      Some("""["AND", [">=", "id", 10], ["<", "id", 20]]""")).count() == 10)
    // single comparison, string value
    assert(GraftTools.scanTable(t, Some("""["=", "name", "n42"]""")).count() == 1)
    // IN list
    assert(GraftTools.scanTable(t,
      Some("""["IN", "id", [1, 2, 3, 999]]""")).count() == 3)
    // NULL / NOTNULL
    assert(GraftTools.scanTable(t, Some("""["NOTNULL", "name"]""")).count() == 100)
    assert(GraftTools.scanTable(t, Some("""["NULL", "name"]""")).count() == 0)
    // projection
    assert(GraftTools.scanTable(t, Some("""[">", "id", 95]"""), Seq("id"))
      .columns.toSeq == Seq("id"))
    // malformed input errors, matching the tool's strictness
    intercept[IllegalArgumentException] {
      GraftTools.parsePredicates("""["OR", ["=", "id", 1], ["=", "id", 2]]""")
    }
    intercept[IllegalArgumentException] {
      GraftTools.parsePredicates("""["~", "id", 1]""")
    }
  }

  test("write with graft.handleSchemaDrift auto-adds unknown columns") {
    val (loc, t) = mkTable()
    Seq((200L, "n200", 1, 3.5)).toDF("id", "name", "grp", "score")
      .write.format("graft").option("graft.table.path", loc)
      .option("graft.handleSchemaDrift", "true").mode("append").save()
    val df = spark.read.format("graft").option("graft.table.path", loc).load()
    assert(df.columns.contains("score"))
    assert(df.filter(col("id") === 200).select("score").as[Double].head() == 3.5)
    // pre-drift rows read the new column as null
    assert(df.filter(col("id") === 1).select("score").head().isNullAt(0))
    assert(df.count() == 101)
  }

  test("incremental backup chain restores to the live state") {
    val (_, t) = mkTable()
    val bdir = tmp("graft-chain-")
    GraftTools.backup(t, s"$bdir/full")
    val v0 = t.currentVersion
    t.upsert(Seq((1L, "inc1", 0), (500L, "born", 5)).toDF("id", "name", "grp"))
    t.deleteWhere(col("id") === 50)
    val v1 = GraftTools.backupIncremental(t, s"$bdir/inc1", v0)
    t.upsert(Seq((101L, "new", 9)).toDF("id", "name", "grp"))
    t.deleteWhere(col("id") === 1) // delete a key upserted in the previous increment
    // born-and-died: 500 exists in NO full backup and folds to a chain-final
    // DELETE — replay must treat it as an ignore-delete, never strict
    t.deleteWhere(col("id") === 500)
    GraftTools.backupIncremental(t, s"$bdir/inc2", v1)
    val restored = GraftTools.restoreChain(spark, s"$bdir/full",
      Seq(s"$bdir/inc1", s"$bdir/inc2"), tmp("graft-chain-dest-"),
      Seq("id"), Seq(graft.catalog.HashComponent(Seq("id"), 2)))
    assert(restored.scan().orderBy("id").collect().toSeq ==
      t.scan().orderBy("id").collect().toSeq)
  }

  test("backup chains reject non-unique-PK (auto-inc) tables UP FRONT") {
    // the CDC export never carries the hidden auto_incrementing_id, so the
    // chain's per-user-key fold would pick among a key's concurrent rows
    // nondeterministically and applyChanges would fail late demanding the
    // id — the operator must hear 'use full backups' at export time
    val loc = tmp("graft-chain-ai-")
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "name")
    val t = GraftTable.create(spark, loc, "ai", df.schema, Seq("id"),
      Seq(graft.catalog.HashComponent(Seq("id"), 2)), data = Some(df),
      nonUniqueKey = true)
    val e = intercept[IllegalArgumentException] {
      GraftTools.backupIncremental(t, tmp("graft-chain-ai-inc-"), 1L)
    }
    assert(e.getMessage.contains("full"), e.getMessage)
  }

  test("restoreChain survives a mid-chain type widening (per-increment schemas)") {
    // inc1 predates widenColumnType (physical INT32), inc2 postdates it
    // (physical INT64): pinning the whole chain to inc1's inferred schema
    // made the parquet reader throw on the physical type mismatch; each
    // increment now reads under its own footer schema and casts to the
    // chain's final shape before the fold
    val loc = tmp("graft-widen-src-")
    val df = (1 to 60).map(i => (i.toLong, i)).toDF("id", "v")
    val t = GraftTable.create(spark, loc, "wsrc", df.schema, Seq("id"),
      Seq(graft.catalog.HashComponent(Seq("id"), 2)), data = Some(df))
    val bdir = tmp("graft-widen-b-")
    GraftTools.backup(t, s"$bdir/full")
    val v0 = t.currentVersion
    t.upsert(Seq((1L, -1)).toDF("id", "v"))
    val v1 = GraftTools.backupIncremental(t, s"$bdir/inc1", v0)
    t.widenColumnType("v", org.apache.spark.sql.types.LongType)
    t.upsert(Seq((2L, -2L)).toDF("id", "v"))
    GraftTools.backupIncremental(t, s"$bdir/inc2", v1)
    val restored = GraftTools.restoreChain(spark, s"$bdir/full",
      Seq(s"$bdir/inc1", s"$bdir/inc2"), tmp("graft-widen-dest-"),
      Seq("id"), Seq(graft.catalog.HashComponent(Seq("id"), 2)))
    // dest carries the FULL backup's (pre-widen) schema; values all fit,
    // so the state matches the live table cast back to int
    val got = restored.scan().orderBy("id").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toLong)
    val want = t.scan().orderBy("id").collect()
      .map(r => r.getLong(0) -> r.get(1).toString.toLong)
    assert(got.toSeq == want.toSeq)
  }

  test("restoreChain folds the chain: job count independent of chain length") {
    // the replay folds ALL increments by key into one upsert + one
    // ignore-delete (chain-last action per key), so a 6-step chain must
    // cost the same Spark-job count as any other length — per-step replay
    // paid >=2 commits per increment (the round-11 bench's two most
    // expensive non-streaming queries were exactly this per-step floor)
    val (_, t) = mkTable()
    val bdir = tmp("graft-chainfold-")
    GraftTools.backup(t, s"$bdir/full")
    var v = t.currentVersion
    val incs = (1 to 6).map { i =>
      // gen i: births key 1000i+1, kills the previous gen's key, and
      // rewrites key 7 — the fold must keep only gen 6's value of 7,
      // kill keys 1001..5001, and leave 6001 alive
      t.upsert(Seq((i * 1000L + 1, s"born$i", i), (7L, s"gen$i", 7)).toDF("id", "name", "grp"))
      if (i > 1) t.deleteWhere(col("id") === ((i - 1) * 1000L + 1))
      val p = s"$bdir/inc$i"
      v = GraftTools.backupIncremental(t, p, v)
      p
    }
    def countJobs(body: => GraftTable): (GraftTable, Int) = {
      // count ONLY this thread's jobs (scoped by job group): the shared
      // test session runs background work — an auto-maintenance tick from
      // another suite's leftover table, a draining stream — whose jobs
      // would otherwise land in the counter and break the == assert
      val group = s"chainfold-${java.util.UUID.randomUUID().toString.take(8)}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (js.properties != null &&
              group == js.properties.getProperty("spark.jobGroup.id"))
            jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "chain-fold job count", false)
      try {
        val r = body
        org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark)
        (r, jobs.get())
      } finally {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val (restored, j6) = countJobs(GraftTools.restoreChain(spark, s"$bdir/full",
      incs, tmp("graft-chainfold-dest-"), Seq("id"),
      Seq(graft.catalog.HashComponent(Seq("id"), 2))))
    assert(restored.scan().orderBy("id").collect().toSeq ==
      t.scan().orderBy("id").collect().toSeq)
    assert(restored.scan().filter(col("id") === 7).select("name").as[String].head() == "gen6")
    assert(restored.scan().filter(col("id") > 1000).count() == 1) // only 6001 alive
    // chain-length independence (the fold's whole point): a 2-step prefix
    // of the SAME chain must cost exactly as many Spark jobs as all 6 —
    // restore-create + fold + probes + one upsert + one ignore-delete.
    // Per-step replay paid >= 2 commit jobs per increment.
    val (_, j2) = countJobs(GraftTools.restoreChain(spark, s"$bdir/full",
      incs.take(2), tmp("graft-chainfold-dest2-"), Seq("id"),
      Seq(graft.catalog.HashComponent(Seq("id"), 2))))
    assert(j6 == j2, s"job count must not scale with chain length: 6-chain $j6 vs 2-chain $j2")
    assert(j6 <= 16, s"restoreChain ran $j6 jobs — more than create+fold+apply needs")
  }

  test("streaming: continuous replication applies upserts and deletes") {
    val (loc, src) = mkTable()
    val dest = GraftTools.copyTable(spark, src, tmp("graft-repl-dest-"))
    val q = graft.streaming.GraftStreaming.startReplication(spark, src, dest)
    try {
      src.upsert(Seq((1L, "live", 0)).toDF("id", "name", "grp"))
      src.deleteWhere(col("id") === 2)
      q.processAllAvailable()
      val got = dest.scan().filter(col("id") <= 2).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "live"), got.toString)
      // second wave while the stream is live
      src.upsert(Seq((3L, "wave2", 0)).toDF("id", "name", "grp"))
      q.processAllAvailable()
      assert(dest.scan().filter(col("id") === 3).select("name").as[String].head() == "wave2")
    } finally q.stop()
  }

  test("streaming: writeStream.format('graft') upserts executor-side per micro-batch") {
    val (loc, t) = mkTable()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Int)]
    val ckpt = tmp("graft-sink-ckpt-")
    val q = ms.toDF().toDF("id", "name", "grp")
      .writeStream.format("graft")
      .option("graft.table.path", loc)
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .start()
    try {
      ms.addData((1L, "batch1", 0), (101L, "new1", 1))
      q.processAllAvailable()
      ms.addData((1L, "batch2", 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = t.scan().filter(col("id") === 1 || col("id") === 101)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "batch2", 101L -> "new1"), got.toString)
    assert(t.scan().count() == 101) // 100 original + 1 new key
  }

  test("streaming: sink self-folds its delta backlog via graft.maintain.every") {
    val (loc, t) = mkTable()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Int)]
    val ckpt = tmp("graft-sink-maint-")
    val q = ms.toDF().toDF("id", "name", "grp")
      .writeStream.format("graft")
      .option("graft.table.path", loc)
      .option("graft.maintain.every", "4")
      .option("graft.maintain.maxDeltaFiles", "4")
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .start()
    try {
      // 8 one-row micro-batches: each commits a delta fileset; the policy
      // runs at batches 4 and 8 and the tiny-base delta ratio trips it
      (1 to 8).foreach { i =>
        ms.addData((200L + i, s"m$i", 0))
        q.processAllAvailable()
      }
    } finally q.stop()
    // the stream folded its own backlog: everything still live is the
    // batch-8 minor fold's output (a deltamerge fileset bounded by the
    // writer partition count), not one fileset per micro-batch
    assert(t.meta.deltaFiles.nonEmpty &&
      t.meta.deltaFiles.forall(_.path.contains("_deltamerge_")),
      t.meta.deltaFiles.map(_.path).toString)
    assert(t.meta.deltaFiles.size < 8, t.meta.deltaFiles.map(_.path).toString)
    assert(t.scan().count() == 108)
    assert(t.scan().filter(col("id") === 208).select("name").as[String].head() == "m8")
    // maintenance is CDC-silent: the change stream sees the 8 upserts once
    // each, the folds zero times
    val cs = graft.streaming.GraftStreaming.changeStream(spark, t)
    val name = s"cs_maint_${System.nanoTime()}"
    val q2 = cs.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    assert(spark.table(name).filter(col("id") >= 200).count() == 8)
  }

  test("streaming: change stream emits delta commits with ops") {
    val (loc, t) = mkTable()
    t.upsert(Seq((1L, "x", 0)).toDF("id", "name", "grp"))
    t.deleteWhere(col("id") === 2)
    val cs = graft.streaming.GraftStreaming.changeStream(spark, t)
    val name = s"cs_spec_${System.nanoTime()}"
    val q = cs.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val ops = spark.table(name).groupBy("_graft_op").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ops == Map("U" -> 1, "D" -> 1), ops.toString)
  }

  test("streaming: change-stream rows across a widen and an added column read like changesSince") {
    val loc = tmp("graft-src-cs-alter-")
    val data = (1 to 4).map(i => (i.toLong, i * 10, s"n$i")).toDF("id", "v", "name")
    val t = GraftTable.create(spark, loc, "csa", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), data = Some(data))
    val v0 = t.currentVersion
    t.upsert(Seq((1L, 100, "a")).toDF("id", "v", "name"))
    t.deleteWhere(col("id") === 3)
    t.widenColumnType("v", org.apache.spark.sql.types.LongType)
    t.addColumn("w", org.apache.spark.sql.types.IntegerType, default = Some("7"))
    t.upsert(Seq((2L, 5L, "b", 9)).toDF("id", "v", "name", "w"))
    // the V1 op-tagged source still serves readStream.format("graft")
    val cs = graft.streaming.GraftStreaming.changeStream(spark, t)
    assert(cs.queryExecution.analyzed.getClass.getSimpleName == "StreamingRelation",
      cs.queryExecution.analyzed.toString)
    val name = s"cs_alter_${System.nanoTime()}"
    val q = cs.writeStream.format("memory").queryName(name).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table(name)
    assert(out.columns.toSeq == Seq("id", "v", "name", "w", "_graft_op", "_graft_seq"))
    val pre = out.filter(col("id") === 1L).collect()
    assert(pre.length == 1 && pre.head.getAs[Long]("v") == 100L &&
      pre.head.getAs[Int]("w") == 7 && pre.head.getAs[String]("name") == "a",
      pre.mkString(", "))
    // each key's latest streamed image is what changesSince reports
    val latest = out.collect().groupBy(_.getLong(0)).map { case (k, rs) =>
      val r = rs.maxBy(_.getAs[Long]("_graft_seq"))
      k -> (if (r.getAs[String]("_graft_op") == "D") None
        else Some(Seq(r.get(1), r.get(2), r.get(3))))
    }
    def cdc() = t.changesSince(v0, t.currentVersion).collect().map { r =>
      r.getLong(0) -> (if (r.getAs[Boolean]("_deleted")) None
        else Some(Seq(r.get(1), r.get(2), r.get(3))))
    }.toMap
    assert(latest == Map(1L -> Some(Seq(100L, "a", 7)), 2L -> Some(Seq(5L, "b", 9)),
      3L -> None), latest.toString)
    assert(cdc() == latest)
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try assert(cdc() == latest)
    finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  test("format('graft') reads through the V2 scan: a PK get runs no job") {
    val (loc, t) = mkTable()
    t.upsert(Seq((5L, "five", 5)).toDF("id", "name", "grp"))
    val get = spark.read.format("graft").option("graft.table.path", loc).load()
      .filter(col("id") === 5L).select("name")
    val ((jobs, _), rows) = TaggedJobs.count(spark)(get.collect())
    assert(rows.map(_.getString(0)).toSeq == Seq("five"))
    assert(jobs == 0, s"$jobs jobs")
    assert(get.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.exists(_.isInstanceOf[graft.sources.v2.GraftV2Scan]),
      get.queryExecution.optimizedPlan.toString)
    // load() asks for the schema and then the table: one handle, one set
    // of manifest reads
    def reads(body: => Any): Long = {
      val before = graft.catalog.TableMeta.versionFileReads.get()
      body
      graft.catalog.TableMeta.versionFileReads.get() - before
    }
    val opts = Map("graft.table.path" -> loc, "graft.snapshotVersion" -> "1")
    val oneBuild = reads(new graft.sources.DefaultSource().getTable(
      new org.apache.spark.sql.types.StructType(), Array.empty,
      scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava))
    assert(oneBuild > 0)
    assert(reads(spark.read.format("graft").options(opts).load()) == oneBuild)
    // a location with no table fails the read at load, as before
    val missing = tmp("graft-src-missing-") + "/none"
    val e = intercept[IllegalArgumentException](
      spark.read.format("graft").option("graft.table.path", missing).load())
    assert(e.getMessage.contains("no graft table"), e.getMessage)
  }
}
