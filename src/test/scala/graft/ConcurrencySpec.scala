package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/** Task-side gate for the MERGE-vs-fold race: the UDF body references this
  * object statically (never serialized), so local-mode tasks and the test
  * thread share the latches. Disarmed (null) the gate is a no-op. */
object MergeRaceGate {
  @volatile var reached: java.util.concurrent.CountDownLatch = _
  @volatile var release: java.util.concurrent.CountDownLatch = _
  def arm(): Unit = {
    reached = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
  def disarm(): Unit = { reached = null; release = null }
  def pass(id: Long): Long = {
    val r = reached
    val rel = release
    if (r != null && rel != null) {
      r.countDown()
      rel.await(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    id
  }
}

/** A graft catalog that counts its opens. */
class CountingGraftCatalog extends graft.sources.v2.GraftCatalog {
  override def initialize(name: String,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Unit = {
    CountingGraftCatalog.opened.incrementAndGet()
    super.initialize(name, options)
  }
}

object CountingGraftCatalog {
  val opened = new java.util.concurrent.atomic.AtomicInteger
}

/** Concurrent-writer behavior of the PK mutation surface: the bounded
  * optimistic retry (the engine analog of the reference client's
  * transparent retry of concurrent-modification errors,
  * client/client.h:429-531) re-applies a conflicted op against the new
  * head, so racing ETL writers all land; with retries disabled the
  * first conflict surfaces, and either way the losers leave no orphans
  * and the version chain stays consistent. */
class ConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkTable(): GraftTable = {
    val loc = Files.createTempDirectory("graft-conc-").toString
    val data = (1 to 20).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    GraftTable.create(spark, loc, "t", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), data = Some(data))
  }

  test("racing writers all commit: conflicts retry against the new head") {
    val t = mkTable()
    val v0 = t.currentVersion
    val n = 4
    val barrier = new CyclicBarrier(n)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        // distinct key range per writer, released together: every writer
        // reads the same head, so all but one conflict on each version
        val rows = (0 until 5).map(j => (100L + i * 10 + j, s"w$i-$j")).toDF("id", "name")
        barrier.await()
        try if (i % 2 == 0) t.upsert(rows) else t.insert(rows)
        catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(failures.isEmpty, s"retry should absorb conflicts: ${failures}")
    // each writer committed exactly one version; every batch fully visible
    assert(t.currentVersion == v0 + n)
    assert(t.scan().filter("id >= 100").count() == n * 5L)
    // the losers' swept attempts left no residue
    assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
  }

  test("expiry racing an expiry: a listed manifest the rival deleted first") {
    val t = mkTable() // v1
    (2 to 5).foreach(i => t.upsert(Seq((i.toLong, s"u$i")).toDF("id", "name")))
    val rows = t.scan().as[(Long, String)].collect().toSet
    val meta = java.nio.file.Paths.get(t.location, "_graft")
    def manifest(v: Long) = meta.resolve(s"v$v.json")
    val early = (1L to 2L).map(v => v -> Files.readAllBytes(manifest(v)))
    // the rival expiry: commits its mark (v6, floor 4), then drops v1-v3
    assert(t.expireVersions(retainLast = 2).nonEmpty)
    assert(t.meta.historyFloor == 4)
    // what the other expiry saw: it listed v1-v3 and read v1 and v2
    // before the rival deleted them, and v3 was gone when it read it
    early.foreach { case (v, bytes) => Files.write(manifest(v), bytes) }
    Files.createSymbolicLink(manifest(3), meta.resolve("v3.gone"))
    t.expireVersions(retainLast = 4) // prefix v1, v2; v3 survives, unread
    Files.delete(manifest(3))
    assert(t.meta.operation == "expire_versions" && t.currentVersion == 7)
    assert(t.meta.historyFloor == 4, "the floor never drops below the rival's")
    assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
    assert(t.scan().as[(Long, String)].collect().toSet == rows)
  }

  test("graft.commit.maxRetries=0 restores throw-on-first-conflict") {
    val t = mkTable()
    val v0 = t.currentVersion
    spark.conf.set("graft.commit.maxRetries", "0")
    try {
      val n = 4
      val barrier = new CyclicBarrier(n)
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ok = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until n).map { i =>
        new Thread(() => {
          val rows = (0 until 5).map(j => (100L + i * 10 + j, s"w$i-$j")).toDF("id", "name")
          barrier.await()
          try { t.upsert(rows); ok.incrementAndGet(); () }
          catch { case e: Throwable => failures.add(e) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      // whoever won committed one version each; every loser surfaced the
      // commit-guard conflict, not some other error, and left nothing behind
      assert(ok.get() >= 1)
      assert(ok.get() + failures.size == n)
      assert(t.currentVersion == v0 + ok.get())
      failures.forEach { e =>
        assert(e.isInstanceOf[IllegalStateException] &&
          e.getMessage.startsWith("concurrent commit detected"), e.toString)
      }
      assert(t.scan().filter("id >= 100").count() == ok.get() * 5L)
      assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
    } finally spark.conf.unset("graft.commit.maxRetries")
  }

  test("racing maintenance passes yield instead of throwing") {
    val t = mkTable()
    t.upsert((1 to 10).map(i => (i.toLong, s"d$i")).toDF("id", "name"))
    val barrier = new CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        barrier.await()
        try results.add(t.maintain(maxDeltaRatio = 0.0001))
        catch { case e: Throwable => results.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // a pass that loses the commit race (or finds nothing left) reports
    // false; neither may crash the maintenance loop
    assert(results.stream.allMatch(_.isInstanceOf[java.lang.Boolean]), results.toString)
    assert(results.stream.anyMatch(_ == true))
    assert(t.meta.deltaFiles.isEmpty)
    assert(t.scan().count() == 20)
    assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
  }

  test("writer + maintenance + CDC replication race: destination converges") {
    // the session's moving parts together: a foreground writer (retrying
    // commit conflicts), a concurrent per-tablet maintenance loop
    // (yielding when preempted), and continuous replication off the
    // change stream (folds must be CDC-silent) — the destination must
    // converge to exactly the source's final state
    val src = mkTable()
    val dest = {
      // bootstrap from the current snapshot, then tail changes (the
      // backup-then-replicate pattern: the change stream emits mutation
      // commits only, never the initial base load)
      val loc = Files.createTempDirectory("graft-conc-dest-").toString
      GraftTable.create(spark, loc, "dest", src.meta.schema, Seq("id"),
        Seq(graft.catalog.HashComponent(Seq("id"), 2)), data = Some(src.scan()))
    }
    val q = graft.streaming.GraftStreaming.startReplication(spark, src, dest)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintThread = new Thread(() => {
      while (!stop.get()) {
        src.maintain(maxDeltaRatio = 0.001, perTablet = true)
        Thread.sleep(50)
      }
    })
    try {
      maintThread.start()
      (1 to 6).foreach { wave =>
        src.upsert((1 to 10).map(i => (i.toLong, s"w$wave-$i")).toDF("id", "name"))
        if (wave % 2 == 0) src.delete(Seq(100L + wave).map(k => (k, "")).toDF("id", "name"),
          ignore = true)
      }
      stop.set(true); maintThread.join()
      q.processAllAvailable()
    } finally { stop.set(true); q.stop() }
    val srcState = src.scan().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val destState = dest.scan().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1 to 10).forall(i => srcState(i.toLong) == s"w6-$i"))
    assert(destState == srcState,
      s"replication diverged: missing=${srcState.keySet -- destState.keySet} " +
        s"extra=${destState.keySet -- srcState.keySet}")
    assert(graft.tools.GraftTools.fsck(src.location).isEmpty)
  }

  test("SQL MERGE racing a tablet fold: the fold wins, the MERGE aborts cleanly") {
    // RowLevelOps stamps its target version at PLAN time (optimistic); a
    // maintenance fold that commits while the statement is executing must
    // make the MERGE abort — cleanly: no partial delta fileset, no version
    // churn, and an immediate retry (planned against the new head) lands.
    // The interleave is deterministic: a gate UDF inside the MERGE source
    // blocks the write job mid-flight while the fold commits.
    val t = mkTable()
    t.upsert((1 to 8).map(i => (i.toLong, s"d$i")).toDF("id", "name"))
    val v0 = t.currentVersion
    val whName = java.nio.file.Paths.get(t.location).getFileName.toString
    spark.conf.set("spark.sql.catalog.gconc",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gconc.warehouse",
      java.nio.file.Paths.get(t.location).getParent.toString)
    spark.udf.register("race_gate", (id: Long) => MergeRaceGate.pass(id))
    Seq((1L, "merged"), (200L, "new"))
      .toDF("id", "name").createOrReplaceTempView("race_src")
    val mergeSql =
      s"""MERGE INTO gconc.`$whName` t
         |USING (SELECT race_gate(id) AS id, name FROM race_src) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET name = s.name
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    MergeRaceGate.arm()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val merger = new Thread(() => {
      try spark.sql(mergeSql).collect()
      catch { case e: Throwable => err.set(e) }
    })
    merger.start()
    // the merge job is now running (its write already stamped v0+1) …
    assert(MergeRaceGate.reached.await(60, java.util.concurrent.TimeUnit.SECONDS),
      "merge never reached the gate")
    // … and the fold commits v0+1 out from under it
    t.compactTablet(bucket = Some(0))
    assert(t.currentVersion == v0 + 1)
    MergeRaceGate.release.countDown()
    merger.join(120000)
    val e = err.get()
    assert(e != null, "the MERGE should have lost the optimistic race")
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("concurrent commit"), chain)
    // clean abort: no merge rows, no version churn, swept attempt dir
    assert(t.currentVersion == v0 + 1)
    assert(t.scan().filter("id = 200").count() == 0)
    assert(t.scan().filter("id = 1").collect().head.getString(1) == "d1")
    assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
    // a retry plans against the new head and lands
    MergeRaceGate.disarm()
    spark.sql(mergeSql).collect()
    assert(t.scan().filter("id = 200").count() == 1)
    assert(t.scan().filter("id = 1").collect().head.getString(1) == "merged")
    assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
  }

  test("transaction does NOT retry: optimistic abort on concurrent commit") {
    val t = mkTable()
    val e = intercept[IllegalStateException] {
      t.transaction { tx =>
        tx.upsert(Seq((200L, "txn")).toDF("id", "name"))
        // a writer commits mid-transaction → the txn's snapshot is stale
        t.upsert(Seq((201L, "rival")).toDF("id", "name"))
      }
    }
    assert(e.getMessage.startsWith("concurrent commit detected"))
    assert(e.isInstanceOf[graft.catalog.ConcurrentCommitException], e.toString)
    // the rival's commit stands; the transaction's op does not
    assert(t.scan().filter("id = 201").count() == 1)
    assert(t.scan().filter("id = 200").count() == 0)
  }

  /** Runs `write` on another thread with [[MergeRaceGate]] armed, and
    * `probe` on this one once the write's batch reached the gate; the
    * write then completes. */
  private def whileBlocked[A](write: => Unit)(probe: => A): A = {
    MergeRaceGate.arm()
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => try write catch { case e: Throwable => err.set(e) })
    writer.start()
    try {
      assert(MergeRaceGate.reached.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the write never reached the gate")
      probe
    } finally {
      MergeRaceGate.release.countDown()
      writer.join(120000)
      MergeRaceGate.disarm()
      assert(err.get() == null, String.valueOf(err.get()))
    }
  }

  private val gate = udf((id: Long) => MergeRaceGate.pass(id))

  test("a static-planned engine collect leaves other threads' queries adaptive") {
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val t = mkTable()
    // a small batch that is not local rows: its driver commit collects it
    // through a static plan, blocked in the gate
    val batch = spark.range(100, 104)
      .select(gate(col("id")).as("id"), concat(lit("g"), col("id").cast("string")).as("name"))
    val plan = whileBlocked(t.upsert(batch)) {
      spark.range(100).groupBy((col("id") % 3).as("g")).count().queryExecution.executedPlan
    }
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], plan.treeString)
    assert(t.scan().filter(col("id") >= 100).count() == 4)
  }

  test("a job-path engine write leaves other threads' parquet timestamps alone") {
    val loc = Files.createTempDirectory("graft-conc-ts-").toString
    val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05")
    val data = Seq((1L, ts)).toDF("id", "ts")
    val t = GraftTable.create(spark, s"$loc/t", "t", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), data = Some(data))
    val plain = s"$loc/plain"
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try whileBlocked(t.upsert(spark.range(2, 6).select(gate(col("id")).as("id"), lit(ts).as("ts")))) {
      data.write.parquet(plain)
    } finally spark.conf.unset("graft.mor.broadcastBytes")
    def tsType(file: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
      try r.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType
        .getPrimitiveTypeName.toString
      finally r.close()
    }
    val plainFile = Files.list(java.nio.file.Paths.get(plain)).iterator().asScala
      .map(_.toString).find(_.endsWith(".parquet")).get
    // the session's type (INT96 by default) for the plain write, INT64
    // micros for every engine file
    assert(tsType(plainFile) == "INT96")
    assert(t.meta.deltaFiles.filter(_.rows > 0).nonEmpty)
    t.meta.deltaFiles.filter(_.rows > 0).foreach(f => assert(tsType(f.path) == "INT64", f.path))
    assert(t.scan().count() == 5)
  }

  test("an engine action's clone serves its session's index and opens no catalog") {
    val wh = Files.createTempDirectory("graft-conc-clone-").toString
    val data = (1L to 64L).map(i => (i, s"n$i")).toDF("id", "name")
    val t = GraftTable.create(spark, s"$wh/base", "base", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idx = graft.tools.SecondaryIndex.build(spark, t, "name", s"$wh/by_name", 4)
    spark.conf.set("spark.sql.catalog.gclone", classOf[CountingGraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gclone.warehouse", wh)
    // the session's current catalog is the graft catalog, open already
    spark.conf.set("spark.sql.defaultCatalog", "gclone")
    try {
      val q = spark.table("base").filter(col("name") === "n7")
      val opened = CountingGraftCatalog.opened.get()
      assert(opened > 0)
      graft.plans.ServingStats.reset(spark)
      val staticQ = GraftSqlBridge.planIn(q, Map("spark.sql.adaptive.enabled" -> "false"))
      assert(staticQ.sparkSession ne spark)
      assert(staticQ.collect().map(_.getLong(0)).toSeq == Seq(7L))
      assert(CountingGraftCatalog.opened.get() == opened, "the clone opened a catalog")
      val served = graft.plans.ServingStats.snapshot(spark).toMap.get(idx.location)
      assert(served.exists(_.serves == 1), served.toString)
      assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    } finally spark.conf.unset("spark.sql.defaultCatalog")
  }
}
