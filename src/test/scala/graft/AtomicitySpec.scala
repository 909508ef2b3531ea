package graft

import java.nio.file.Files
import java.util.concurrent.CyclicBarrier

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, TableMeta}
import graft.table.GraftTable

/** Commit-protocol atomicity: the CREATE_NEW metadata guard under a true
  * two-thread race, DSv1 INSERT OVERWRITE as one atomic version, and
  * change-stream silence across delta compaction. */
class AtomicitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-atomic-").toString

  private def mkTable(loc: String): GraftTable = {
    val data = (1 to 50).map(i => (i.toLong, s"n$i")).toDF("id", "name")
    GraftTable.create(spark, loc, "t", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), data = Some(data))
  }

  test("commit guard: two writers racing to one version — exactly one commits") {
    val loc = tmp()
    mkTable(loc)
    val base = TableMeta.readCurrent(loc)
    // Race the same next version from two threads released by a barrier.
    // With the atomic CREATE_NEW guard exactly one write may ever win,
    // regardless of interleaving; repeat to exercise several schedules.
    (1 to 20).foreach { round =>
      val next = base.copy(version = base.version + round,
        operation = s"race_$round")
      val barrier = new CyclicBarrier(2)
      val losses = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (1 to 2).map { _ =>
        new Thread(() => {
          barrier.await()
          try TableMeta.write(next)
          catch { case _: IllegalStateException => losses.incrementAndGet() }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(losses.get() == 1, s"round $round: expected exactly one loser")
    }
    // the winners' chain is intact and current
    assert(TableMeta.currentVersion(loc) == base.version + 20)
  }

  test("DSv1 SQL INSERT OVERWRITE: one atomic version; failure keeps snapshot") {
    val loc = tmp()
    val t = mkTable(loc)
    val tbl = s"dsv1_ow_${System.nanoTime()}"
    spark.sql(
      s"CREATE TABLE $tbl USING graft OPTIONS ('graft.table.path' '$loc')")
    try {
      val v0 = t.currentVersion
      spark.sql(s"INSERT OVERWRITE TABLE $tbl SELECT id, concat('x', id) " +
        "FROM range(5) ")
      assert(t.currentVersion == v0 + 1, "overwrite must be exactly one commit")
      assert(t.scan().count() == 5)
      // mid-statement failure (dup keys trip the commit guard): nothing
      // commits, the pre-statement snapshot survives — the old
      // deleteWhere-then-upsert path would have truncated first
      val v1 = t.currentVersion
      intercept[Exception] {
        spark.sql(s"INSERT OVERWRITE TABLE $tbl " +
          "SELECT CAST(1 AS BIGINT), 'a' UNION ALL SELECT CAST(1 AS BIGINT), 'b'")
      }
      assert(t.currentVersion == v1)
      assert(t.scan().count() == 5)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("lost-commit residue: fsck names exactly the orphans, repair sweeps them") {
    val loc = tmp()
    val t = mkTable(loc)
    t.upsert(Seq((1L, "delta1")).toDF("id", "name"))
    val before = t.scan().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // simulate the loser of a commit race: its fileset reached the data dir
    // but its metadata write lost the CREATE_NEW race and never landed
    val dataDir = java.nio.file.Paths.get(loc, "data")
    val srcDelta = Files.list(dataDir).iterator().asScala
      .find(_.getFileName.toString.contains("_delta_")).get
    val orphanDir = dataDir.resolve("c99_delta_lostrace")
    Files.walk(srcDelta).iterator().asScala.toSeq.foreach { p =>
      val dest = orphanDir.resolve(srcDelta.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else Files.copy(p, dest)
    }
    val orphanFiles = Files.walk(orphanDir).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSet
    assert(orphanFiles.nonEmpty)
    // fsck reports each orphan file and nothing else
    val issues = graft.tools.GraftTools.fsck(loc)
    val orphanIssues = issues.filter(_.startsWith("orphan data file"))
    assert(orphanIssues.size == orphanFiles.size, issues.mkString("\n"))
    assert(orphanFiles.forall(f => orphanIssues.exists(_.contains(f))))
    assert(issues.size == orphanIssues.size, s"unexpected extra issues: $issues")
    // the default grace window protects a freshly-written fileset (it may
    // be an IN-FLIGHT commit that hasn't swung metadata yet) ...
    assert(graft.tools.GraftTools.fsckRepair(loc).isEmpty)
    assert(orphanFiles.forall(f => Files.exists(java.nio.file.Paths.get(f))))
    // ... past the grace window, repair deletes exactly the orphans (and
    // their emptied dirs) — graceMs=0 stands in for "old enough"
    val deleted = graft.tools.GraftTools.fsckRepair(loc, graceMs = 0L)
    assert(deleted.toSet == orphanFiles)
    assert(!Files.exists(orphanDir))
    // ...after which fsck is clean and the table is untouched
    assert(graft.tools.GraftTools.fsck(loc).isEmpty)
    assert(t.scan().collect().map(r => r.getLong(0) -> r.getString(1)).toMap == before)
  }

  test("fsckRepair keeps a live writer's empty directories inside the grace window") {
    val loc = tmp()
    mkTable(loc)
    // what an in-flight fileset write holds before its tasks commit
    val live = java.nio.file.Paths.get(loc, "data", "c9_base_x",
      "_temporary", "0", "_temporary")
    Files.createDirectories(live)
    assert(graft.tools.GraftTools.fsckRepair(loc).isEmpty)
    assert(Files.isDirectory(live), "a fresh writer dir must survive the sweep")
    Thread.sleep(5) // past the directories' mtimes for the zero grace below
    graft.tools.GraftTools.fsckRepair(loc, graceMs = 0L)
    assert(!Files.exists(live.getParent.getParent.getParent),
      "past the grace window the empty tree is swept")
  }

  test("changeStream: a delta fold re-emits nothing") {
    val loc = tmp()
    val t = mkTable(loc)
    t.upsert(Seq((1L, "changed")).toDF("id", "name"))
    t.upsert(Seq((2L, "changed2")).toDF("id", "name"))
    t.compactDeltas() // minor fold: rewrites latest-per-key into deltamerge
    val cs = graft.streaming.GraftStreaming.changeStream(spark, t)
    val name = s"cs_fold_${System.nanoTime()}"
    val q = cs.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // the two upserts each once; the fold's rewritten fileset zero times
    assert(spark.table(name).count() == 2)
    assert(spark.table(name).filter(col(GraftTable.OpCol) === "U").count() == 2)
  }

  test("changeStream: uncommitted attempt files are never emitted") {
    // a commit attempt that lost the metadata race (or died mid-write)
    // leaves parquet files on disk with NO metadata commit — the change
    // stream is version-driven, so those phantom rows never stream (the
    // old directory-glob source could observe them before the sweep)
    val loc = tmp()
    val t = mkTable(loc)
    t.upsert(Seq((1L, "real")).toDF("id", "name"))
    val phantomDir = java.nio.file.Paths.get(loc, "data", "c99_delta_phantom")
    Seq((7L, "phantom")).toDF("id", "name")
      .withColumn(GraftTable.OpCol, lit("U"))
      .withColumn(GraftTable.SeqCol, lit(99L))
      .write.parquet(phantomDir.toString)
    val cs = graft.streaming.GraftStreaming.changeStream(spark, t)
    val name = s"cs_phantom_${System.nanoTime()}"
    val q = cs.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table(name).count() == 1) // the committed upsert only
    assert(spark.table(name).filter(col("id") === 7L).count() == 0)
  }

  test("changeStream: deep backlogs drain in bounded micro-batches") {
    val loc = tmp()
    val t = mkTable(loc)
    (1 to 6).foreach(i => t.upsert(Seq((i.toLong, s"v$i")).toDF("id", "name")))
    val cs = spark.readStream.format("graft").option("path", loc)
      .option("graft.maxVersionsPerTrigger", "2").load()
    var batches = 0
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    val q = cs.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val c = b.count()
        if (c > 0) { batches += 1; counts += c }
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    // 6 upsert commits at ≤2 versions per trigger: all rows arrive, split
    // across at least 3 micro-batches instead of one giant catch-up batch
    assert(counts.sum == 6, counts.toString)
    assert(batches >= 3, s"$batches batches: $counts")
  }
}
