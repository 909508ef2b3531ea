package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * History retention GC (expireVersions — the reference's
 * ancient-history-mark analog): without it every full compaction doubles
 * storage forever, because superseded base filesets stay referenced by
 * old version manifests. Expiry must reclaim exactly the exclusively-
 * referenced files, keep every surviving read path exact, error cleanly
 * below the floor, and leave fsck healthy.
 */
class VersionExpirySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dataFiles(loc: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val d = Paths.get(loc, "data")
    scala.util.Using.resource(Files.walk(d)) { s =>
      s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
  }

  test("expire reclaims superseded filesets; surviving reads stay exact") {
    val loc = Files.createTempDirectory("graft-expire-").toString
    val df = (1 to 300).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, loc, "exp", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df)) // v1
    t.upsert(df.filter(col("k") <= 100).withColumn("v", col("v") + 1000)) // v2
    t.deleteWhere(col("k") === 7) // v3
    t.compact() // v4: fresh base — v1's base + v2/v3 deltas now superseded
    t.upsert(Seq((200L, -5)).toDF("k", "v")) // v5
    val before = dataFiles(loc)
    val ts2 = graft.catalog.TableMeta.read(loc, 2L).timestampMs
    val vHead = t.currentVersion
    assert(vHead == 5)

    // age gate first: nothing is old enough → no-op
    assert(t.expireVersions(retainLast = 1, olderThanMs = 3600_000L).isEmpty)

    // expire everything but the newest two (v4, v5) + the mark commit
    val gone = t.expireVersions(retainLast = 2, olderThanMs = 0L)
    assert(gone.nonEmpty)
    assert(t.currentVersion == vHead + 1, "the mark commits one version")
    assert(t.meta.operation == "expire_versions")
    assert(t.meta.historyFloor == 4, s"floor: ${t.meta.historyFloor}")
    // v1-v3 manifests gone, v4+ kept
    (1L to 3L).foreach(v => assert(!Files.exists(
      Paths.get(loc, "_graft", s"v$v.json")), s"v$v must be expired"))
    (4L to vHead).foreach(v => assert(Files.exists(
      Paths.get(loc, "_graft", s"v$v.json")), s"v$v must survive"))
    // the pre-compaction base + folded deltas are reclaimed; every file
    // the survivors reference is intact
    val after = dataFiles(loc)
    assert(after.size < before.size, "superseded filesets must be reclaimed")
    val referenced = (t.meta.baseFiles ++ t.meta.deltaFiles).map(_.path).toSet
    assert(referenced.subsetOf(after))

    // current state exact
    val got = t.scan().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == 299 && got(1L) == 1001 && got(200L) == -5 &&
      !got.contains(7L))
    // time travel above the floor works; below it errors clearly
    assert(t.scan(Some(4L)).count() == 299)
    val err = intercept[IllegalArgumentException](t.scan(Some(2L)).count())
    assert(err.getMessage.contains("expired"))
    // every other time-travel face hits the same floor check: SQL VERSION
    // AS OF / TIMESTAMP AS OF and the format reader's snapshot options
    def assertExpired(read: => Any): Unit = {
      val e = intercept[Exception](read)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toSeq
      assert(msgs.exists(m => m != null &&
        m.contains("expired: history retained from v4")), msgs.mkString(" <- "))
    }
    val dir = Paths.get(loc)
    spark.conf.set("spark.sql.catalog.gexpaof", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gexpaof.warehouse", dir.getParent.toString)
    val sqlName = s"gexpaof.`${dir.getFileName}`"
    assert(spark.sql(s"SELECT * FROM $sqlName VERSION AS OF 4").count() == 299)
    assertExpired(spark.sql(s"SELECT * FROM $sqlName VERSION AS OF 2").count())
    assertExpired(spark.sql(
      s"SELECT * FROM $sqlName TIMESTAMP AS OF timestamp_millis(${ts2}L)").count())
    def fmt = spark.read.format("graft").option("graft.table.path", loc)
    assertExpired(fmt.option("graft.snapshotVersion", "2").load().count())
    assertExpired(fmt.option("graft.snapshotTimestampMs", ts2.toString).load().count())
    // CDC above the floor works; spanning it errors
    assert(t.changesSince(4L, 5L).count() == 1)
    intercept[IllegalArgumentException](t.changes(2L, 5L))
    // fsck: the missing prefix is intentional, not a chain gap
    assert(graft.tools.GraftTools.fsck(loc).isEmpty,
      graft.tools.GraftTools.fsck(loc).toString)
    // a second expiry with nothing eligible is a no-op
    assert(t.expireVersions(retainLast = 10, olderThanMs = 0L).isEmpty)
  }

  test("retention floors at a registered derived table's watermark — a stale derived table never forces a rebuild") {
    val loc = Files.createTempDirectory("graft-expfloor-").toString
    val df = (1L to 200L).map(i => (i, s"n_$i", i % 7)).toDF("k", "name", "v")
    val t = GraftTable.create(spark, loc, "expfloor", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df)) // v1
    val idx = graft.tools.SecondaryIndex.build(spark, t,
      "name", Files.createTempDirectory("graft-expfloor-i-").toString)
    try {
      // watermark = 1; now the base moves on while the index misses every
      // refresh tick (session down / index in another warehouse)
      t.upsert(Seq((3L, "renamed_3", 0L)).toDF("k", "name", "v")) // v2
      t.deleteWhere(col("k") === 9) // v3
      t.compact() // v4
      t.upsert(Seq((4L, "renamed_4", 1L)).toDF("k", "name", "v")) // v5
      // aggressive retention: without the floor this expires v1 (the
      // watermark) and the next refresh can only error into a rebuild
      t.expireVersions(retainLast = 1, olderThanMs = 0L)
      assert(Files.exists(Paths.get(loc, "_graft", "v1.json")),
        "the derived watermark version must survive ANY retention")
      // the refresh still lands (CDC from v1), and serving is exact
      assert(graft.tools.SecondaryIndex.refresh(spark, idx))
      val hit = graft.tools.SecondaryIndex.lookup(spark, idx,
        Seq("renamed_3", "n_9", "n_5")).collect()
      assert(hit.map(_.getLong(0)).toSet == Set(3L, 5L), hit.mkString(","))
      // once the index is current, the floor advances and expiry proceeds
      val gone2 = t.expireVersions(retainLast = 1, olderThanMs = 0L)
      assert(gone2.nonEmpty, "a current derived table must not block expiry")
      assert(!Files.exists(Paths.get(loc, "_graft", "v1.json")),
        "past the watermark the old versions expire normally")
      // dead registration: drop the index → the marker cleans up on the
      // next expiry and no floor remains
      GraftTable.drop(idx.location)
      t.upsert(Seq((5L, "renamed_5", 2L)).toDF("k", "name", "v"))
      t.expireVersions(retainLast = 1, olderThanMs = 0L)
      assert(!Files.isDirectory(Paths.get(loc, "_derived")) ||
        scala.util.Using.resource(Files.list(Paths.get(loc, "_derived")))(
          s => !s.iterator().hasNext),
        "a dropped derived table's marker must clean up")
    } finally GraftTable.drop(idx.location, force = true)
  }

  test("expiry through another spelling of the source path still honours the derived watermark") {
    val loc = Files.createTempDirectory("graft-expspell-").toString
    val df = (1L to 50L).map(i => (i, s"n_$i")).toDF("k", "name")
    val t = GraftTable.create(spark, loc, "expspell", df.schema, Seq("k"),
      data = Some(df)) // v1
    val idx = graft.tools.SecondaryIndex.build(spark, t,
      "name", Files.createTempDirectory("graft-expspell-i-").toString)
    spark.conf.set("graft.derived.buildGraceMs", "0")
    try {
      t.upsert(Seq((3L, "renamed_3")).toDF("k", "name")) // v2
      t.upsert(Seq((4L, "renamed_4")).toDF("k", "name")) // v3
      Seq(s"$loc/", s"$loc/../${Paths.get(loc).getFileName}").foreach { spelled =>
        assert(GraftTable.load(spark, spelled).expireVersions(1, 0L).isEmpty,
          s"expiry through '$spelled' must floor at the index watermark")
        assert(graft.tools.DerivedTables.registered(loc).nonEmpty,
          s"expiry through '$spelled' must keep the live index registered")
      }
      assert(Files.exists(Paths.get(loc, "_graft", "v1.json")))
      assert(graft.tools.SecondaryIndex.refresh(spark, idx))
      assert(graft.tools.SecondaryIndex.lookup(spark, idx, Seq("renamed_3", "n_4"))
        .collect().map(_.getLong(0)).toSet == Set(3L))
    } finally {
      spark.conf.unset("graft.derived.buildGraceMs")
      GraftTable.drop(idx.location, force = true)
    }
  }

  test("a build in flight (marker without watermark yet) floors retention for its grace window") {
    val loc = Files.createTempDirectory("graft-expbuild-").toString
    val df = (1L to 50L).map(i => (i, i * 2)).toDF("k", "v")
    val t = GraftTable.create(spark, loc, "expbuild", df.schema, Seq("k"),
      data = Some(df)) // v1
    t.upsert(Seq((1L, 100L)).toDF("k", "v")) // v2
    t.compact() // v3
    // an index build starts HERE: it registers its marker (recording the
    // current version 3) and will scan v3 — but its watermark property
    // does not exist until the build finishes, maybe much later
    val pendingIdx = Files.createTempDirectory("graft-expbuild-i-").toString + "/idx"
    graft.tools.DerivedTables.register(t, pendingIdx)
    t.upsert(Seq((2L, 200L)).toDF("k", "v")) // v4
    t.upsert(Seq((3L, 300L)).toDF("k", "v")) // v5
    // age every manifest 2h so the retention's age gate passes everywhere
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.list(Paths.get(loc, "_graft"))) { s =>
      s.iterator().asScala.filter(_.getFileName.toString.matches("v\\d+\\.json"))
        .foreach { p =>
          val aged = Files.readString(p).replaceAll(
            "\"timestampMs\"\\s*:\\s*\\d+",
            s""""timestampMs":${System.currentTimeMillis() - 7200_000L}""")
          Files.writeString(p, aged)
        }
    }
    // a retention tick with a 1h grace: the young marker's recorded floor
    // (v3) must survive even though every manifest is old enough
    t.expireVersions(retainLast = 1, olderThanMs = 3600_000L)
    assert(Files.exists(Paths.get(loc, "_graft", "v3.json")),
      "an in-flight build's registration-time version must survive")
    assert(!Files.exists(Paths.get(loc, "_graft", "v1.json")),
      "versions below the marker floor still expire")
    // a ZERO-grace tick (retainLast-only retention) still protects the
    // young marker: the protection window floors at the fixed build grace
    // (graft.derived.buildGraceMs, default 5 min), never at the caller's
    // olderThanMs — the round-15 hole where expireVersions(1, 0) killed an
    // in-flight build's registration instantly
    t.expireVersions(retainLast = 1, olderThanMs = 0L)
    assert(Files.exists(Paths.get(loc, "_graft", "v3.json")),
      "retainLast-only retention must still honor the build grace")
    // age the marker past the build grace: NOW the watermark-less marker
    // is a dead registration (crashed build) — it cleans, the floor lifts
    val marker = scala.util.Using.resource(
      Files.list(Paths.get(loc, "_derived")))(s => s.iterator().next())
    Files.setLastModifiedTime(marker, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 600_000L))
    t.expireVersions(retainLast = 1, olderThanMs = 0L)
    assert(!Files.exists(Paths.get(loc, "_graft", "v3.json")),
      "past the grace a watermark-less marker is dead and expiry proceeds")
    assert(scala.util.Using.resource(Files.list(Paths.get(loc, "_derived")))(
      s => !s.iterator().hasNext), "the dead marker must clean up")
  }

  test("scheduler runs history GC when a retention is configured") {
    val wh = Files.createTempDirectory("graft-expire3-").toString
    val df = (1 to 80).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/e3", "e3", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.upsert(df.withColumn("v", col("v") + 1))
    t.compact() // v3 — v1/v2 now superseded history
    val e = graft.table.MaintenanceScheduler.schedule(spark, t.location,
      intervalMs = 60_000L, historyRetentionMs = Some(0L))
    try {
      graft.table.MaintenanceScheduler.tick(spark, e)
      assert(e.lastError.isEmpty, e.lastError.toString)
      assert(t.meta.historyFloor == 3,
        s"the tick must have expired the prefix: floor ${t.meta.historyFloor}")
      assert(t.scan().count() == 80)
      // second tick: nothing eligible, no churn (version stays put)
      val v = t.currentVersion
      graft.table.MaintenanceScheduler.tick(spark, e)
      assert(t.currentVersion == v, "an ineligible expiry must not commit")
    } finally graft.table.MaintenanceScheduler.unschedule(t.location)
  }

  test("expiry never deletes files outside the table location (zero-copy registration)") {
    // a registered table's v1 references the user's raw parquet IN PLACE;
    // after compaction supersedes it, expiry must reclaim only files under
    // the table's own location — deleting the registered source would
    // corrupt data the engine does not own (the same invariant as drop)
    val wh = Files.createTempDirectory("graft-expire4-").toString
    (1 to 60).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(3, col("k")).write.parquet(s"$wh/raw")
    val rawFiles = dataFilesUnder(s"$wh/raw")
    assert(rawFiles.size >= 3)
    val t = GraftTable.register(spark, s"$wh/reg", "reg", s"$wh/raw", Seq("k"))
    t.upsert(Seq((1L, "x")).toDF("k", "v"))
    t.compact() // own base now; the raw files are superseded history
    val gone = t.expireVersions(retainLast = 1, olderThanMs = 0L)
    assert(gone.nonEmpty)
    assert(t.meta.historyFloor > 1)
    rawFiles.foreach(p => assert(Files.exists(Paths.get(p)),
      s"registered source file must survive expiry: $p"))
    assert(gone.forall(p => p.contains("/reg/") || p.contains("v1.json") ||
      p.contains("v2.json")), gone.toString)
    assert(t.scan().count() == 60)
  }

  private def dataFilesUnder(dir: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(Files.walk(Paths.get(dir))) { s =>
      s.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .map(_.toString).toSet
    }
  }

  test("incremental backup chains above the floor survive expiry; below it they refuse") {
    val wh = Files.createTempDirectory("graft-expire5-").toString
    val df = (1 to 120).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/e5", "e5", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df)) // v1
    t.upsert(df.filter(col("k") <= 10).withColumn("v", lit(0))) // v2
    t.compact() // v3
    graft.tools.GraftTools.backup(t, s"$wh/full", Some(3L)) // base at v3
    t.upsert(Seq((5L, 555)).toDF("k", "v")) // v4
    t.deleteWhere(col("k") === 100) // v5
    val head = graft.tools.GraftTools.backupIncremental(t, s"$wh/inc1", 3L)
    assert(head == 5L)
    // expire v1/v2 — the chain's base (v3) and increments stay readable
    assert(t.expireVersions(retainLast = 3, olderThanMs = 0L).nonEmpty)
    assert(t.meta.historyFloor == 3)
    // a NEW incremental from the surviving base still works post-expiry
    t.upsert(Seq((7L, 777)).toDF("k", "v"))
    graft.tools.GraftTools.backupIncremental(t, s"$wh/inc2", 5L)
    // an incremental whose base fell below the floor refuses with the
    // clean retention error, not a missing-file crash
    val err = intercept[IllegalArgumentException](
      graft.tools.GraftTools.backupIncremental(t, s"$wh/bad", 2L))
    assert(err.getMessage.contains("backup chain broken") &&
      err.getMessage.contains("FULL backup"),
      s"want the chain-specific retention guidance, got: ${err.getMessage}")
    // the surviving chain restores to the live state exactly
    val r = graft.tools.GraftTools.restoreChain(spark, s"$wh/full",
      Seq(s"$wh/inc1", s"$wh/inc2"), s"$wh/restored", Seq("k"),
      Seq(HashComponent(Seq("k"), 2)))
    val got = r.scan().collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    val want = t.scan().collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(got == want, "restored chain must equal the live table")
  }

  test("SQL face: CALL expire_versions") {
    val wh = Files.createTempDirectory("graft-expire2-").toString
    val df = (1 to 50).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/e2", "e2", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.upsert(df.withColumn("v", col("v") + 1))
    t.compact()
    spark.conf.set("spark.sql.catalog.gexp",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gexp.warehouse", wh)
    val rows = spark.sql(
      "CALL gexp.system.expire_versions('e2', retain_last => 1)").collect()
    assert(rows.nonEmpty)
    assert(t.meta.historyFloor == 3)
    assert(t.scan().count() == 50)
    assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
  }
}
