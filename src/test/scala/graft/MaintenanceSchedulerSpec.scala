package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.{GraftTable, MaintenanceScheduler}

/**
 * Background maintenance scheduler (MaintenanceManager analog): a batch
 * table under sustained mutation with NO explicit maintain calls must
 * keep its delta pressure bounded through the scheduler alone, stay
 * correct under racing writers (ticks yield on commit races), and stop
 * ticking when unscheduled.
 */
class MaintenanceSchedulerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def deltaRatio(t: GraftTable): Double = {
    val m = t.meta
    val d = m.deltaFiles.map(f => GraftTable.fileSize(f.path)).sum.toDouble
    val b = m.baseFiles.map(f => GraftTable.fileSize(f.path)).sum.toDouble max 1.0
    d / b
  }

  test("sustained batch writes self-maintain under the schedule (no explicit maintain)") {
    val wh = Files.createTempDirectory("graft-msched-").toString
    val df = (1 to 600).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/ms", "ms", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    val e = MaintenanceScheduler.schedule(spark, t.location,
      intervalMs = 60_000L, // timer effectively off — ticks driven below,
      // deterministically interleaved with the writes (a wall-clock race
      // in a unit test flakes); the timer wiring itself is covered by the
      // "unschedule stops the timer" test
      ioBudgetBytes = 64L << 20, minScore = 0.0,
      maxDeltaRatio = 0.15, maxDeltaFiles = 4)
    try {
      val model = scala.collection.mutable.Map[Long, Int]()
      (1 to 600).foreach(i => model(i.toLong) = i)
      for (round <- 1 to 12) {
        val ks = (1 to 40).map(j => ((round * 37 + j * 13) % 600 + 1).toLong).distinct
        t.upsert(ks.map(k => (k, round * 1000)).toDF("k", "v"))
        ks.foreach(k => model(k) = round * 1000)
        val del = ((round * 91) % 600 + 1).toLong
        t.deleteWhere(col("k") === del)
        model.remove(del)
        MaintenanceScheduler.tick(spark, e) // the schedule's own work unit
      }
      // drain residual pressure the last write round left behind
      MaintenanceScheduler.tick(spark, e)
      assert(e.ticks.get() >= 13)
      assert(e.actions.get() > 0, "the scheduler must have maintained")
      assert(e.lastError.isEmpty, s"ticks must not error: ${e.lastError}")
      assert(t.meta.deltaFiles.size <= 4,
        s"file-count bound breached: ${t.meta.deltaFiles.size}")
      assert(deltaRatio(t) <= 0.15 + 1e-9,
        s"delta-ratio bound breached: ${deltaRatio(t)}")
      val got = t.scan().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == model.toMap, "maintained state must equal the model")
    } finally MaintenanceScheduler.unschedule(t.location)
  }

  test("auto-wiring: a fresh create self-maintains with ZERO explicit schedule calls") {
    // graft.maintain.auto defaults ON (reference: the MaintenanceManager
    // starts with the tserver unconditionally, util/maintenance_manager.cc:736)
    // — create() must register the table by itself; the test never calls
    // schedule()/maintain(). Ticks are pumped deterministically through the
    // AUTO-registered entry (a wall-clock timer race flakes in a unit test).
    val wh = Files.createTempDirectory("graft-mauto-").toString
    val df = (1 to 600).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/ma", "ma", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    try {
      val e = MaintenanceScheduler.status(t.location).getOrElse(
        fail("create() must auto-register the table for maintenance"))
      assert(e.auto, "the entry must be marked auto (clearAuto must see it)")
      val model = scala.collection.mutable.Map[Long, Int]()
      (1 to 600).foreach(i => model(i.toLong) = i)
      for (round <- 1 to 10) {
        // full-width rounds: each delta ≈ the base in bytes, so un-folded
        // pressure breaches the DEFAULT ratio bound (0.2) within two
        // rounds — 40-row deltas never would at this row width
        t.upsert((1 to 600).map(k => (k.toLong, round * 100 + k)).toDF("k", "v"))
        (1 to 600).foreach(k => model(k.toLong) = round * 100 + k)
        val del = ((round * 91) % 600 + 1).toLong
        t.deleteWhere(col("k") === del)
        model.remove(del)
        MaintenanceScheduler.tick(spark, e)
      }
      MaintenanceScheduler.tick(spark, e) // drain the final round's residue
      assert(e.lastError.isEmpty, s"auto ticks must not error: ${e.lastError}")
      assert(e.actions.get() > 0, "the auto schedule must have maintained")
      // the DEFAULT policy bounds (ratio 0.2, files 64) must hold — at unit
      // scale the ratio is the binding bound (parquet per-file overhead)
      assert(t.meta.deltaFiles.size <= 64)
      assert(deltaRatio(t) <= 0.2 + 1e-9,
        s"default delta-ratio bound breached: ${deltaRatio(t)}")
      val got = t.scan().collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == model.toMap, "auto-maintained state must equal the model")
      // self-clean: dropping the table removes its schedule
      GraftTable.drop(t.location)
      assert(MaintenanceScheduler.status(t.location).isEmpty,
        "drop() must unschedule")
    } finally MaintenanceScheduler.unschedule(t.location)
  }

  test("auto-wiring: opt-out conf, explicit knobs win, clearAuto spares explicit entries") {
    val wh = Files.createTempDirectory("graft-mauto2-").toString
    val df = (1 to 50).map(i => (i.toLong, i)).toDF("k", "v")
    // opt-out: no registration under graft.maintain.auto=false
    spark.conf.set("graft.maintain.auto", "false")
    val off = try GraftTable.create(spark, s"$wh/off", "off", df.schema,
      Seq("k"), data = Some(df))
    finally spark.conf.unset("graft.maintain.auto")
    assert(MaintenanceScheduler.status(off.location).isEmpty,
      "graft.maintain.auto=false must suppress registration")
    // an EXPLICIT schedule at a location survives both a re-create (auto
    // must not clobber its knobs) and clearAuto (which removes only auto)
    val loc = s"$wh/keep"
    val t = GraftTable.create(spark, loc, "keep", df.schema, Seq("k"),
      data = Some(df))
    try {
      assert(MaintenanceScheduler.status(loc).exists(_.auto))
      val explicit = MaintenanceScheduler.schedule(spark, loc,
        intervalMs = 123_000L, maxDeltaFiles = 7)
      GraftTable.drop(loc) // drop unschedules...
      assert(MaintenanceScheduler.status(loc).isEmpty)
      GraftTable.create(spark, loc, "keep", df.schema, Seq("k"), data = Some(df))
      assert(MaintenanceScheduler.status(loc).exists(_.auto),
        "re-create at a free location auto-registers again")
      MaintenanceScheduler.schedule(spark, loc, intervalMs = 123_000L,
        maxDeltaFiles = 7)
      // a later create at the SAME scheduled location keeps the explicit entry
      MaintenanceScheduler.autoSchedule(spark, loc)
      val kept = MaintenanceScheduler.status(loc).get
      assert(!kept.auto && kept.intervalMs == 123_000L && kept.maxDeltaFiles == 7,
        "autoSchedule must never clobber an explicit schedule")
      MaintenanceScheduler.clearAuto()
      assert(MaintenanceScheduler.status(loc).exists(!_.auto),
        "clearAuto must spare explicit entries")
      assert(explicit != null)
    } finally MaintenanceScheduler.unschedule(loc)
  }

  test("a tick racing a writer yields and retries; state stays exact") {
    val wh = Files.createTempDirectory("graft-msched2-").toString
    val df = (1 to 400).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/ms2", "ms2", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    val e = MaintenanceScheduler.schedule(spark, t.location,
      intervalMs = 60_000L, ioBudgetBytes = 64L << 20, minScore = 0.0,
      maxDeltaRatio = 0.1, maxDeltaFiles = 3)
    try {
      // writer thread hammers upserts while ticks run on this thread —
      // every maintenance op inside the tick validates its expected
      // version at commit and yields on a race (never corrupts, never
      // throws out of the tick)
      @volatile var stop = false
      val writer = new Thread(() => {
        var r = 0
        while (!stop) {
          r += 1
          try t.upsert(Seq(((r % 400 + 1).toLong, -r)).toDF("k", "v"))
          catch { case _: Throwable => () } // commit retry exhaustion: irrelevant here
        }
      }, "msched-race-writer")
      writer.start()
      try (1 to 15).foreach(_ => MaintenanceScheduler.tick(spark, e))
      finally { stop = true; writer.join(30000) }
      // whatever interleaving happened, a final quiesced sweep converges
      MaintenanceScheduler.tick(spark, e)
      assert(t.meta.deltaFiles.size <= 3 || deltaRatio(t) <= 0.1 + 1e-9 ||
        { MaintenanceScheduler.tick(spark, e); t.meta.deltaFiles.size <= 3 },
        s"bounds must hold once quiesced: files=${t.meta.deltaFiles.size} ratio=${deltaRatio(t)}")
      // exactness: every key present exactly once with a sane value
      val rows = t.scan().collect()
      assert(rows.length == 400)
      assert(rows.map(_.getLong(0)).distinct.length == 400)
    } finally MaintenanceScheduler.unschedule(t.location)
  }

  test("SQL face: maintain_schedule / status / unschedule; unschedule stops the timer") {
    val wh = Files.createTempDirectory("graft-msched3-").toString
    val df = (1 to 100).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/ms3", "ms3", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    // pile up tail delta files past the bound before the schedule starts
    // (a bounded commit writes one delta file, so three commits)
    (1 to 3).foreach(i => t.upsert(df.withColumn("v", col("v") + 1000 * i)))
    assert(t.meta.deltaFiles.size > 2, "the writes must breach the file bound")
    spark.conf.set("spark.sql.catalog.gmsched",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmsched.warehouse", wh)
    val row = spark.sql(
      "CALL gmsched.system.maintain_schedule('ms3', interval_ms => 50, " +
        "max_delta_ratio => 0.05, max_delta_files => 2)").collect().head
    assert(row.getLong(1) == 50L)
    assert(MaintenanceScheduler.scheduled.contains(t.location))
    // real timer ticks: wait for the daemon to fold the files back under
    // the bound. The contract is BOUNDS HELD, not zero deltas — at
    // unit-test scale parquet per-file overhead makes
    // the base look huge, so the delta RATIO sits under max_delta_ratio
    // already and the correctly-idle scheduler must not churn it further.
    val deadline = System.currentTimeMillis() + 20000
    def bounded = t.meta.deltaFiles.size <= 2 && deltaRatio(t) <= 0.05 + 1e-9
    while (!bounded && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(bounded,
      s"the timer must have restored the bounds: files=${t.meta.deltaFiles.size} " +
        s"ratio=${deltaRatio(t)}")
    val st = spark.sql("CALL gmsched.system.maintain_schedule_status('ms3')").collect()
    assert(st.length == 1 && st.head.getLong(0) > 0)
    assert(spark.sql("CALL gmsched.system.maintain_unschedule('ms3')")
      .collect().head.getBoolean(0))
    assert(!MaintenanceScheduler.scheduled.contains(t.location))
    // no more ticks after unschedule (poll past one old interval)
    val after = MaintenanceScheduler.status(t.location)
    assert(after.isEmpty)
    assert(!spark.sql("CALL gmsched.system.maintain_unschedule('ms3')")
      .collect().head.getBoolean(0), "second unschedule reports not-scheduled")
    // warehouse-level CALL face rides the same registry, keyed by the
    // catalog's warehouse dir
    val wrow = spark.sql(
      "CALL gmsched.system.maintain_schedule_warehouse(interval_ms => 60000)")
      .collect().head
    assert(wrow.getString(0) == wh && wrow.getLong(1) == 60000L)
    assert(MaintenanceScheduler.scheduled.contains(wh))
    assert(spark.sql("CALL gmsched.system.maintain_unschedule_warehouse()")
      .collect().head.getBoolean(0))
    assert(!MaintenanceScheduler.scheduled.contains(wh))
  }

  test("stats auto-refresh: the tick re-analyzes once version drift passes the knob") {
    val wh = Files.createTempDirectory("graft-msched5-").toString
    val df = (1 to 100).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/ms5", "ms5", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.analyze() // baseline stats at v2
    val e = MaintenanceScheduler.schedule(spark, t.location,
      intervalMs = 60_000L, analyzeEveryVersions = Some(3L))
    try {
      // drift 0: no re-analyze
      MaintenanceScheduler.tick(spark, e)
      assert(t.meta.analyzedVersion.contains(2L))
      // 3 commits of drift → the tick re-analyzes (which itself commits)
      (1 to 3).foreach(i => t.upsert(Seq((i.toLong, -i)).toDF("k", "v")))
      MaintenanceScheduler.tick(spark, e)
      assert(e.lastError.isEmpty, e.lastError.toString)
      val av = t.meta.analyzedVersion.get
      assert(av >= 5L, s"stats must have refreshed: analyzedVersion $av")
      // and the refresh resets the drift: an immediate tick is a no-op
      val v = t.currentVersion
      MaintenanceScheduler.tick(spark, e)
      assert(t.currentVersion == v)
    } finally MaintenanceScheduler.unschedule(t.location)
  }

  test("derived tables refresh under the schedule: stale rollup heals per-table and per-warehouse") {
    val wh = Files.createTempDirectory("graft-msched7-").toString
    val df = (1 to 200).map(i => (i.toLong, i % 7, i * 10)).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/base7", "base7", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = graft.tools.MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/roll7", buckets = 2)
    // per-TABLE schedule on the rollup's own location: staleness lives in
    // the SOURCE's version, the rollup itself is delta-free — the tick
    // must probe the watermark before its clean fast path
    val e = MaintenanceScheduler.schedule(spark, rollup.location,
      intervalMs = 60_000L)
    try {
      MaintenanceScheduler.tick(spark, e)
      assert(e.lastError.isEmpty, e.lastError.toString)
      val a0 = e.actions.get()
      t.upsert(Seq((1L, 1, 999_999)).toDF("k", "g", "v"))
      t.deleteWhere(col("g") === 3) // vanish a whole group
      MaintenanceScheduler.tick(spark, e)
      assert(e.lastError.isEmpty, e.lastError.toString)
      assert(e.actions.get() > a0, "the tick must have refreshed the rollup")
      val got = rollup.scan().collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = t.scan().groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"rollup must equal a fresh recompute:\n$got\nvs\n$want")
      assert(!got.contains(3), "the vanished group must be tombstoned")
      // current again: an immediate tick leaves the rollup's version alone
      val v = rollup.currentVersion
      MaintenanceScheduler.tick(spark, e)
      assert(rollup.currentVersion == v)
    } finally MaintenanceScheduler.unschedule(rollup.location)
    // WAREHOUSE schedule: the sweep finds the stale derived table itself
    val ew = MaintenanceScheduler.scheduleWarehouse(spark, wh,
      intervalMs = 60_000L)
    try {
      t.upsert(Seq((2L, 2, 555_555)).toDF("k", "g", "v"))
      MaintenanceScheduler.tick(spark, ew)
      assert(ew.lastError.isEmpty, ew.lastError.toString)
      val got = rollup.scan().filter(col("g") === 2).collect()
        .map(r => (r.getLong(1), r.getLong(2))).head
      val want = t.scan().filter(col("g") === 2)
        .agg(count(lit(1)), sum("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).head
      assert(got == want, s"warehouse tick must refresh the rollup: $got vs $want")
    } finally MaintenanceScheduler.unschedule(wh)
  }

  test("chained rollups converge under warehouse ticks (base -> r1 -> r2)") {
    val wh = Files.createTempDirectory("graft-msched9-").toString
    val df = (1 to 300).map(i => (i % 3, i % 12, i.toLong, i * 5L))
      .toDF("a", "b", "k", "v")
    val t = GraftTable.create(spark, s"$wh/base9", "base9", df.schema,
      Seq("a", "b", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    // a rollup's PK IS its group columns, so a coarser rollup composes
    // over it directly; r2's refresh rides r1's own change stream
    val r1 = graft.tools.MaterializedRollup.build(spark, t, Seq("a", "b"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/r9a", buckets = 2)
    val r2 = graft.tools.MaterializedRollup.build(spark, r1, Seq("a"),
      Seq("groups" -> "count(*)", "sv2" -> "sum(sv)"), s"$wh/r9b", buckets = 2)
    val e = MaintenanceScheduler.scheduleWarehouse(spark, wh,
      intervalMs = 60_000L)
    try {
      t.upsert(Seq((0, 0, 12L, 999999L)).toDF("a", "b", "k", "v"))
      t.deleteWhere(col("b") === 7) // empties (a,b) groups across a values
      // tick 1 refreshes whichever of r1/r2 it visits first; tick 2
      // closes the chain regardless of sweep order (watermarks converge)
      MaintenanceScheduler.tick(spark, e)
      MaintenanceScheduler.tick(spark, e)
      assert(e.lastError.isEmpty, e.lastError.toString)
      val got = r2.scan().collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = t.scan().groupBy("a")
        .agg(countDistinct(col("b")).as("groups"), sum("v").as("sv2"))
        .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want, s"chained rollup diverged:\n$got\nvs\n$want")
    } finally MaintenanceScheduler.unschedule(wh)
  }

  test("rollup stays exact under racing base writers and REAL ticks (25ms storm)") {
    val wh = Files.createTempDirectory("graft-msched8-").toString
    val df = (1 to 400).map(i => (i.toLong, i % 8, i)).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/base8", "base8", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = graft.tools.MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/roll8", buckets = 2)
    // real timer at 25ms: refreshes race the writer thread's commits; a
    // refresh must never corrupt the rollup (conservative watermark: a
    // fresh computed from a newer live base than its recorded v1 only
    // OVER-covers — the next refresh re-derives anything it missed)
    val e = MaintenanceScheduler.schedule(spark, rollup.location,
      intervalMs = 25)
    val rnd = new scala.util.Random(17)
    try {
      for (i <- 1 to 25) {
        val k = (rnd.nextInt(400) + 1).toLong
        if (rnd.nextInt(4) == 0) t.delete(Seq((k)).toDF("k").select(
          lit((k % 8).toInt).as("g"), col("k")), ignore = true)
        else t.upsert(Seq((k, (k % 8).toInt, rnd.nextInt(100000)))
          .toDF("k", "g", "v"))
        if (i % 7 == 0) Thread.sleep(30) // let ticks interleave for real
      }
      // quiesce: one final deterministic refresh, then the invariant
      graft.tools.MaterializedRollup.refresh(spark, rollup)
      val got = rollup.scan().collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = t.scan().groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want,
        s"rollup diverged under the storm:\n$got\nvs\n$want")
    } finally MaintenanceScheduler.unschedule(rollup.location)
  }

  test("warehouse schedule ranks across tables: the dirtiest tablet anywhere folds first") {
    val wh = Files.createTempDirectory("graft-msched4-").toString
    val df = (1 to 400).map(i => (i.toLong, i)).toDF("k", "v")
    val a = GraftTable.create(spark, s"$wh/wa", "wa", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val b = GraftTable.create(spark, s"$wh/wb", "wb", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    // b is far more delta-pressured than a; flush both so the plans carry
    // tablet coordinates (the ranking is metadata-only)
    a.upsert(df.filter(col("k") % 40 === 0).withColumn("v", lit(-1)))
    a.compactDeltas()
    b.upsert(df.withColumn("v", col("v") + 7))
    b.compactDeltas()
    val e = MaintenanceScheduler.scheduleWarehouse(spark, wh,
      intervalMs = 60_000L, // ticks driven synchronously below
      ioBudgetBytes = 1L, // no budget: the ranking itself is under test
      minScore = 0.0, maxDeltaRatio = 10.0, maxDeltaFiles = 1000)
    try {
      // with a 1-byte budget nothing runs, but the ranked list must put
      // b's tablets first — probe the same merged plan the tick consults
      val ranked = graft.tools.GraftTools
        .maintainWarehouseBudgeted(spark, wh, ioBudgetBytes = 0L, minScore = 0.0)
      assert(ranked.isEmpty)
      val topTable = {
        val plans = Seq("wa" -> a, "wb" -> b).flatMap { case (n, t) =>
          t.maintenancePlan().map(n -> _)
        }.sortBy(-_._2.score)
        plans.head._1
      }
      assert(topTable == "wb", "the pressured table must rank first")
      // now a real budget sized for ONE action: exactly b's dirtiest tablet
      val one = Seq("wa" -> a, "wb" -> b)
        .flatMap { case (n, t) => t.maintenancePlan().map(n -> _) }
        .maxBy(_._2.score)
      val ran = graft.tools.GraftTools.maintainWarehouseBudgeted(
        spark, wh, ioBudgetBytes = one._2.ioBytes, minScore = 0.0)
      assert(ran.map(_._1) == Seq("wb"),
        s"the cross-table budget must pay b first, ran $ran")
      // unbudgeted ticks drain the rest and both tables stay exact
      (1 to 3).foreach { _ =>
        MaintenanceScheduler.tick(spark,
          MaintenanceScheduler.scheduleWarehouse(spark, wh,
            intervalMs = 60_000L, ioBudgetBytes = Long.MaxValue,
            minScore = 0.0, maxDeltaRatio = 0.0001, maxDeltaFiles = 1))
      }
      assert(a.meta.deltaFiles.isEmpty && b.meta.deltaFiles.isEmpty)
      assert(a.scan().count() == 400 && b.scan().count() == 400)
      assert(b.scan().filter(col("v") === col("k") + 7).count() == 400)
    } finally MaintenanceScheduler.unschedule(wh)
  }

  test("auto warehouse start: a dirty pre-session table heals on first catalog open, zero CALLs") {
    val wh = Files.createTempDirectory("graft-msched5-").toString
    // "previous session": create and dirty two tables — one top-level, one
    // under a NAMESPACE dir (the sweep must recurse) — then drop every
    // schedule that session left behind (auto entries die with it)
    val df = (1 to 500).map(i => (i.toLong, i)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/pre", "pre", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$wh/ns1"))
    val tn = GraftTable.create(spark, s"$wh/ns1/deep", "deep", df.schema,
      Seq("k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    // 24 commits: dirty past the 0.2 delta:base byte ratio (a bounded
    // commit writes one delta file)
    (1 to 24).foreach { r =>
      t.upsert(df.filter(col("k") % 7 === r % 7).withColumn("v", lit(r)))
      tn.upsert(df.filter(col("k") % 5 === r % 5).withColumn("v", lit(r)))
    }
    MaintenanceScheduler.clearAuto()
    assert(MaintenanceScheduler.status(t.location).isEmpty &&
      MaintenanceScheduler.status(wh).isEmpty, "the previous session is gone")
    assert(t.meta.deltaFiles.nonEmpty && tn.meta.deltaFiles.nonEmpty,
      "both tables must start dirty")
    // "new session": the FIRST catalog open auto-starts the warehouse
    // schedule (no load(), no CALL, no create)
    val cat = "gmsauto"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"SHOW TABLES IN $cat").collect()
    val e = MaintenanceScheduler.status(wh).getOrElse(
      fail("the warehouse schedule must auto-start on first catalog open"))
    try {
      assert(e.auto, "the entry must be auto (clearAuto owns it)")
      assert(e.warehouse, "the entry must be warehouse-scoped")
      // the schedule's own work unit, driven synchronously (the timer's
      // first tick is interval away — a wall-clock wait would flake)
      MaintenanceScheduler.tick(spark, e)
      assert(e.lastError.isEmpty, s"tick must not error: ${e.lastError}")
      assert(e.actions.get() > 0, "the tick must have maintained something")
      Seq(t, tn).foreach { tb =>
        assert(tb.meta.deltaFiles.size <= 64 &&
          deltaRatio(tb) <= 0.2 + 1e-9,
          s"${tb.location}: bounds must hold after the tick " +
            s"(files ${tb.meta.deltaFiles.size}, ratio ${deltaRatio(tb)})")
      }
      assert(t.scan().count() == 500 && tn.scan().count() == 500)
      // never-clobber: a later explicit warehouse schedule REPLACES the
      // auto entry (explicit knobs win), and clearAuto then spares it
      val explicit = MaintenanceScheduler.scheduleWarehouse(spark, wh,
        intervalMs = 60_000L, ioBudgetBytes = 1L << 20)
      MaintenanceScheduler.clearAuto()
      assert(MaintenanceScheduler.status(wh).contains(explicit),
        "clearAuto must spare the explicit warehouse schedule")
      // and an auto start NEVER clobbers the explicit entry
      graft.table.MaintenanceScheduler.autoScheduleWarehouse(spark, wh)
      assert(MaintenanceScheduler.status(wh).contains(explicit))
    } finally MaintenanceScheduler.unschedule(wh)
  }
}
