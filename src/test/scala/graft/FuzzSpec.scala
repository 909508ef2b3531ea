package graft

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.{GraftTable, PrimaryKeyException}
import graft.tools.GraftTools

/**
 * Randomized op-sequence test against an in-memory model — mirrors the
 * reference's fuzz-itest.cc (random INSERT/UPSERT/UPDATE/DELETE/COMPACT over
 * a tiny keyspace, TestOpType :122-163, RunFuzzCase :761, keyspace ~5-50
 * :78), including reads at historical snapshots (READ_AT_SNAPSHOT) and diff
 * scans between snapshot pairs.
 */
class FuzzSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Keyspace = 8

  /** A fresh table location, alone in its own new directory: the SQL
    * catalogs of a case take that directory as their warehouse, and
    * opening a catalog arms and schedules every derived table under it. */
  private def tableDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("table").toString

  /** Footer audit of a random end state: every writer's files (commits,
    * compactions, tablet and minor folds, tail merges, clustering, txns)
    * match the physical schema the manifest records. */
  private def assertFooters(t: GraftTable, seed: Long): Unit = {
    val audit = t.verifyFileSchemas()
    assert(audit.isEmpty, s"footer audit seed=$seed: $audit")
  }

  /** `check` of the end state at `loc` read through SQL V2 — a catalog
    * `cat` over its parent dir — with the default reader, then with the
    * row-based overlay (`graft.mor.columnar=false`). */
  private def sqlReads(loc: String, cat: String)(
      check: (org.apache.spark.sql.DataFrame, String) => Unit): Unit = {
    val whName = java.nio.file.Paths.get(loc).getFileName.toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      java.nio.file.Paths.get(loc).getParent.toString)
    check(spark.table(s"$cat.`$whName`"), "SQL V2")
    spark.conf.set("graft.mor.columnar", "false")
    try check(spark.table(s"$cat.`$whName`"), "SQL V2 row-based")
    finally spark.conf.unset("graft.mor.columnar")
  }

  /** The end state read through `spark.read.format("graft")` at the
    * current version and at one `earlier` recorded version (with the model
    * state it held): each read equals `scan()` at that version and, under
    * `stateOf` (which may depend on the version's schema), the model. An
    * earlier version history GC expired must refuse on both faces. */
  private def formatReads[A](t: GraftTable, want: A, earlier: Option[(Long, A)],
      seed: Long)(stateOf: (org.apache.spark.sql.DataFrame, Option[Long]) => A): Unit = {
    def fmt(v: Option[Long]) = {
      val r = spark.read.format("graft").option("graft.table.path", t.location)
      v.fold(r)(x => r.option("graft.snapshotVersion", x.toString))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def expired(read: => Any): Boolean = {
      val e = intercept[Exception](read)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains("expired")))
    }
    ((None, want) +: earlier.map { case (v, m) => (Some(v), m) }.toSeq).foreach {
      case (v, m) =>
        val tag = s"format('graft') at ${v.fold("the current version")(x => s"v$x")} seed=$seed"
        if (v.exists(_ < t.meta.historyFloor))
          assert(expired(fmt(v).load().collect()) && expired(t.scan(v).collect()),
            s"$tag must refuse below the history floor")
        else {
          val df = fmt(v).load()
          assert(rows(df) == rows(t.scan(v)), s"$tag disagrees with scan()")
          assert(stateOf(df, v) == m, s"$tag disagrees with the model")
        }
    }
  }

  private def runCase(seed: Long, nOps: Int,
      hash: Seq[HashComponent] = Seq(HashComponent(Seq("k"), 2))): Unit = {
    val rnd = new Random(seed)
    val loc = tableDir(s"graft-fuzz-$seed-")
    val t = GraftTable.create(spark, loc, "kv",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", IntegerType))),
      keys = Seq("k"), hash = hash)
    val model = mutable.Map[Int, Option[Int]]()
    // recorded snapshots: version -> model copy
    val snaps = mutable.ArrayBuffer[(Long, Map[Int, Option[Int]])]()
    var mid: Option[(Long, Map[Int, Option[Int]])] = None // the format reads' earlier version

    def df(k: Int, v: Int) = Seq((k, v)).toDF("k", "v")
    def keysDf(k: Int) = Seq(k).toDF("k")

    for (i <- 0 until nOps) {
      if (i == nOps / 2) mid = Some((t.currentVersion, model.toMap))
      val k = rnd.nextInt(Keyspace)
      val v = rnd.nextInt(1000)
      rnd.nextInt(10) match {
        case 0 => // INSERT: errors if present
          if (model.contains(k)) intercept[PrimaryKeyException](t.insert(df(k, v)))
          else { t.insert(df(k, v)); model(k) = Some(v) }
        case 1 => // INSERT_IGNORE
          t.insertIgnore(df(k, v))
          if (!model.contains(k)) model(k) = Some(v)
        case 2 => // UPSERT
          t.upsert(df(k, v)); model(k) = Some(v)
        case 3 => // UPDATE: errors if missing
          if (!model.contains(k)) intercept[PrimaryKeyException](t.update(df(k, v)))
          else { t.update(df(k, v)); model(k) = Some(v) }
        case 4 => // UPDATE_IGNORE
          t.update(df(k, v), ignore = true)
          if (model.contains(k)) model(k) = Some(v)
        case 5 => // DELETE: errors if missing
          if (!model.contains(k)) intercept[PrimaryKeyException](t.delete(keysDf(k)))
          else { t.delete(keysDf(k)); model.remove(k) }
        case 6 => // DELETE_IGNORE
          t.delete(keysDf(k), ignore = true); model.remove(k)
        case 7 => // MAINTENANCE (no logical change): whole-table compact,
          // one random tablet's MAJOR fold, a delta flush (full or
          // tail-only minor pass), or an analyze stats commit — all must
          // leave the visible state untouched
          rnd.nextInt(8) match {
            case 0 => t.compact()
            case 1 => t.compactTablet(
              bucket = Some(rnd.nextInt(GraftTable.totalBuckets(t.meta))))
            case 2 => t.compactDeltas(tailOnly = rnd.nextBoolean())
            case 3 => t.analyze()
            case 4 => t.mergeTailDeltas() // in-place tail-merge, no routing
            case 5 => t.maintain(ioBudgetBytes = 1L << rnd.nextInt(31)) // budgeted plan
            case 6 => t.expireVersions(retainLast = 2 + rnd.nextInt(4)) // history GC
            case 7 => t.cluster(Seq("k", "v"), nFiles = 1 + rnd.nextInt(3)) // z-rewrite
          }
        case 8 => // SNAPSHOT: remember version + model state
          snaps += ((t.currentVersion, model.toMap))
        case 9 => // TRANSACTION: upsert(k) + strict delete(k2) commit as one
          // version, or — when k2 is missing — abort as one (the upsert
          // must NOT land even though it is valid on its own)
          val k2 = (k + 1 + rnd.nextInt(Keyspace - 1)) % Keyspace // k2 != k
          def txnOps(tx: graft.table.GraftTxn): Unit = {
            tx.upsert(df(k, v)); tx.delete(keysDf(k2))
          }
          if (model.contains(k2)) {
            t.transaction(txnOps); model(k) = Some(v); model.remove(k2)
          } else intercept[PrimaryKeyException](t.transaction(txnOps))
      }
    }

    def stateOf(df: org.apache.spark.sql.DataFrame): Map[Int, Option[Int]] =
      df.collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap

    assert(stateOf(t.scan()) == model.toMap, s"final state mismatch seed=$seed")
    assertFooters(t, seed)
    formatReads(t, model.toMap, mid, seed)((d, _) => stateOf(d))
    // the DSv2 catalog's merge-on-read overlay must agree with the
    // engine scan on the same random end state (per-bucket delta routing)
    val whName = java.nio.file.Paths.get(loc).getFileName.toString
    val catName = s"gfuzz$seed"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse",
      java.nio.file.Paths.get(loc).getParent.toString)
    assert(stateOf(spark.table(s"$catName.`$whName`")) == model.toMap,
      s"V2 overlay mismatch seed=$seed")
    // point reads through both read faces on a sample of present and
    // absent (deleted or never written) keys: collected on the driver
    // under the default bound (graft.plans.InlineReads), through a job
    // under the 1KB one
    val (present, absent) = (0 until Keyspace).partition(model.contains)
    (rnd.shuffle(present).take(3) ++ rnd.shuffle(absent).take(2)).foreach { k =>
      val want = model.get(k).map(k -> _).toMap
      assert(stateOf(t.scan().where(col("k") === k)) == want,
        s"scan() get k=$k mismatch seed=$seed")
      assert(stateOf(spark.sql(s"SELECT * FROM $catName.`$whName` WHERE k = $k")) == want,
        s"SQL get k=$k mismatch seed=$seed")
    }
    // differential check of the COLUMNAR overlay readers against the
    // row-based ones on the same random end state (the default read above
    // went columnar; force rows and compare)
    spark.conf.set("graft.mor.columnar", "false")
    try assert(stateOf(spark.table(s"$catName.`$whName`")) == model.toMap,
      s"row-based overlay disagrees with columnar seed=$seed")
    finally spark.conf.unset("graft.mor.columnar")
    // SPJ self-join differential: the per-partition ordering report
    // (sort-free SortMergeJoin when provable, withdrawn otherwise) must
    // never change join RESULTS — this end state randomly mixes pending
    // deltas, compactions and z-rewrites, so every gate of the report
    // (delta overlay, cluster flag, multi-file groups, sorted proof)
    // gets exercised against the model
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBucketing = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = spark.table(s"$catName.`$whName`")
      val b = spark.table(s"$catName.`$whName`")
      val joined = a.join(b, a("k") === b("k"))
        .select(a("k"), a("v").as("va"), b("v").as("vb")).collect()
      assert(joined.length == model.size, s"SPJ self-join row count seed=$seed")
      joined.foreach { r =>
        def g(i: Int) = if (r.isNullAt(i)) None else Some(r.getInt(i))
        val mv = model(r.getInt(0))
        assert(g(1) == mv && g(2) == mv,
          s"SPJ self-join value mismatch k=${r.getInt(0)} seed=$seed")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
    }
    // history GC may have expired early snapshots: below the floor the
    // read must ERROR with the expired message, at-or-above it stays exact
    val floor = t.meta.historyFloor
    snaps.foreach { case (ver, m) =>
      if (ver < floor)
        assert(intercept[IllegalArgumentException](t.scan(Some(ver)).collect())
          .getMessage.contains("expired"), s"v$ver below floor must refuse")
      else
        assert(stateOf(t.scan(Some(ver))) == m, s"snapshot v$ver mismatch seed=$seed")
    }
    // diff scan between the first and last SURVIVING snapshots equals the
    // model diff
    val live = snaps.filter(_._1 >= floor)
    if (live.size >= 2) {
      val (v1, m1) = live.head
      val (v2, m2) = live.last
      val expected =
        (m2.keySet ++ m1.keySet).flatMap { k =>
          (m1.get(k), m2.get(k)) match {
            case (a, b) if a == b => None
            case (_, Some(_)) => Some(k -> false) // changed/new
            case (Some(_), None) => Some(k -> true) // deleted
            case _ => None
          }
        }.toMap
      val got = t.changes(v1, v2).select(col("k"), col("_deleted"))
        .collect().map(r => r.getInt(0) -> r.getBoolean(1)).toMap
      assert(got == expected, s"diff v$v1->v$v2 mismatch seed=$seed")
    }
    // the CDC faces across every consecutive pair of surviving snapshots
    // (the op mix folds, compacts and merges tails between them):
    // changesSince applied to the older model gives the newer one, and
    // touchedKeys covers every key on which the two differ
    live.sliding(2).filter(_.size == 2).foreach { pair =>
      val (va, ma) = pair(0)
      val (vb, mb) = pair(1)
      val applied = t.changesSince(va, vb).select(col("k"), col("v"), col("_deleted"))
        .collect().foldLeft(ma) { (m, r) =>
          if (r.getBoolean(2)) m - r.getInt(0)
          else m + (r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
        }
      assert(applied == mb, s"changesSince v$va->v$vb mismatch seed=$seed")
      val touched = t.touchedKeys(va, vb, Seq("k")).collect().map(_.getInt(0)).toSet
      val differ = (ma.keySet ++ mb.keySet).filter(k => ma.get(k) != mb.get(k))
      assert(differ.subsetOf(touched),
        s"touchedKeys v$va->v$vb misses ${differ -- touched} seed=$seed")
    }
    // backup-chain differential: full backup at the FIRST surviving
    // snapshot, one increment per consecutive snapshot pair (pinned by
    // toVersion), restoreChain — must equal the LAST snapshot's model.
    // The random op mix puts compactions, z-rewrites and history GC
    // between cuts, so every chain exercises both the delta-only CDC path
    // and its snapshot-diff fallback, plus the per-increment footer
    // schemas and the key-level fold.
    if (live.size >= 2) {
      val bdir = Files.createTempDirectory(s"graft-fuzz-chain-$seed-").toString
      GraftTools.backup(t, s"$bdir/full", Some(live.head._1))
      val versions: Seq[Long] = live.map(_._1).toSeq
      val incs = versions.sliding(2).zipWithIndex.map { case (pair, i) =>
        val p = s"$bdir/inc$i"
        GraftTools.backupIncremental(t, p, pair(0), toVersion = Some(pair(1)))
        p
      }.toSeq
      val restored = GraftTools.restoreChain(spark, s"$bdir/full", incs,
        Files.createTempDirectory(s"graft-fuzz-chain-dest-$seed-").toString,
        Seq("k"), hash)
      assert(stateOf(restored.scan()) == live.last._2,
        s"backup-chain restore mismatch seed=$seed (chain of ${incs.size})")
    }
  }

  /** Same model, but every mutation arrives through SQL DML against the
    * V2 catalog — INSERT INTO (upsert via the V1 fallback), single-key and
    * range UPDATEs and the MERGE three-action statement (delta-based
    * row-level operations), and metadata-path DELETE. Cross-checks the
    * engine scan AND the V2 overlay read against the model. */
  private def runSqlDmlCase(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val loc = tableDir(s"graft-fuzzsql-$seed-")
    val t = GraftTable.create(spark, loc, "kv",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)))
    val whName = java.nio.file.Paths.get(loc).getFileName.toString
    val cat = s"gsql$seed"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      java.nio.file.Paths.get(loc).getParent.toString)
    val tbl = s"$cat.`$whName`"
    val model = mutable.Map[Int, Int]()
    var mid: Option[(Long, Map[Int, Int])] = None
    for (i <- 0 until nOps) {
      if (i == nOps / 2) mid = Some((t.currentVersion, model.toMap))
      val k = rnd.nextInt(Keyspace)
      val v = rnd.nextInt(1000)
      rnd.nextInt(6) match {
        case 0 =>
          spark.sql(s"INSERT INTO $tbl VALUES ($k, $v)")
          model(k) = v
        case 1 =>
          spark.sql(s"UPDATE $tbl SET v = $v WHERE k = $k")
          if (model.contains(k)) model(k) = v
        case 2 =>
          val bound = rnd.nextInt(Keyspace)
          spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE k < $bound")
          model.keys.toSeq.filter(_ < bound).foreach(kk => model(kk) += 1)
        case 3 =>
          spark.sql(s"DELETE FROM $tbl WHERE k = $k")
          model.remove(k)
        case 4 =>
          val k2 = (k + 1 + rnd.nextInt(Keyspace - 1)) % Keyspace // k2 != k
          spark.sql(
            s"""MERGE INTO $tbl t USING (SELECT $k AS k, $v AS v, false AS del
               |UNION ALL SELECT $k2, 0, true) s ON t.k = s.k
               |WHEN MATCHED AND s.del THEN DELETE
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED AND NOT s.del THEN INSERT (k, v) VALUES (s.k, s.v)
               |""".stripMargin)
          model(k) = v
          model.remove(k2)
        case 5 => // CALL txn_*: upsert(k) + strict delete(k2) as ONE version;
          // when k2 is missing the whole transaction must abort (the staged
          // upsert publishes nothing)
          val k2 = (k + 1 + rnd.nextInt(Keyspace - 1)) % Keyspace // k2 != k
          val id = spark.sql(s"CALL $cat.system.txn_begin('$whName')")
            .collect().head.getString(0)
          spark.sql(s"""CALL $cat.system.txn_upsert('$id', "SELECT $k AS k, $v AS v")""").collect()
          spark.sql(s"""CALL $cat.system.txn_delete('$id', "SELECT $k2 AS k")""").collect()
          if (model.contains(k2)) {
            spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
            model(k) = v; model.remove(k2)
          } else intercept[Exception] {
            spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
          }
      }
    }
    def stateOf(df: org.apache.spark.sql.DataFrame): Map[Int, Int] =
      df.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(stateOf(t.scan()) == model.toMap, s"engine state mismatch seed=$seed")
    assert(stateOf(spark.table(tbl)) == model.toMap, s"V2 state mismatch seed=$seed")
    formatReads(t, model.toMap, mid, seed)((d, _) => stateOf(d))
  }

  test("random SQL DML sequences match the model (seed 3)") { runSqlDmlCase(3L, 24) }
  test("random SQL DML sequences match the model (seed 5)") { runSqlDmlCase(5L, 24) }

  test("random op sequences match the in-memory model (seed 1)") { runCase(1L, 40) }
  test("random op sequences match the in-memory model (seed 2)") { runCase(2L, 40) }
  test("random op sequences match the in-memory model (seed 7)") { runCase(7L, 50) }
  test("two-component hash layout: same model, composite V2 overlay routing") {
    runCase(11L, 40, hash = Seq(HashComponent(Seq("k"), 2), HashComponent(Seq("k"), 3)))
  }
  test("1KB broadcast bound: V2 overlay serves every random end state via spill") {
    // forces the shuffle-spill overlay (and the DSv1 non-broadcast join)
    // for any non-trivial delta set — same model checks must hold
    spark.conf.set("graft.mor.broadcastBytes", "1024")
    try {
      runCase(13L, 40)
      runCase(17L, 40, hash = Seq(HashComponent(Seq("k"), 2), HashComponent(Seq("k"), 3)))
    } finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  /** CDC windows and presence checks, on the driver within the bound and
    * on the job path past it. The op stream mixes strict inserts and
    * deletes (their presence checks raise or not as the model says),
    * their ignore variants, upserts, and the seq-preserving folds
    * (`mergeTailDeltas`, `compactDeltas(tailOnly = true)`), whose folded
    * files carry rows older than a window that the window's seq filter must
    * drop. A snapshot follows every op; every window ending just after a
    * fold, and a sample of other windows, is checked against the model. */
  private def runWindowCase(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val t = GraftTable.create(spark, tableDir(s"graft-fuzz-w-$seed-"), "kv",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)))
    def df(k: Int, v: Int) = Seq((k, v)).toDF("k", "v")
    def keysDf(k: Int) = Seq(k).toDF("k")
    val model = mutable.Map[Int, Int]()
    val snaps = mutable.ArrayBuffer((t.currentVersion, Map.empty[Int, Int]))
    val folds = mutable.ArrayBuffer[Int]() // snapshot index right after a fold
    for (_ <- 0 until nOps) {
      val k = rnd.nextInt(Keyspace)
      val v = rnd.nextInt(1000)
      rnd.nextInt(7) match {
        case 0 =>
          if (model.contains(k)) intercept[PrimaryKeyException](t.insert(df(k, v)))
          else { t.insert(df(k, v)); model(k) = v }
        case 1 => t.insertIgnore(df(k, v)); if (!model.contains(k)) model(k) = v
        case 2 => t.upsert(df(k, v)); model(k) = v
        case 3 =>
          if (!model.contains(k)) intercept[PrimaryKeyException](t.delete(keysDf(k)))
          else { t.delete(keysDf(k)); model.remove(k) }
        case 4 => t.delete(keysDf(k), ignore = true); model.remove(k)
        case 5 => t.mergeTailDeltas(); folds += snaps.size
        case 6 => t.compactDeltas(tailOnly = true); folds += snaps.size
      }
      snaps += ((t.currentVersion, model.toMap))
    }
    assert(t.scan().collect().map(r => r.getInt(0) -> r.getInt(1)).toMap == model.toMap,
      s"final state mismatch seed=$seed")
    formatReads(t, model.toMap, Some(snaps(snaps.size / 2)), seed)((d, _) =>
      d.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
    checkWindows(t, snaps.toSeq, windowsOver(rnd, snaps.size, folds.toSeq, 6), Seq("v"),
      seed)(_.getInt(1))
  }

  /** Windows `(i, j)` over `n` snapshots (one after every op): one ending
    * just after each fold (snapshot index `folds`), starting up to four
    * ops before it, and `random` more anywhere. */
  private def windowsOver(rnd: Random, n: Int, folds: Seq[Int],
      random: Int): Seq[(Int, Int)] =
    (folds.map(j => (math.max(0, j - 1 - rnd.nextInt(4)), j)) ++
      Seq.fill(random) {
        val i = rnd.nextInt(n - 1)
        (i, i + 1 + rnd.nextInt(n - 1 - i))
      }).distinct

  /** The CDC faces over each window `(i, j)` of `snaps` (version, model
    * keyed by `k`): changesSince applied to the older model gives the
    * newer one, and touchedKeys holds every key the two differ on.
    * `value` reads a model value from a changesSince row selected as
    * `k`, `cols`, `_deleted`. */
  private def checkWindows[V](t: GraftTable, snaps: Seq[(Long, Map[Int, V])],
      windows: Seq[(Int, Int)], cols: Seq[String], seed: Long)(
      value: org.apache.spark.sql.Row => V): Unit =
    windows.foreach { case (i, j) =>
      val (va, ma) = snaps(i)
      val (vb, mb) = snaps(j)
      val applied = t.changesSince(va, vb).select(("k" +: cols :+ "_deleted").map(col): _*)
        .collect().foldLeft(ma) { (m, r) =>
          if (r.getBoolean(cols.length + 1)) m - r.getInt(0) else m + (r.getInt(0) -> value(r))
        }
      assert(applied == mb, s"changesSince v$va->v$vb mismatch seed=$seed")
      val touched = t.touchedKeys(va, vb, Seq("k")).collect().map(_.getInt(0)).toSet
      val differ = (ma.keySet ++ mb.keySet).filter(k => ma.get(k) != mb.get(k))
      assert(differ.subsetOf(touched),
        s"touchedKeys v$va->v$vb misses ${differ -- touched} seed=$seed")
    }

  test("CDC windows across tail folds and presence checks match the model, " +
      "within the driver bound and past it (seed 43)") {
    runWindowCase(43L, 30)
    spark.conf.set("graft.mor.broadcastBytes", "1024")
    try runWindowCase(43L, 30)
    finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  /** Range-partitioned variant: the op stream also drops and re-adds range
    * partitions (the D2 retention ops) — rows of a dropped range vanish,
    * writes into a non-covered range error until the range is re-added, and
    * historical snapshots still see the pre-drop state — and folds the
    * deltas (`compact`, `compactTablet`, `compactDeltas(tailOnly = true)`,
    * `mergeTailDeltas`); CDC windows across the folds and drops match the
    * model. */
  private def runRangeCase(seed: Long, nOps: Int): Unit = {
    import graft.catalog.RangeComponent
    val rnd = new Random(seed)
    val years = Seq(1995, 1996, 1997)
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val loc = tableDir(s"graft-fuzz-r-$seed-")
    val t = GraftTable.create(spark, loc, "kvr",
      StructType(Seq(StructField("k", IntegerType, false),
        StructField("d", TimestampType), StructField("v", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)),
      range = Some(RangeComponent("d", "year")))
    // k -> (year, v)
    val model = mutable.Map[Int, (Int, Int)]()
    val uncovered = mutable.Set[Int]()
    val snaps = mutable.ArrayBuffer[(Long, Map[Int, (Int, Int)])]()
    var mid: Option[(Long, Map[Int, (Int, Int)])] = None
    // a snapshot after every op, and the indexes right after a fold
    val cdcSnaps = mutable.ArrayBuffer((t.currentVersion, Map.empty[Int, (Int, Int)]))
    val folds = mutable.ArrayBuffer[Int]()

    def df(k: Int, y: Int, v: Int) = Seq((k, ts(y), v)).toDF("k", "d", "v")

    for (i <- 0 until nOps) {
      if (i == nOps / 2) mid = Some((t.currentVersion, model.toMap))
      val k = rnd.nextInt(Keyspace)
      val y = years(rnd.nextInt(years.length))
      val v = rnd.nextInt(1000)
      rnd.nextInt(11) match {
        case 0 => // UPSERT (errors when the row's range is not covered)
          if (uncovered.contains(y)) intercept[PrimaryKeyException](t.upsert(df(k, y, v)))
          else { t.upsert(df(k, y, v)); model(k) = (y, v) }
        case 1 => // INSERT
          if (model.contains(k) || uncovered.contains(y))
            intercept[PrimaryKeyException](t.insert(df(k, y, v)))
          else { t.insert(df(k, y, v)); model(k) = (y, v) }
        case 2 => // DELETE (strict; tombstones carry no range value)
          if (!model.contains(k)) intercept[PrimaryKeyException](t.delete(Seq(k).toDF("k")))
          else { t.delete(Seq(k).toDF("k")); model.remove(k) }
        case 3 => // DROP RANGE PARTITION of a covered year
          val candidates = years.filterNot(uncovered.contains)
          if (candidates.nonEmpty) {
            val dy = candidates(rnd.nextInt(candidates.length))
            t.dropRangePartition(dy.toString)
            uncovered += dy
            model.filterInPlace { case (_, (yy, _)) => yy != dy }
          }
        case 4 => // ADD RANGE PARTITION back (sometimes with its own buckets)
          if (uncovered.nonEmpty) {
            val ay = uncovered.toSeq.sorted.apply(rnd.nextInt(uncovered.size))
            t.addRangePartition(ay.toString,
              if (rnd.nextBoolean()) Some(4) else None)
            uncovered -= ay
          }
        case 5 => t.compact(); folds += cdcSnaps.size
        case 6 => snaps += ((t.currentVersion, model.toMap))
        case 7 => // UPDATE_IGNORE of v only (keeps the stored range value)
          if (model.contains(k)) {
            t.update(Seq((k, v)).toDF("k", "v"), ignore = true)
            model(k) = (model(k)._1, v)
          } else t.update(Seq((k, v)).toDF("k", "v"), ignore = true)
        case 8 => // one tablet's fold (refused while a drop is pending)
          if (t.meta.rangeDrops.isEmpty) {
            t.compactTablet(bucket = Some(rnd.nextInt(2))); folds += cdcSnaps.size
          }
        case 9 => t.compactDeltas(tailOnly = true); folds += cdcSnaps.size
        case 10 => t.mergeTailDeltas(); folds += cdcSnaps.size
      }
      cdcSnaps += ((t.currentVersion, model.toMap))
    }

    def stateOf(d: org.apache.spark.sql.DataFrame): Map[Int, (Int, Int)] =
      d.collect().map(r => r.getInt(0) ->
        (r.getTimestamp(1).toLocalDateTime.getYear, r.getInt(2))).toMap

    assert(stateOf(t.scan()) == model.toMap, s"final state mismatch seed=$seed")
    assertFooters(t, seed)
    formatReads(t, model.toMap, mid, seed)((d, _) => stateOf(d))
    sqlReads(loc, s"gfuzzr$seed") { (df, tag) =>
      assert(stateOf(df) == model.toMap, s"$tag state mismatch seed=$seed")
    }
    snaps.foreach { case (ver, m) =>
      assert(stateOf(t.scan(Some(ver))) == m, s"snapshot v$ver mismatch seed=$seed")
    }
    checkWindows(t, cdcSnaps.toSeq, windowsOver(rnd, cdcSnaps.size, folds.toSeq.take(4), 4),
      Seq("d", "v"), seed)(r => (r.getTimestamp(1).toLocalDateTime.getYear, r.getInt(2)))
  }

  test("random ops with range drop/add match the model (seed 11)") { runRangeCase(11L, 45) }
  test("random ops with range drop/add match the model (seed 23)") { runRangeCase(23L, 45) }
  // seed 113's windows cross a compaction that retires delta files while
  // the base file set stays as it was; with the fast path's fold check
  // (deltasRetiredByFoldsOnly) removed, changesSince v3 -> v32 loses a delete
  test("random ops with range drop/add match the model (seed 113)") { runRangeCase(113L, 45) }

  /** Schema-evolution variant: mutations interleave with ALTERs — type
    * widening (INT→BIGINT→DECIMAL), renames, column add (with/without read
    * default), column drop, compaction — against a column-ID-based model
    * (the same identity scheme the engine uses), including reads at
    * historical snapshots spanning the ALTERs. */
  private def runSchemaCase(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val loc = tableDir(s"graft-fuzz-s-$seed-")
    val t = GraftTable.create(spark, loc, "kvs",
      StructType(Seq(StructField("k", IntegerType, false),
        StructField("c0", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)))

    case class MCol(id: Int, var name: String, var stage: Int, default: Option[Long])
    def sparkType(stage: Int): DataType = stage match {
      case 0 => IntegerType
      case 1 => LongType
      case _ => DecimalType(38, 0)
    }
    def mkValue(stage: Int, v: Long): Any = stage match {
      case 0 => v.toInt
      case 1 => v
      case _ => new java.math.BigDecimal(v)
    }

    val cols = mutable.ArrayBuffer(MCol(0, "c0", 0, None))
    var nextId = 1
    var renameSeq = 0
    // k -> (column id -> value); column ids are the stable identity, names churn
    val rows = mutable.Map[Int, mutable.Map[Int, Option[Long]]]()
    val snaps = mutable.ArrayBuffer[(Long, List[(Int, String)], Map[Int, Map[Int, Option[Long]]])]()
    // column id -> the read default it was added with
    val defaults = mutable.Map[Int, Option[Long]](0 -> None)
    def snapshot() = (t.currentVersion, cols.map(c => (c.id, c.name)).toList,
      rows.map { case (kk, m) => kk -> m.toMap }.toMap)
    var mid: Option[(Long, List[(Int, String)], Map[Int, Map[Int, Option[Long]]])] = None

    def upsert(k: Int): Unit = {
      val vals = cols.map(c => c -> rnd.nextInt(1000).toLong).toSeq
      val schema = StructType(StructField("k", IntegerType, false) +:
        cols.map(c => StructField(c.name, sparkType(c.stage))).toSeq)
      val row = org.apache.spark.sql.Row.fromSeq(
        k +: vals.map { case (c, v) => mkValue(c.stage, v) })
      t.upsert(spark.createDataFrame(java.util.List.of(row), schema))
      val m = rows.getOrElseUpdate(k, mutable.Map())
      vals.foreach { case (c, v) => m(c.id) = Some(v) }
    }

    for (i <- 0 until nOps) {
      if (i == nOps / 2) mid = Some(snapshot())
      val k = rnd.nextInt(Keyspace)
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => upsert(k)
        case 3 => // DELETE_IGNORE
          t.delete(Seq(k).toDF("k"), ignore = true); rows.remove(k)
        case 4 => // WIDEN a widenable column
          val ws = cols.filter(_.stage < 2)
          if (ws.nonEmpty) {
            val c = ws(rnd.nextInt(ws.size))
            c.stage += 1
            t.widenColumnType(c.name, sparkType(c.stage))
          }
        case 5 => // RENAME
          val c = cols(rnd.nextInt(cols.size))
          renameSeq += 1
          val nn = s"r${renameSeq}_${c.id}"
          t.renameColumn(c.name, nn); c.name = nn
        case 6 => // ADD column, sometimes with a read default
          val dflt = if (rnd.nextBoolean()) Some(rnd.nextInt(100).toLong) else None
          val name = s"c$nextId"
          t.addColumn(name, IntegerType, default = dflt.map(_.toString))
          cols += MCol(nextId, name, 0, dflt)
          defaults(nextId) = dflt
          // existing rows read the ADD-time default for the new column
          rows.values.foreach(m => m(nextId) = dflt)
          nextId += 1
        case 7 => // DROP a non-last value column
          if (cols.size > 1) {
            val c = cols.remove(rnd.nextInt(cols.size))
            t.dropColumn(c.name)
          }
        case 8 => t.compact()
        case 9 => snaps += snapshot()
      }
    }

    def toLongOpt(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.get(i) match {
        case x: Int => x.toLong
        case x: Long => x
        case d: java.math.BigDecimal => d.longValueExact
        case other => fail(s"unexpected value type: $other")
      })

    /** The rows of `df` by key, each as column id -> value over `colsAt`. */
    def stateOf(df: org.apache.spark.sql.DataFrame,
        colsAt: List[(Int, String)]): Map[Int, Map[Int, Option[Long]]] = {
      val schema = df.schema
      df.collect().map { r =>
        val kk = r.getInt(schema.fieldIndex("k"))
        kk -> colsAt.map { case (cid, name) =>
          cid -> toLongOpt(r, schema.fieldIndex(name))
        }.toMap
      }.toMap
    }
    /** The model rows `exp` over `colsAt`; a column the rows never held
      * reads `absent` (its read default, or null). */
    def project(exp: Map[Int, Map[Int, Option[Long]]], colsAt: List[(Int, String)],
        absent: Int => Option[Long] = _ => None): Map[Int, Map[Int, Option[Long]]] =
      exp.map { case (kk, m) =>
        kk -> colsAt.map { case (cid, _) => cid -> m.getOrElse(cid, absent(cid)) }.toMap
      }
    def checkState(df: org.apache.spark.sql.DataFrame,
        colsAt: List[(Int, String)],
        exp: Map[Int, Map[Int, Option[Long]]], tag: String): Unit =
      assert(stateOf(df, colsAt) == project(exp, colsAt), s"$tag mismatch seed=$seed")

    checkState(t.scan(), cols.map(c => (c.id, c.name)).toList,
      rows.map { case (kk, m) => kk -> m.toMap }.toMap, "final")
    assertFooters(t, seed)
    sqlReads(loc, s"gfuzzs$seed") { (df, tag) =>
      checkState(df, cols.map(c => (c.id, c.name)).toList,
        rows.map { case (kk, m) => kk -> m.toMap }.toMap, tag)
    }
    snaps.foreach { case (ver, colsAt, exp) =>
      checkState(t.scan(Some(ver)), colsAt, exp, s"snapshot v$ver")
    }
    val (_, colsNow, rowsNow) = snapshot()
    val colsOf = (mid.toSeq :+ snapshot()).map { case (v, c, _) => v -> c }.toMap
    formatReads(t, project(rowsNow, colsNow), mid.map { case (v, c, r) => v -> project(r, c) },
      seed)((d, v) => stateOf(d, colsOf(v.getOrElse(t.currentVersion))))
    // CDC windows across the ALTERs, within the driver bound and past it
    // (the job path's raw read): changesSince applied to the older
    // snapshot, seen in the newer schema, gives the newer one
    def windows(bound: String): Unit = snaps.sliding(2).filter(_.size == 2).foreach { pair =>
      val (va, colsA, ma) = pair(0)
      val (vb, colsB, mb) = pair(1)
      val ch = t.changesSince(va, vb)
      val schema = ch.schema
      val applied = ch.collect().foldLeft(project(ma, colsB, defaults)) { (acc, r) =>
        val kk = r.getInt(schema.fieldIndex("k"))
        if (r.getBoolean(schema.fieldIndex("_deleted"))) acc - kk
        else acc + (kk -> colsB.map { case (cid, name) =>
          cid -> toLongOpt(r, schema.fieldIndex(name)) }.toMap)
      }
      assert(applied == project(mb, colsB), s"changesSince v$va->v$vb ($bound) seed=$seed")
    }
    windows("default bound")
    spark.conf.set("graft.mor.broadcastBytes", "1024")
    try windows("1KB bound")
    finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  test("random ops with schema evolution match the model (seed 31)") { runSchemaCase(31L, 50) }
  test("random ops with schema evolution match the model (seed 47)") { runSchemaCase(47L, 50) }

  /** ALTER-vs-everything variant (the reference's
    * alter_table-randomized-test.cc analog): SQL column ALTERs (add / drop /
    * rename) interleave with SQL DML, the CALL txn_* surface, and V2 reads
    * forced through the shuffle-spill overlay. Three contracts raced here:
    * (a) a rename makes physName diverge from the logical name, and the V2
    * read must serve the column under its new name at once; (b) a transaction spanning
    * an ALTER must abort on commit (optimistic version guard) publishing
    * NONE of its staged ops; (c) the spill overlay must serve every
    * post-ALTER schema (added/dropped columns change the internal read
    * schema the spill slices carry). */
  private def runAlterTxnSpillCase(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val loc = tableDir(s"graft-fuzz-a-$seed-")
    val t = GraftTable.create(spark, loc, "kva",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)))
    val whName = java.nio.file.Paths.get(loc).getFileName.toString
    val cat = s"galter$seed"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      java.nio.file.Paths.get(loc).getParent.toString)
    val tbl = s"$cat.`$whName`"
    // added value columns in schema order after (k, v); pre-add rows read NULL
    var extraCols = Vector[String]()
    var nextCol = 1
    // model: k -> (v, extraCol -> value)
    val model = mutable.Map[Int, (Int, Map[String, Option[Int]])]()
    def stateOf(df: org.apache.spark.sql.DataFrame,
        extras: Seq[String] = extraCols): Map[Int, (Int, Map[String, Option[Int]])] = {
      val schema = df.schema
      df.collect().map { r =>
        r.getInt(schema.fieldIndex("k")) -> (r.getInt(schema.fieldIndex("v")),
          extras.map { c =>
            val i = schema.fieldIndex(c)
            c -> (if (r.isNullAt(i)) None else Some(r.getInt(i)))
          }.toMap)
      }.toMap
    }
    var mid: Option[(Long, Vector[String], Map[Int, (Int, Map[String, Option[Int]])])] = None

    for (i <- 0 until nOps) {
      if (i == nOps / 2) mid = Some((t.currentVersion, extraCols, model.toMap))
      val k = rnd.nextInt(Keyspace)
      val v = rnd.nextInt(1000)
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => // SQL INSERT (upsert) with values for every column
          val extras = extraCols.map(_ => rnd.nextInt(1000))
          spark.sql(s"INSERT INTO $tbl VALUES ($k, $v${extras.map(e => s", $e").mkString})")
          model(k) = (v, extraCols.zip(extras.map(Some(_))).toMap)
        case 3 =>
          spark.sql(s"DELETE FROM $tbl WHERE k = $k"); model.remove(k)
        case 4 => // ADD COLUMN (no default; defaulted-absent reads are
          // V2LayoutsSpec's)
          val name = s"a$nextCol"; nextCol += 1
          spark.sql(s"ALTER TABLE $tbl ADD COLUMNS ($name INT)")
          extraCols :+= name
          model.mapValuesInPlace { case (_, (vv, m)) => (vv, m + (name -> None)) }
        case 5 => // DROP an added column
          if (extraCols.nonEmpty) {
            val i = rnd.nextInt(extraCols.size); val c = extraCols(i)
            spark.sql(s"ALTER TABLE $tbl DROP COLUMN $c")
            extraCols = extraCols.patch(i, Nil, 1)
            model.mapValuesInPlace { case (_, (vv, m)) => (vv, m - c) }
          }
        case 6 => // RENAME: physName now differs from the logical name;
          // the V2 read serves the column under its new name at once
          if (extraCols.nonEmpty) {
            val i = rnd.nextInt(extraCols.size); val c = extraCols(i)
            spark.sql(s"ALTER TABLE $tbl RENAME COLUMN $c TO ${c}x")
            extraCols = extraCols.updated(i, s"${c}x")
            model.mapValuesInPlace { case (_, (vv, m)) => (vv, m - c + (s"${c}x" -> m(c))) }
            assert(stateOf(spark.table(tbl)) == model.toMap,
              s"V2 state after rename mismatch seed=$seed")
          }
        case 7 => // txn spanning an ALTER: the version guard must abort the
          // commit and publish NOTHING (the ALTER itself lands)
          val id = spark.sql(s"CALL $cat.system.txn_begin('$whName')")
            .collect().head.getString(0)
          spark.sql(s"""CALL $cat.system.txn_upsert('$id', "SELECT $k AS k, $v AS v")""").collect()
          val name = s"a$nextCol"; nextCol += 1
          spark.sql(s"ALTER TABLE $tbl ADD COLUMNS ($name INT)")
          extraCols :+= name
          model.mapValuesInPlace { case (_, (vv, m)) => (vv, m + (name -> None)) }
          intercept[Exception] {
            spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
          }
        case 8 => // txn normal path: upsert(k) + strict delete(k2) atomically
          val k2 = (k + 1 + rnd.nextInt(Keyspace - 1)) % Keyspace
          val id = spark.sql(s"CALL $cat.system.txn_begin('$whName')")
            .collect().head.getString(0)
          spark.sql(s"""CALL $cat.system.txn_upsert('$id', "SELECT $k AS k, $v AS v")""").collect()
          spark.sql(s"""CALL $cat.system.txn_delete('$id', "SELECT $k2 AS k")""").collect()
          if (model.contains(k2)) {
            spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
            // upsert replaces the WHOLE row; unselected extras become null
            model(k) = (v, extraCols.map(_ -> (None: Option[Int])).toMap)
            model.remove(k2)
          } else intercept[Exception] {
            spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
          }
        case 9 => t.compact()
      }
    }

    val want = model.toMap
    assert(stateOf(GraftTable.load(spark, loc).scan()) == want,
      s"engine state mismatch seed=$seed")
    formatReads(t, want, mid.map { case (v, _, m) => v -> m }, seed)((d, v) =>
      stateOf(d, v.fold(extraCols)(_ => mid.get._2)))
    // V2 read through the FORCED spill overlay on the final (post-ALTER) schema
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try assert(stateOf(spark.table(tbl)) == want, s"V2 spill state mismatch seed=$seed")
    finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  test("random ALTERs racing txn CALLs and spill reads (seed 19)") { runAlterTxnSpillCase(19L, 40) }
  test("random ALTERs racing txn CALLs and spill reads (seed 29)") { runAlterTxnSpillCase(29L, 40) }


  /** Injected kill-point artifacts get a backdated mtime: a grace-0 repair
    * sweeps files STRICTLY older than "now", and an artifact written in the
    * same millisecond as the check would flakily survive. */
  private def backdate(p: java.nio.file.Path): Unit =
    java.nio.file.Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000))

  /** Crash-recovery: a writer killed between writing its version file and
    * swinging the _current pointer leaves an UNPUBLISHED commit that wedges
    * every later committer on the CREATE_NEW guard (the reference recovers
    * the analog through Raft log truncation, integration-tests
    * fuzz-itest.cc restart cases); fsckRepair must roll the dead commit
    * back and the table must read and write exactly afterwards. */
  test("kill-point mid-commit: unpublished version wedges, fsckRepair unwedges") {
    val loc = tableDir("graft-crash1-")
    val t = GraftTable.create(spark, loc, "kv",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)))
    t.upsert(Seq((1, 10), (2, 20)).toDF("k", "v"))
    val cur = t.currentVersion
    // simulate the kill: next version file exists (truncated — the write
    // died mid-flush), pointer never swung
    val metaDir = graft.catalog.TableMeta.metaDir(loc)
    java.nio.file.Files.write(metaDir.resolve(s"v${cur + 1}.json"),
      """{"name":"kv","version":""".getBytes("UTF-8"))
    backdate(metaDir.resolve(s"v${cur + 1}.json"))
    // readers are unaffected (pointer still at cur)
    assert(t.scan().count() == 2)
    // writers are WEDGED: every commit of cur+1 hits the guard
    spark.conf.set("graft.commit.retryTimeoutMs", "300")
    try {
      val e = intercept[IllegalStateException] { t.upsert(Seq((3, 30)).toDF("k", "v")) }
      assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    } finally spark.conf.unset("graft.commit.retryTimeoutMs")
    // repair rolls the unpublished commit back (grace 0 = treat as dead now)
    val repaired = graft.tools.GraftTools.fsckRepair(loc, graceMs = 0)
    assert(repaired.exists(_.endsWith(s"v${cur + 1}.json")), repaired.toString)
    // ... and the table reads and writes exactly again
    t.upsert(Seq((3, 30)).toDF("k", "v"))
    val got = t.scan().collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == Map(1 -> 10, 2 -> 20, 3 -> 30))
    assert(graft.tools.GraftTools.fsck(loc).isEmpty)
    // a FRESH (within grace) unpublished version is NOT rolled back — it
    // may be an in-flight committer about to swing the pointer
    java.nio.file.Files.write(metaDir.resolve(s"v${t.currentVersion + 1}.json"),
      """{"name":"kv"""".getBytes("UTF-8"))
    assert(graft.tools.GraftTools.fsckRepair(loc).isEmpty)
    java.nio.file.Files.delete(metaDir.resolve(s"v${t.currentVersion + 1}.json"))
  }

  /** Randomized kill-point injection between ops: dead writers leave
    * attempt-dir orphans and unpublished version files at random points;
    * repair runs after each injection and the model equality must hold
    * throughout and at the end. The folds (`compact`, `compactTablet`,
    * `compactDeltas(tailOnly = true)`, `mergeTailDeltas`) run between them,
    * and CDC windows across folds and kill points match the model. */
  private def runCrashCase(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val loc = tableDir(s"graft-crashfuzz-$seed-")
    val t = GraftTable.create(spark, loc, "kv",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)))
    val model = mutable.Map[Int, Int]()
    def df(k: Int, v: Int) = Seq((k, v)).toDF("k", "v")
    val dataDir = java.nio.file.Paths.get(loc, "data")
    val metaDir = graft.catalog.TableMeta.metaDir(loc)
    var mid: Option[(Long, Map[Int, Int])] = None
    val snaps = mutable.ArrayBuffer((t.currentVersion, Map.empty[Int, Int]))
    val folds = mutable.ArrayBuffer[Int]()
    for (i <- 0 until nOps) {
      if (i == nOps / 2) mid = Some((t.currentVersion, model.toMap))
      val k = rnd.nextInt(Keyspace); val v = rnd.nextInt(1000)
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => t.upsert(df(k, v)); model(k) = v
        case 3 =>
          t.delete(Seq(k).toDF("k"), ignore = true); model.remove(k)
        case 4 => // kill-point: orphan attempt fileset in data/
          val dead = dataDir.resolve(s"c999_delta_dead$i")
          java.nio.file.Files.createDirectories(dead)
          val donor = (t.meta.baseFiles ++ t.meta.deltaFiles).head.path
          java.nio.file.Files.copy(java.nio.file.Paths.get(donor),
            dead.resolve("orphan.parquet"))
          backdate(dead.resolve("orphan.parquet"))
          val swept = graft.tools.GraftTools.fsckRepair(loc, graceMs = 0)
          assert(swept.exists(_.contains(s"c999_delta_dead$i")), swept.toString)
        case 5 => // kill-point: unpublished (sometimes truncated) version
          val vf = metaDir.resolve(s"v${t.currentVersion + 1}.json")
          val junk = if (rnd.nextBoolean()) """{"name":"kv","ver"""
            else """{"name":"kv","version":999999,"columns":[]}"""
          java.nio.file.Files.write(vf, junk.getBytes("UTF-8"))
          backdate(vf)
          val rolled = graft.tools.GraftTools.fsckRepair(loc, graceMs = 0)
          assert(rolled.exists(_.endsWith(vf.getFileName.toString)), rolled.toString)
        case 6 => t.compact(); folds += snaps.size
        case 7 => t.compactTablet(bucket = Some(rnd.nextInt(2))); folds += snaps.size
        case 8 => t.compactDeltas(tailOnly = true); folds += snaps.size
        case 9 => t.mergeTailDeltas(); folds += snaps.size
      }
      snaps += ((t.currentVersion, model.toMap))
      if (i % 10 == 9) { // periodic full-state check against the model
        val got = t.scan().collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
        assert(got == model.toMap, s"state diverged at op $i seed=$seed")
      }
    }
    val got = t.scan().collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == model.toMap, s"final state mismatch seed=$seed")
    formatReads(t, model.toMap, mid, seed)((d, _) =>
      d.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
    assert(graft.tools.GraftTools.fsck(loc).isEmpty)
    checkWindows(t, snaps.toSeq, windowsOver(rnd, snaps.size, folds.toSeq.take(4), 4),
      Seq("v"), seed)(_.getInt(1))
  }

  test("random kill-point injection: repair keeps the table exact (seed 13)") {
    runCrashCase(13L, 40)
  }
  test("random kill-point injection: repair keeps the table exact (seed 37)") {
    runCrashCase(37L, 40)
  }

  /** Background-scheduler concurrency: the REAL timer ticks every 25 ms
    * while random writes, kill-point orphans, and repairs run on this
    * thread. Scheduler maintenance must yield on every race (never corrupt,
    * never die), and repair must coexist with in-flight scheduler commits —
    * which is exactly why this case repairs with a grace WINDOW (backdated
    * injected artifacts fall outside it, the scheduler's fresh files are
    * protected; a grace-0 repair racing any live writer is a TOCTOU sweep
    * of its in-flight filesets, runCrashCase can only afford it because
    * nothing runs concurrently there). */
  private def runSchedulerCase(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val loc = tableDir(s"graft-schedfuzz-$seed-")
    val t = GraftTable.create(spark, loc, "kv",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", IntegerType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)))
    val e = graft.table.MaintenanceScheduler.schedule(spark, t.location,
      intervalMs = 25, ioBudgetBytes = 64L << 20, minScore = 0.0,
      maxDeltaRatio = 0.2, maxDeltaFiles = 6)
    val model = mutable.Map[Int, Int]()
    def df(k: Int, v: Int) = Seq((k, v)).toDF("k", "v")
    val dataDir = java.nio.file.Paths.get(loc, "data")
    var mid: Option[(Long, Map[Int, Int])] = None
    try {
      for (i <- 0 until nOps) {
        // maintenance ticks commit between ops, but never change the rows
        if (i == nOps / 2) mid = Some((t.currentVersion, model.toMap))
        val k = rnd.nextInt(Keyspace); val v = rnd.nextInt(1000)
        rnd.nextInt(6) match {
          case 0 | 1 | 2 => t.upsert(df(k, v)); model(k) = v
          case 3 => t.delete(Seq(k).toDF("k"), ignore = true); model.remove(k)
          case 4 => // kill-point: dead writer's orphan fileset, backdated so
            // the grace-window repair sweeps it but not live scheduler files
            val dead = dataDir.resolve(s"c999_delta_dead$i")
            java.nio.file.Files.createDirectories(dead)
            val donor = (t.meta.baseFiles ++ t.meta.deltaFiles).head.path
            java.nio.file.Files.copy(java.nio.file.Paths.get(donor),
              dead.resolve("orphan.parquet"))
            // an hour old — far outside the 60s grace that shields the
            // scheduler's in-flight files (backdate()'s 10s is inside it)
            java.nio.file.Files.setLastModifiedTime(dead.resolve("orphan.parquet"),
              java.nio.file.attribute.FileTime.fromMillis(
                System.currentTimeMillis() - 3600 * 1000L))
            val swept = graft.tools.GraftTools.fsckRepair(loc, graceMs = 60000)
            assert(swept.exists(_.contains(s"c999_delta_dead$i")), swept.toString)
          case 5 => // full-state check mid-storm: a consistent snapshot read
            // must equal the model no matter where the ticker is
            val got = t.scan().collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
            assert(got == model.toMap, s"state diverged at op $i seed=$seed")
        }
      }
      // the scheduler survived the storm and is still ticking
      val t0 = e.ticks.get()
      val deadline = System.currentTimeMillis() + 10000
      while (e.ticks.get() == t0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(e.ticks.get() > t0, s"scheduler stopped ticking seed=$seed")
    } finally graft.table.MaintenanceScheduler.unschedule(t.location)
    // quiesced: final state exact on BOTH read paths, then a grace-0 sweep
    // (safe now — nothing concurrent) leaves a healthy table
    val got = t.scan().collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == model.toMap, s"final state mismatch seed=$seed")
    val whName = java.nio.file.Paths.get(loc).getFileName.toString
    spark.conf.set(s"spark.sql.catalog.gsf$seed",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.gsf$seed.warehouse",
      java.nio.file.Paths.get(loc).getParent.toString)
    val v2 = spark.table(s"gsf$seed.`$whName`").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(v2 == model.toMap, s"V2 overlay mismatch seed=$seed")
    formatReads(t, model.toMap, mid, seed)((d, _) =>
      d.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap)
    graft.tools.GraftTools.fsckRepair(loc, graceMs = 0)
    assert(graft.tools.GraftTools.fsck(loc).isEmpty)
  }

  test("scheduler-concurrent random ops: ticks race writers and repairs (seed 19)") {
    runSchedulerCase(19L, 36)
  }
  test("scheduler-concurrent random ops: ticks race writers and repairs (seed 41)") {
    runSchedulerCase(41L, 36)
  }

  /** Derived-table chaos: a materialized ROLLUP and a SECONDARY INDEX over
    * one mutating base, maintained by explicit refresh calls RACING the
    * real background scheduler (25 ms per-table ticks running
    * DerivedTables.refreshIfStale) across random upserts, deletes, base
    * compactions (the changesSince snapshot-diff fallback boundary), and
    * MAXIMALLY AGGRESSIVE history retention (expireVersions(1, 0) — the
    * GC floor at registered derived watermarks is what keeps every
    * refresh viable; without it this mix throws "expired" into the ticks
    * and the quiesced drain crashes into a rebuild).
    * The invariant is watermark-relative, so it holds mid-storm: each
    * derived table equals a from-scratch derivation of the base AT ITS
    * RECORDED WATERMARK. A refresh between its data commit and its
    * watermark write skews that transiently, so mid-storm checks retry to
    * a deadline (the ticker itself heals any staleness); the quiesced
    * check is strict, drained to the head, against the model. */
  private def runDerivedCase(seed: Long, nOps: Int): Unit = {
    val rnd = new Random(seed)
    val root = Files.createTempDirectory(s"graft-dfuzz-$seed-")
    val init = (1L to 24L).map(k => (s"g${k % 4}", k, k * 3L)).toDF("g", "k", "v")
    val base = GraftTable.create(spark, s"$root/base", "dbase", init.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)),
      range = Some(graft.catalog.RangeComponent("g", "value")),
      data = Some(init))
    val model = mutable.Map[(String, Long), Long]()
    init.collect().foreach(r =>
      model((r.getString(0), r.getLong(1))) = r.getLong(2))
    val initState = model.toMap
    val rollup = graft.tools.MaterializedRollup.build(spark, base, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)", "mx" -> "max(k)"),
      s"$root/roll", buckets = 2)
    val sidx = graft.tools.SecondaryIndex.build(spark, base, "v",
      s"$root/sidx", buckets = 4)
    // a FUNCTIONAL index rides the same storm: its refresh re-derives
    // mutated keys through the persisted expression, and its invariant is
    // the same watermark-relative derivation
    val fidx = graft.tools.SecondaryIndex.buildExpression(spark, base,
      "upper(g)", s"$root/fidx", buckets = 4)
    def schedule(loc: String) = graft.table.MaintenanceScheduler.schedule(
      spark, loc, intervalMs = 25, ioBudgetBytes = 64L << 20, minScore = 0.0,
      maxDeltaRatio = 0.5, maxDeltaFiles = 64)
    val eR = schedule(rollup.location)
    val eI = schedule(sidx.location)
    val eF = schedule(fidx.location)
    def checkOnce(): Option[String] = try {
      val rt = GraftTable.load(spark, rollup.location)
      val wR = rt.properties(graft.tools.MaterializedRollup.SrcVersionKey).toLong
      val wantR = base.scan(Some(wR)).groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("k").as("mx"))
        .collect().map(_.toSeq).toSet
      val gotR = rt.scan().collect().map(_.toSeq).toSet
      if (gotR != wantR) return Some(s"rollup != agg(base@v$wR)")
      val it = GraftTable.load(spark, sidx.location)
      val wI = it.properties(graft.tools.SecondaryIndex.SrcVersionKey).toLong
      val wantI = base.scan(Some(wI)).select("v", "g", "k")
        .collect().map(_.toSeq).toSet
      val gotI = it.scan().collect().map(_.toSeq).toSet
      if (gotI != wantI) return Some(s"sindex != entries(base@v$wI)")
      val ft = GraftTable.load(spark, fidx.location)
      val wF = ft.properties(graft.tools.SecondaryIndex.SrcVersionKey).toLong
      val wantF = base.scan(Some(wF))
        .select(upper(col("g")).as("_v"), col("g"), col("k"))
        .collect().map(_.toSeq).toSet
      val gotF = ft.scan().collect().map(_.toSeq).toSet
      if (gotF != wantF) Some(s"functional index != expr(base@v$wF)") else None
    } catch { case e: Exception =>
      Some(Option(e.getMessage).getOrElse(e.getClass.getName))
    } // a read racing an in-flight commit retries like any other skew
    def invariant(tag: String): Unit = {
      val deadline = System.currentTimeMillis() + 15000
      var last: Option[String] = checkOnce()
      while (last.nonEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(50); last = checkOnce()
      }
      assert(last.isEmpty, s"$tag seed=$seed: ${last.getOrElse("")}")
    }
    try {
      for (i <- 0 until nOps) {
        val g = s"g${rnd.nextInt(4)}"
        val k = rnd.nextInt(40).toLong + 1
        val v = rnd.nextInt(1000).toLong
        rnd.nextInt(12) match {
          case 0 | 1 | 2 | 3 =>
            base.upsert(Seq((g, k, v)).toDF("g", "k", "v"))
            model((g, k)) = v
          case 4 | 5 =>
            base.delete(Seq((g, k)).toDF("g", "k"), ignore = true)
            model.remove((g, k))
          case 6 => base.compact() // forces the snapshot-diff fallback
          case 7 => graft.tools.MaterializedRollup.refresh(spark,
            GraftTable.load(spark, rollup.location))
          case 8 => graft.tools.SecondaryIndex.refresh(spark,
            GraftTable.load(spark, sidx.location))
          case 9 => invariant(s"mid-storm op $i")
          case 10 =>
            // zero-grace retention mid-storm: the derived-watermark floor
            // must keep every version a lagging refresh still needs
            base.expireVersions(retainLast = 1, olderThanMs = 0L)
          case 11 => graft.tools.SecondaryIndex.refresh(spark,
            GraftTable.load(spark, fidx.location))
        }
      }
      invariant("post-storm")
      // the scheduler is still alive after the storm
      val t0 = eR.ticks.get() + eI.ticks.get() + eF.ticks.get()
      val deadline = System.currentTimeMillis() + 10000
      while (eR.ticks.get() + eI.ticks.get() + eF.ticks.get() == t0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(eR.ticks.get() + eI.ticks.get() + eF.ticks.get() > t0,
        s"derived-table scheduler stopped ticking seed=$seed")
    } finally {
      graft.table.MaintenanceScheduler.unschedule(rollup.location)
      graft.table.MaintenanceScheduler.unschedule(sidx.location)
      graft.table.MaintenanceScheduler.unschedule(fidx.location)
    }
    // quiesced: drain all three to the head, then strict equality vs the model
    while (graft.tools.MaterializedRollup.refresh(spark,
      GraftTable.load(spark, rollup.location))) ()
    while (graft.tools.SecondaryIndex.refresh(spark,
      GraftTable.load(spark, sidx.location))) ()
    while (graft.tools.SecondaryIndex.refresh(spark,
      GraftTable.load(spark, fidx.location))) ()
    val got = base.scan().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == model.toMap, s"base state mismatch seed=$seed")
    formatReads(base, model.toMap, Some((1L, initState)), seed)((d, _) =>
      d.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap)
    assert(checkOnce().isEmpty, s"drained derived state seed=$seed")
    val rt = GraftTable.load(spark, rollup.location)
    assert(rt.properties(graft.tools.MaterializedRollup.SrcVersionKey).toLong
      == base.meta.version, s"rollup watermark must sit at the head seed=$seed")
  }

  test("derived-table chaos: refreshes race scheduler ticks and compactions (seed 17)") {
    runDerivedCase(17L, 30)
  }
  test("derived-table chaos: refreshes race scheduler ticks and compactions (seed 53)") {
    runDerivedCase(53L, 30)
  }

  test("derived-table chaos: index BUILDS race zero-grace retention (seed 71)") {
    // Round-15 advice (medium): a zero/short-grace expireVersions tick
    // DURING an in-flight build could expire the source version the build
    // is reading and deregister its marker before the watermark property
    // exists — the build crashes and the finished index loses GC
    // protection forever. The fix is two-sided: the marker's protection
    // window floors at graft.derived.buildGraceMs regardless of the
    // caller's olderThanMs, and a completed build RE-WRITES its marker at
    // commit. This storm races whole BUILDS (not just refreshes) against
    // commits + expireVersions(1, 0): every build must land without ever
    // observing a deleted version, and every finished index must floor
    // later retention at its watermark.
    val rnd = new Random(71L)
    val root = Files.createTempDirectory("graft-bfuzz-71-")
    val init = (1L to 40L).map(k => (k, s"n$k", k * 3L)).toDF("k", "name", "v")
    val base = GraftTable.create(spark, s"$root/base", "bbase", init.schema,
      Seq("k"), Seq(HashComponent(Seq("k"), 2)), data = Some(init))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val mutErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // the mutator: commits + compactions + MAXIMALLY AGGRESSIVE retention,
    // concurrent with every build below
    val mut = new Thread(() => {
      val r = new Random(72L)
      try {
        while (!stop.get()) {
          val k = r.nextInt(40).toLong + 1
          // compact()/expireVersions surface commit-guard conflicts BY
          // DESIGN (maintenance yields to racing writers — the main
          // thread's builds and expiry ticks commit too); a benign
          // conflict is expected storm traffic, not a failure
          def tolerant(op: => Unit): Unit =
            try op catch {
              case e: IllegalStateException
                  if Option(e.getMessage).exists(
                    _.contains("concurrent commit")) => ()
            }
          base.upsert(Seq((k, s"m$k", r.nextInt(1000).toLong))
            .toDF("k", "name", "v"))
          if (r.nextInt(4) == 0) tolerant(base.compact())
          tolerant(base.expireVersions(retainLast = 1, olderThanMs = 0L))
        }
      } catch { case t: Throwable => mutErr.set(t) }
    }, "bfuzz-mutator")
    mut.start()
    try {
      for (i <- 0 until 3) {
        // each build races the storm; the build grace floors the GC at the
        // marker's registration version, so the build's snapshot survives
        val idx = graft.tools.SecondaryIndex.build(spark, base, "v",
          s"$root/sidx$i", buckets = 4)
        val w = idx.properties(graft.tools.SecondaryIndex.SrcVersionKey).toLong
        // the invariant is watermark-relative (the storm keeps moving):
        // index rows == entries(base@watermark) — and base@watermark must
        // still be READABLE (the GC floored at it, storm notwithstanding)
        val want = base.scan(Some(w)).select("v", "k")
          .collect().map(_.toSeq).toSet
        val got = GraftTable.load(spark, idx.location).scan()
          .select("v", "k").collect().map(_.toSeq).toSet
        assert(got == want, s"build $i != entries(base@v$w)")
        // a refresh mid-storm still lands (its CDC read needs the
        // watermark version — the floor must have kept it)
        graft.tools.SecondaryIndex.refresh(spark,
          GraftTable.load(spark, idx.location))
        GraftTable.drop(idx.location, force = true)
        base.expireVersions(retainLast = 1, olderThanMs = 0L)
      }
    } finally {
      stop.set(true)
      mut.join(30000)
    }
    assert(mutErr.get() == null,
      s"mutator must survive the storm: ${Option(mutErr.get()).map(_.getMessage)}")
  }
}
