package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/** SQL `CALL` maintenance surface of the V2 catalog (DSv2 stored
  * procedures): maintain / compact_tablet / delta_stats / fsck /
  * fsck_repair driven end-to-end through spark.sql. */
class ProceduresSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val wh = Files.createTempDirectory("graft-proc-wh-").toString
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.gproc",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gproc.warehouse", wh)
    "gproc"
  }

  private def mkTable(name: String): GraftTable = {
    val data = (1 to 60).map(i => (i, s"v$i")).toDF("k", "v")
    GraftTable.create(spark, s"$wh/$name", name,
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", StringType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)), data = Some(data))
  }

  test("CALL maintain folds a pressured table; delta_stats reports the pick list") {
    val t = mkTable("m1")
    t.upsert((1 to 30).map(i => (i, s"u$i")).toDF("k", "v"))
    val stats = spark.sql(s"CALL $cat.system.delta_stats('m1')").collect()
    assert(stats.nonEmpty && stats.map(_.getLong(1)).sum == 30)
    assert(stats.forall(_.getString(0).startsWith("bucket=")))
    val r = spark.sql(s"CALL $cat.system.maintain('m1', 0.0001D, 64, true)").collect()
    assert(r.map(_.getBoolean(0)).toSeq == Seq(true))
    assert(t.meta.deltaFiles.isEmpty)
    assert(spark.sql(s"CALL $cat.system.delta_stats('m1')").collect().isEmpty)
    // policy finds nothing the second time
    assert(spark.sql(s"CALL $cat.system.maintain('m1')").collect()
      .map(_.getBoolean(0)).toSeq == Seq(false))
  }

  test("CALL merge_tail collapses the unrouted tail in place") {
    val t = mkTable("m6")
    t.upsert((1 to 10).map(i => (i, s"a$i")).toDF("k", "v"))
    t.upsert((5 to 15).map(i => (i, s"b$i")).toDF("k", "v"))
    val tailBefore = t.meta.deltaFiles.count(f => f.bucket.isEmpty && f.rangeKey.isEmpty)
    assert(tailBefore >= 2)
    val r = spark.sql(s"CALL $cat.system.merge_tail('m6')").collect().head
    assert(r.getBoolean(0))
    val tail = t.meta.deltaFiles.filter(f => f.bucket.isEmpty && f.rangeKey.isEmpty)
    assert(tail.size == 1 && t.meta.deltaFiles.size == 1)
    assert(t.scan().filter(col("k") === 5).select("v").as[String].head() == "b5")
    // idempotent: nothing left to merge
    assert(!spark.sql(s"CALL $cat.system.merge_tail('m6')").collect().head.getBoolean(0))
  }

  test("CALL compact_tablet folds one bucket; named args work") {
    val t = mkTable("m2")
    t.upsert((1 to 30).map(i => (i, s"u$i")).toDF("k", "v"))
    val before = t.currentVersion
    val v = spark.sql(s"CALL $cat.system.compact_tablet('m2', bucket => 0)")
      .collect().head.getLong(0)
    assert(v == before + 1)
    val left = spark.sql(s"CALL $cat.system.delta_stats('m2')").collect()
    assert(left.map(_.getString(0)).toSeq == Seq("bucket=1"), left.mkString(","))
    assert(t.scan().count() == 60)
  }

  test("CALL fsck reports orphans; fsck_repair sweeps them; clean after") {
    val t = mkTable("m3")
    t.upsert(Seq((1, "u1")).toDF("k", "v"))
    assert(spark.sql(s"CALL $cat.system.fsck('m3')").collect().isEmpty)
    // plant a lost-commit orphan fileset
    val orphan = java.nio.file.Paths.get(t.location, "data", "c99_delta_orphan")
    Seq((7, "ghost")).toDF("k", "v")
      .withColumn(GraftTable.OpCol, lit("U"))
      .withColumn(GraftTable.SeqCol, lit(99L))
      .write.parquet(orphan.toString)
    val issues = spark.sql(s"CALL $cat.system.fsck('m3')").collect()
    assert(issues.nonEmpty && issues.forall(_.getString(0).startsWith("orphan data file")))
    // default grace window refuses to touch a freshly-written fileset
    // (it may be an in-flight commit that hasn't swung metadata yet)
    assert(spark.sql(s"CALL $cat.system.fsck_repair('m3')").collect().isEmpty)
    val swept = spark
      .sql(s"CALL $cat.system.fsck_repair('m3', older_than_ms => 0)").collect()
    assert(swept.nonEmpty)
    assert(spark.sql(s"CALL $cat.system.fsck('m3')").collect().isEmpty)
    assert(t.scan().count() == 60)
  }

  test("CALL build_vector_index + refresh_vector_index drive the ANN index") {
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat - 5f)))
      .toDF("id", "emb")
    GraftTable.create(spark, s"$wh/vsrc", "vsrc",
      StructType(Seq(StructField("id", LongType, false),
        StructField("emb", ArrayType(FloatType)))),
      keys = Seq("id"), data = Some(vecs))
    val idxLoc = s"$wh/.vidx/vsrc_emb"
    val built = spark.sql(s"CALL $cat.system.build_vector_index(" +
      s"'vsrc', 'id', 'emb', '$idxLoc', 4)").collect().head
    assert(built.getString(0) == idxLoc && built.getLong(1) >= 1)
    val idx = GraftTable.load(spark, idxLoc)
    assert(idx.scan().count() == 40)
    // current watermark → no-op
    val r0 = spark.sql(
      s"CALL $cat.system.refresh_vector_index('$idxLoc')").collect().head
    assert(!r0.getBoolean(0))
    // mutate the source, refresh through SQL, index reflects it
    val src = GraftTable.load(spark, s"$wh/vsrc")
    src.delete(Seq(Tuple1(3L)).toDF("id"))
    val r1 = spark.sql(
      s"CALL $cat.system.refresh_vector_index('$idxLoc')").collect().head
    assert(r1.getBoolean(0) && r1.getLong(1) == src.currentVersion)
    assert(idx.scan().count() == 39)
  }

  test("CALL build_rollup + refresh_rollup drive the materialized rollup") {
    val data = (1L to 30L).map(k => (s"g${k % 3}", k, k * 2)).toDF("g", "k", "x")
    GraftTable.create(spark, s"$wh/rsrc", "rsrc", data.schema,
      keys = Seq("g", "k"), data = Some(data))
    val loc = s"$wh/.roll/rsrc_g"
    val built = spark.sql(s"CALL $cat.system.build_rollup('rsrc', 'g', " +
      s"'n,sx', 'count(*);sum(x)', '$loc', 4)").collect().head
    assert(built.getString(0) == loc && built.getLong(1) == 3)
    val r0 = spark.sql(s"CALL $cat.system.refresh_rollup('$loc')").collect().head
    assert(!r0.getBoolean(0))
    val src = GraftTable.load(spark, s"$wh/rsrc")
    src.deleteWhere(col("g") === "g2")
    val r1 = spark.sql(s"CALL $cat.system.refresh_rollup('$loc')").collect().head
    assert(r1.getBoolean(0) && r1.getLong(1) == src.currentVersion)
    assert(GraftTable.load(spark, loc).scan().count() == 2)
  }

  test("CALL enable_rollup_rewrite arms the MV rewrite for a pre-existing rollup") {
    val data = (1L to 40L).map(k => (s"h${k % 4}", k, k * 3)).toDF("g", "k", "x")
    GraftTable.create(spark, s"$wh/rwsrc", "rwsrc", data.schema,
      keys = Seq("g", "k"), data = Some(data))
    val loc = s"$wh/.roll/rwsrc_g"
    // build WITHOUT the session auto-arm (simulates a rollup from an
    // earlier session), then arm through the SQL face
    spark.conf.set("graft.rollup.autoRewrite", "false")
    try spark.sql(s"CALL $cat.system.build_rollup('rwsrc', 'g', " +
      s"'n,sx', 'count(*);sum(x)', '$loc', 4)").collect()
    finally spark.conf.unset("graft.rollup.autoRewrite")
    def q = spark.sql(s"SELECT g, count(*) AS n, sum(x) AS sx " +
      s"FROM $cat.rwsrc GROUP BY g")
    def servesRollup = graft.plans.ScanRoots.filesRead(
      q.queryExecution.optimizedPlan, _.startsWith(loc)).nonEmpty
    assert(!servesRollup, "un-armed rollup must not serve")
    val r = spark.sql(
      s"CALL $cat.system.enable_rollup_rewrite('$loc')").collect().head
    assert(r.getBoolean(0) && r.getString(1).endsWith("rwsrc"))
    assert(servesRollup, "armed + fresh rollup must serve the SQL GROUP BY")
    val got = q.collect().map(_.toSeq).toSet
    graft.plans.ServingRewrites.disarm(spark, loc)
    assert(q.collect().map(_.toSeq).toSet == got,
      "served result must equal direct compute")
    // rollup_status: fresh now; stale after a mutation; fresh after refresh
    val st0 = spark.sql(s"CALL $cat.system.rollup_status('$loc')").collect().head
    assert(st0.getString(0).endsWith("rwsrc") && st0.getBoolean(3) &&
      st0.getLong(1) == st0.getLong(2) && st0.getLong(4) == 4L, st0.toString)
    GraftTable.load(spark, s"$wh/rwsrc")
      .upsert(Seq(("h1", 1000L, 9L)).toDF("g", "k", "x"))
    val st1 = spark.sql(s"CALL $cat.system.rollup_status('$loc')").collect().head
    assert(!st1.getBoolean(3) && st1.getLong(2) > st1.getLong(1), st1.toString)
    spark.sql(s"CALL $cat.system.refresh_rollup('$loc')").collect()
    val st2 = spark.sql(s"CALL $cat.system.rollup_status('$loc')").collect().head
    assert(st2.getBoolean(3), st2.toString)
  }

  test("CALL build_secondary_index + refresh_secondary_index drive the index") {
    val data = (1L to 20L).map(i => (i, s"u$i")).toDF("id", "u")
    GraftTable.create(spark, s"$wh/ssrc", "ssrc", data.schema,
      keys = Seq("id"), data = Some(data))
    val loc = s"$wh/.sidx/ssrc_u"
    val built = spark.sql(s"CALL $cat.system.build_secondary_index(" +
      s"'ssrc', 'u', '$loc', 4)").collect().head
    assert(built.getString(0) == loc && built.getLong(1) == 20)
    val src = GraftTable.load(spark, s"$wh/ssrc")
    src.upsert(Seq((5L, "renamed")).toDF("id", "u"))
    val r1 = spark.sql(
      s"CALL $cat.system.refresh_secondary_index('$loc')").collect().head
    assert(r1.getBoolean(0) && r1.getLong(1) == src.currentVersion)
    val idx = GraftTable.load(spark, loc)
    assert(graft.tools.SecondaryIndex.lookup(spark, idx, Seq("renamed"))
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    assert(graft.tools.SecondaryIndex.lookup(spark, idx, Seq("u5"))
      .collect().isEmpty)
  }

  test("CALL derived_status reports every derived table's freshness under the warehouse") {
    val data = (1L to 30L).map(k => (s"d${k % 3}", k, k * 2)).toDF("g", "k", "x")
    val src = GraftTable.create(spark, s"$wh/dssrc", "dssrc", data.schema,
      keys = Seq("g", "k"), data = Some(data))
    val rollLoc = s"$wh/.roll/dssrc_g"
    val idxLoc = s"$wh/.sidx/dssrc_x"
    graft.tools.MaterializedRollup.build(spark, src, Seq("g"),
      Seq("n" -> "count(*)"), rollLoc, buckets = 2)
    graft.tools.SecondaryIndex.build(spark, src, "x", idxLoc, buckets = 2)
    def status(): Map[String, (String, Long, Long, Boolean)] =
      spark.sql(s"CALL $cat.system.derived_status()").collect()
        .map(r => r.getString(0) ->
          (r.getString(1), r.getLong(3), r.getLong(4), r.getBoolean(5)))
        .toMap
    val st0 = status()
    assert(st0.get(rollLoc).exists { case (k, wm, cur, fresh) =>
      k == "rollup" && wm == cur && fresh }, st0.toString)
    assert(st0.get(idxLoc).exists { case (k, _, _, fresh) =>
      k == "secondary_index" && fresh }, st0.toString)
    // a mutation makes BOTH stale in one report; refreshes restore them
    src.upsert(Seq(("d1", 500L, 7L)).toDF("g", "k", "x"))
    val st1 = status()
    assert(!st1(rollLoc)._4 && !st1(idxLoc)._4, st1.toString)
    assert(graft.tools.MaterializedRollup.refresh(spark,
      GraftTable.load(spark, rollLoc)))
    assert(graft.tools.SecondaryIndex.refresh(spark,
      GraftTable.load(spark, idxLoc)))
    val st2 = status()
    assert(st2(rollLoc)._4 && st2(idxLoc)._4, st2.toString)
  }

  test("CALL serving_stats counts serves and stale declines per derived table") {
    graft.plans.ServingStats.reset(spark)
    // three columns so the whole row does NOT ride the (n, id) index —
    // the serve is the point-FETCH path, not covering
    val data = (1L to 40L).map(i => (i, s"n$i", i * 2)).toDF("id", "n", "x")
    val src = GraftTable.create(spark, s"$wh/svsrc", "svsrc", data.schema,
      keys = Seq("id"), hash = Seq(HashComponent(Seq("id"), 4)),
      data = Some(data))
    val idxLoc = s"$wh/.sidx/svsrc_n"
    val idx = graft.tools.SecondaryIndex.build(spark, src, "n", idxLoc,
      buckets = 4)
    try {
      def stats(): Map[String, (Long, Long, String)] =
        spark.sql(s"CALL $cat.system.serving_stats()").collect()
          .map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getString(5))).toMap
      // a transparently served point query counts as a serve
      src.scan().filter(col("n") === "n7").collect()
      val s1 = stats()
      assert(s1.get(idxLoc).exists { case (serves, _, path) =>
        serves >= 1 && path == "point" }, s1.toString)
      // a mutation + a V2 read: the scan-root matches the CURRENT
      // version, the watermark lags — a STALE decline, counted
      src.upsert(Seq((7L, "renamed", 99L)).toDF("id", "n", "x"))
      spark.table(s"$cat.svsrc").filter(col("n") === "renamed").collect()
      val s2 = stats()
      assert(s2(idxLoc)._2 >= 1,
        s"the stale decline must be counted: $s2")
      // refreshed, the V2 read serves again and the counter moves
      assert(graft.tools.SecondaryIndex.refresh(spark, idx))
      val before = stats()(idxLoc)._1
      spark.table(s"$cat.svsrc").filter(col("n") === "renamed").collect()
      val s3 = stats()
      assert(s3(idxLoc)._1 > before, s3.toString)
    } finally graft.plans.ServingRewrites.disarm(spark, idx.location)
  }

  test("SHOW PROCEDURES lists the surface; DESCRIBE PROCEDURE documents it") {
    mkTable("m5")
    val listed = spark.sql(s"SHOW PROCEDURES IN $cat").collect()
      .map(_.getAs[String]("procedure_name")).toSet
    assert(listed == Set("analyze", "apply_changes", "cluster", "zone_stats",
      "compact", "compact_deltas",
      "backup", "backup_incremental", "restore_chain", "replicate",
      "compact_tablet", "expire_versions", "locate_row", "maintain", "maintain_schedule",
      "maintain_schedule_warehouse", "maintain_unschedule",
      "maintain_unschedule_warehouse", "maintain_schedule_status",
      "maintenance_plan",
      "merge_tail", "delta_stats",
      "fsck", "fsck_repair", "register", "table_statistics", "txn_begin",
      "txn_insert", "txn_upsert", "txn_delete", "txn_commit", "txn_abort",
      "build_vector_index", "refresh_vector_index",
      "build_rollup", "refresh_rollup", "enable_rollup_rewrite", "rollup_status",
      "build_secondary_index", "refresh_secondary_index", "derived_status",
      "serving_stats"),
      listed.toString)
    val desc = spark.sql(s"DESCRIBE PROCEDURE $cat.system.compact_tablet")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("compact_tablet") && desc.contains("O(tablet"))
  }

  test("CALL txn_* stages insert+delete; commit applies both as ONE version") {
    val t = mkTable("tx1")
    val v0 = t.currentVersion
    val id = spark.sql(s"CALL $cat.system.txn_begin('tx1')")
      .collect().head.getString(0)
    spark.sql(
      s"""CALL $cat.system.txn_insert('$id', "SELECT 100 AS k, 'extra' AS v")""")
      .collect()
    spark.sql(s"""CALL $cat.system.txn_delete('$id', "SELECT 1 AS k")""")
      .collect()
    // staged, not visible: the table is untouched until commit
    assert(t.currentVersion == v0)
    assert(t.scan().filter("k = 100").count() == 0)
    assert(t.scan().filter("k = 1").count() == 1)
    val v = spark.sql(s"CALL $cat.system.txn_commit('$id')")
      .collect().head.getLong(0)
    assert(v == v0 + 1, "both ops landed under one snapshot version")
    assert(t.scan().filter("k = 100").count() == 1)
    assert(t.scan().filter("k = 1").count() == 0)
    // time travel to the pre-txn snapshot sees neither op
    assert(t.scan(Some(v0)).filter("k = 100 OR k = 1").count() == 1)
    // the handle is consumed: a second commit is an error, not a replay
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
    }
    assert(e.getMessage.contains("no open transaction")
      || Option(e.getCause).exists(_.getMessage.contains("no open transaction")))
  }

  test("CALL txn_commit is all-or-nothing: a failed strict op publishes nothing") {
    val t = mkTable("tx2")
    val v0 = t.currentVersion
    val id = spark.sql(s"CALL $cat.system.txn_begin('tx2')")
      .collect().head.getString(0)
    spark.sql(
      s"""CALL $cat.system.txn_insert('$id', "SELECT 200 AS k, 'x' AS v")""")
      .collect()
    // strict delete of a key that doesn't exist → the WHOLE txn must abort
    spark.sql(s"""CALL $cat.system.txn_delete('$id', "SELECT 999 AS k")""")
      .collect()
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
    }
    def msg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | "))
    assert(msg(e).contains("DELETE key not found"), msg(e))
    // atomicity: the valid insert did NOT land, no version churn, no orphans
    assert(t.currentVersion == v0)
    assert(t.scan().filter("k = 200").count() == 0)
    assert(graft.tools.GraftTools.fsck(t.location).isEmpty)
  }

  test("CALL txn_abort discards staged ops; strict insert guard enforced on commit") {
    val t = mkTable("tx3")
    val v0 = t.currentVersion
    val id = spark.sql(s"CALL $cat.system.txn_begin('tx3')")
      .collect().head.getString(0)
    spark.sql(
      s"""CALL $cat.system.txn_upsert('$id', "SELECT 5 AS k, 'changed' AS v")""")
      .collect()
    assert(spark.sql(s"CALL $cat.system.txn_abort('$id')")
      .collect().head.getBoolean(0))
    assert(t.currentVersion == v0)
    assert(t.scan().filter("k = 5 AND v = 'changed'").count() == 0)
    // strict INSERT of a present key fails the commit (and only the commit)
    val id2 = spark.sql(s"CALL $cat.system.txn_begin('tx3')")
      .collect().head.getString(0)
    spark.sql(
      s"""CALL $cat.system.txn_insert('$id2', "SELECT 5 AS k, 'dup' AS v")""")
      .collect()
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.txn_commit('$id2')").collect()
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(chain.contains("INSERT key already present"), chain)
    assert(t.currentVersion == v0)
  }

  test("abandoned txn handles expire: a later begin sweeps them") {
    val t = mkTable("tx4")
    val v0 = t.currentVersion
    spark.conf.set("graft.txn.timeoutMs", "1")
    try {
      val id = spark.sql(s"CALL $cat.system.txn_begin('tx4')")
        .collect().head.getString(0)
      spark.sql(
        s"""CALL $cat.system.txn_upsert('$id', "SELECT 7 AS k, 'stale' AS v")""")
        .collect()
      Thread.sleep(10)
      // the next begin sweeps anything past the timeout
      val id2 = spark.sql(s"CALL $cat.system.txn_begin('tx4')")
        .collect().head.getString(0)
      val e = intercept[Exception] {
        spark.sql(s"CALL $cat.system.txn_commit('$id')").collect()
      }
      val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      assert(chain.contains("no open transaction"), chain)
      assert(spark.sql(s"CALL $cat.system.txn_abort('$id2')")
        .collect().head.getBoolean(0))
      // the expired txn's staged op never landed
      assert(t.currentVersion == v0)
      assert(t.scan().filter("v = 'stale'").count() == 0)
    } finally spark.conf.unset("graft.txn.timeoutMs")
  }

  test("CALL register: zero-copy parquet handoff through SQL") {
    val raw = s"$wh/reg_raw"
    (1 to 90).map(i => (i.toLong, s"r$i")).toDF("id", "v")
      .repartitionByRange(3, org.apache.spark.sql.functions.col("id"))
      .write.parquet(raw)
    val r = spark.sql(
      s"CALL $cat.system.register('regp', '$raw', 'id')").collect().head
    assert(r.getLong(1) == 3) // three files registered in place, no rewrite
    val t = GraftTable.load(spark, s"$wh/regp")
    assert(t.meta.baseFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    // immediately queryable through the same catalog, and mutable
    assert(spark.table(s"$cat.regp").count() == 90)
    t.upsert(Seq((5L, "EDIT")).toDF("id", "v"))
    assert(spark.table(s"$cat.regp").filter("id = 5").collect()
      .head.getString(1) == "EDIT")
    // with a hash spec the registered layout routes writes by bucketExpr
    val r2 = spark.sql(
      s"CALL $cat.system.register('regh', '$raw', 'id', 4)").collect().head
    assert(r2.getLong(1) == 3)
    assert(GraftTable.load(spark, s"$wh/regh").meta.hash.head.buckets == 4)
  }

  test("CALL table_statistics: on-disk bytes + live rows, exact and MOR paths") {
    val t = mkTable("m8")
    val exact = spark.sql(s"CALL $cat.system.table_statistics('m8')").collect()(0)
    assert(exact.getLong(1) == 60) // footer-count fast path (delta-free)
    assert(exact.getLong(0) > 0)
    t.upsert(Seq((200, "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(1)).toDF("k"))
    val mor = spark.sql(s"CALL $cat.system.table_statistics('m8')").collect()(0)
    assert(mor.getLong(1) == 60) // +1 new, -1 deleted, via the MOR count
    assert(mor.getLong(0) > exact.getLong(0)) // delta files add bytes
  }

  test("CALL locate_row returns the tablet the key's base file lives in") {
    val t = mkTable("m7")
    // ground truth: the coordinate recorded on the base file holding k=7
    val expected = t.scan().filter(col("k") === 7)
      .select(t.partitionIdColumn().as("b")).collect()(0).getInt(0)
    val r = spark.sql(s"CALL $cat.system.locate_row('m7', 'k=7')").collect()
    assert(r.length == 1 && r(0).getInt(0) == expected && r(0).isNullAt(1))
    // API face agrees, and every base file with that coordinate exists
    val (b, rk) = t.locateRow(Map("k" -> "7"))
    assert(b.contains(expected) && rk.isEmpty)
    assert(t.meta.baseFiles.exists(_.bucket.contains(expected)))
    // hash+range layout: both coordinates; a dropped range errors like the
    // reference's "row does not belong to any currently existing tablet"
    val df2 = (1 to 40).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(s"${1995 + i % 2}-06-01 00:00:00"), s"x$i"))
      .toDF("id", "d", "v")
    val t2 = GraftTable.create(spark, s"$wh/m7r", "m7r", df2.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df2))
    val (b2, rk2) = t2.locateRow(Map("id" -> "3", "d" -> "1995-06-01 00:00:00"))
    assert(b2.isDefined && rk2.contains("1995"))
    assert(t2.meta.baseFiles.exists(f =>
      f.bucket == b2 && f.rangeKey.contains("1995")))
    t2.dropRangePartition("1996")
    val e = intercept[IllegalArgumentException](
      t2.locateRow(Map("id" -> "4", "d" -> "1996-06-01 00:00:00")))
    assert(e.getMessage.contains("does not belong"))
  }

  test("unknown procedure errors with the available list") {
    mkTable("m4")
    val e = intercept[Exception] { spark.sql(s"CALL $cat.system.nope('m4')") }
    assert(e.getMessage.contains("no such procedure")
      || Option(e.getCause).exists(_.getMessage.contains("no such procedure")))
  }

  test("CALL backup/backup_incremental/restore_chain: SQL-driven chain round trip") {
    val t = mkTable("bk1")
    val full = Files.createTempDirectory("graft-proc-bk-full-").toString
    val b = spark.sql(s"CALL $cat.system.backup('bk1', '$full')").collect()
    assert(b.map(_.getLong(1)).toSeq == Seq(t.currentVersion))
    t.upsert(Seq((3, "gen1"), (61, "gen1new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(10)).toDF("k"))
    val inc = Files.createTempDirectory("graft-proc-bk-inc-").toString
    val head = spark.sql(s"CALL $cat.system.backup_incremental('bk1', '$inc', " +
      s"${b.head.getLong(1)})").collect().head.getLong(1)
    assert(head == t.currentVersion)
    val r = spark.sql(s"CALL $cat.system.restore_chain('bk1r', '$full', " +
      s"'k', '$inc', 2)").collect()
    assert(r.map(_.getLong(1)).nonEmpty)
    // restored content == source head content, queryable through the catalog
    val restored = spark.sql(s"SELECT k, v FROM $cat.bk1r ORDER BY k").collect()
    val src = t.scan().orderBy("k").collect()
    assert(restored.map(x => (x.getInt(0), x.getString(1))).toSeq ==
      src.map(x => (x.getInt(0), x.getString(1))).toSeq)
    assert(restored.exists(x => x.getInt(0) == 3 && x.getString(1) == "gen1"))
    assert(!restored.exists(_.getInt(0) == 10))
  }

  test("CALL apply_changes: one atomic commit of a CDC-shaped batch") {
    val t = mkTable("apch")
    val v0 = t.currentVersion
    // upsert k=2, ignore-delete k=3 and a never-existed key — one version
    val head = spark.sql(s"CALL $cat.system.apply_changes('apch', " +
      "'SELECT * FROM VALUES (2, ''patched'', false), (3, NULL, true), " +
      "(9999, NULL, true) AS t(k, v, _deleted)')")
      .collect().head.getLong(0)
    assert(head == v0 + 1, "the whole batch must commit as ONE version")
    val got = GraftTable.load(spark, s"$wh/apch").scan().orderBy("k")
      .collect().map(x => (x.getInt(0), x.getString(1)))
    assert(got.exists(x => x._1 == 2 && x._2 == "patched"))
    assert(!got.exists(_._1 == 3))
    // a batch touching one key twice refuses (no defined order in a commit)
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.apply_changes('apch', " +
        "'SELECT * FROM VALUES (5, ''a'', false), (5, NULL, true) " +
        "AS t(k, v, _deleted)')").collect()
    }
    // a NULL _deleted is a malformed batch: it must FAIL LOUDLY and commit
    // nothing (both op filters exclude NULLs, so without the guard the
    // action would silently vanish)
    val vBefore = GraftTable.load(spark, s"$wh/apch").currentVersion
    val eNull = intercept[Exception] {
      spark.sql(s"CALL $cat.system.apply_changes('apch', " +
        "'SELECT * FROM VALUES (6, ''x'', CAST(NULL AS BOOLEAN)) " +
        "AS t(k, v, _deleted)')").collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(eNull).exists(_.contains("_deleted")),
      s"the error must name the malformed column: ${chain(eNull)}")
    assert(GraftTable.load(spark, s"$wh/apch").currentVersion == vBefore,
      "a malformed batch must commit nothing")
    // immutable columns bar the SQL face: the CDC apply path skips the
    // immutability re-check upsert performs, and arbitrary SQL has passed
    // it nowhere — letting it through would bypass setImmutable
    t.setImmutable("v")
    val eImm = intercept[Exception] {
      spark.sql(s"CALL $cat.system.apply_changes('apch', " +
        "'SELECT * FROM VALUES (2, ''nope'', false) AS t(k, v, _deleted)')")
        .collect()
    }
    assert(chain(eImm).exists(_.contains("immutable")), s"${chain(eImm)}")
  }

  test("CALL replicate relays CDC since a version; head chains the next call") {
    val src = mkTable("rep_src")
    val v1 = src.currentVersion
    GraftTable.create(spark, s"$wh/rep_dst", "rep_dst",
      src.scan().schema, keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)),
      data = Some(src.scan(Some(v1))))
    src.upsert(Seq((5, "r1")).toDF("k", "v"))
    src.delete(Seq(Tuple1(7)).toDF("k"))
    val h1 = spark.sql(s"CALL $cat.system.replicate('rep_src', 'rep_dst', $v1)")
      .collect().head.getLong(0)
    src.upsert(Seq((7, "back")).toDF("k", "v"))
    spark.sql(s"CALL $cat.system.replicate('rep_src', 'rep_dst', $h1)").collect()
    val dst = GraftTable.load(spark, s"$wh/rep_dst")
    val got = dst.scan().orderBy("k").collect().map(x => (x.getInt(0), x.getString(1)))
    val want = src.scan().orderBy("k").collect().map(x => (x.getInt(0), x.getString(1)))
    assert(got.toSeq == want.toSeq)
    assert(got.exists(x => x._1 == 7 && x._2 == "back"))
  }
}
