package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, RangeComponent}
import graft.table.GraftTable
import graft.tools.{MaterializedRollup, SecondaryIndex}

/** CDC-maintained derived tables: the materialized rollup (incremental view
  * maintenance) and the secondary index. Both commit their refresh as one
  * atomic transaction of upserts + stale tombstones, so every test asserts
  * the derived table equals a from-scratch rebuild after arbitrary base
  * mutations — including across a base compaction (the changesSince
  * snapshot-diff fallback). */
class RollupSecondaryIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-rsi-").toString

  /** (grp, k, x): PK (grp, k), range-per-value on grp, hash(2) on k. */
  private def mkBase(): GraftTable = {
    val data = (1L to 40L).map(k => (s"g${k % 4}", k, k * 10)).toDF("grp", "k", "x")
    GraftTable.create(spark, tmp(), "rsi_base", data.schema, Seq("grp", "k"),
      Seq(HashComponent(Seq("k"), 2)),
      range = Some(RangeComponent("grp", "value")), data = Some(data))
  }

  private def mkRollup(t: GraftTable): GraftTable =
    MaterializedRollup.build(spark, t, Seq("grp"), Seq(
      "n" -> "count(*)", "sx" -> "sum(x)", "mx" -> "max(k)"), tmp(), buckets = 4)

  private def rollupState(r: GraftTable): Map[String, (Long, Long, Long)] =
    r.scan().collect()
      .map(w => w.getString(0) -> ((w.getLong(1), w.getLong(2), w.getLong(3))))
      .toMap

  private def expectedRollup(t: GraftTable): Map[String, (Long, Long, Long)] =
    t.scan().groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), max("k").as("mx"))
      .collect()
      .map(w => w.getString(0) -> ((w.getLong(1), w.getLong(2), w.getLong(3))))
      .toMap

  test("rollup build requires PK group columns") {
    val t = mkBase()
    val e = intercept[IllegalArgumentException] {
      MaterializedRollup.build(spark, t, Seq("x"), Seq("n" -> "count(*)"), tmp())
    }
    assert(e.getMessage.contains("primary-key"))
  }

  test("rollup refresh: changed, vanished, and new groups in one pass") {
    val t = mkBase()
    val r = mkRollup(t)
    assert(rollupState(r) == expectedRollup(t))
    t.upsert(Seq(("g1", 1L, 999L)).toDF("grp", "k", "x")) // changed agg
    t.deleteWhere(col("grp") === "g2")                    // vanished group
    t.insert(Seq(("g9", 100L, 5L)).toDF("grp", "k", "x")) // new group
    assert(MaterializedRollup.refresh(spark, r))
    assert(rollupState(r) == expectedRollup(t))
    assert(!rollupState(r).contains("g2"))
    assert(rollupState(r).contains("g9"))
    // already current: no-op
    assert(!MaterializedRollup.refresh(spark, r))
  }

  test("rollup refresh prunes the base scan to touched groups") {
    val t = mkBase()
    val r = mkRollup(t)
    t.upsert(Seq(("g1", 1L, 7L)).toDF("grp", "k", "x"))
    // 1 touched range of 4 → the IN-list path must engage and prune
    assert(MaterializedRollup.refresh(spark, r, assertPrune = true))
    assert(rollupState(r) == expectedRollup(t))
  }

  test("rollup refresh semi-join fallback (touched set above maxPruneKeys)") {
    val t = mkBase()
    val r = mkRollup(t)
    t.upsert(Seq(("g0", 4L, 1L), ("g1", 5L, 2L), ("g3", 7L, 3L))
      .toDF("grp", "k", "x"))
    // maxPruneKeys=1 forces the distributed path; assertPrune must refuse it
    intercept[IllegalStateException] {
      MaterializedRollup.refresh(spark, r, maxPruneKeys = 1, assertPrune = true)
    }
    assert(MaterializedRollup.refresh(spark, r, maxPruneKeys = 1))
    assert(rollupState(r) == expectedRollup(t))
  }

  test("rollup refresh survives a base compaction (snapshot-diff fallback)") {
    val t = mkBase()
    val r = mkRollup(t)
    t.deleteWhere(col("grp") === "g3")
    t.upsert(Seq(("g0", 8L, 123L)).toDF("grp", "k", "x"))
    t.compact() // folds deltas into a new base: changesSince must fall back
    assert(MaterializedRollup.refresh(spark, r))
    assert(rollupState(r) == expectedRollup(t))
    assert(!rollupState(r).contains("g3"))
  }

  test("rollup refresh on a version bump with no row changes advances the watermark") {
    val t = mkBase()
    val r = mkRollup(t)
    t.upsert(Seq(("g0", 12L, 77L)).toDF("grp", "k", "x"))
    assert(MaterializedRollup.refresh(spark, r))
    val settled = rollupState(r)
    t.compact() // folds the already-refreshed deltas: version moves, zero
                // logical changes since the watermark
    assert(MaterializedRollup.refresh(spark, r))
    assert(rollupState(r) == settled)
    assert(!MaterializedRollup.refresh(spark, r))
  }

  test("rollup refresh replays multi-aggregate definitions exactly") {
    val t = mkBase()
    val r = MaterializedRollup.build(spark, t, Seq("grp"), Seq(
      "n_even" -> "sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)",
      "min_x" -> "min(x)"), tmp())
    t.upsert(Seq(("g1", 13L, -5L)).toDF("grp", "k", "x"))
    assert(MaterializedRollup.refresh(spark, r))
    val got = r.scan().filter(col("grp") === "g1").collect().head
    val want = t.scan().filter(col("grp") === "g1")
      .agg(sum(when(col("k") % 2 === 0, 1L).otherwise(0L)), min("x"))
      .collect().head
    assert(got.getLong(1) == want.getLong(0) && got.getLong(2) == want.getLong(1))
  }

  // ---- secondary index ---------------------------------------------------

  /** (id, name, v): PK id, hash(4). */
  private def mkNamed(): GraftTable = {
    val data = (1L to 30L).map(i => (i, s"name_$i", i * 2)).toDF("id", "name", "v")
    GraftTable.create(spark, tmp(), "rsi_named", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
  }

  test("secondary index build refusals: key column, auto-inc source") {
    val t = mkNamed()
    assert(intercept[IllegalArgumentException] {
      SecondaryIndex.build(spark, t, "id", tmp())
    }.getMessage.contains("primary-key"))
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "name")
    val nu = GraftTable.create(spark, tmp(), "rsi_nu", dup.schema, Seq("k"),
      data = Some(dup), nonUniqueKey = true)
    assert(intercept[IllegalArgumentException] {
      SecondaryIndex.build(spark, nu, "name", tmp())
    }.getMessage.contains("auto-increment"))
  }

  test("secondary lookup finds rows by non-key value; stale names die on refresh") {
    val t = mkNamed()
    val idx = SecondaryIndex.build(spark, t, "name", tmp(), buckets = 16)
    assert(SecondaryIndex.lookup(spark, idx, Seq("name_3", "name_7"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 7L))
    t.upsert(Seq((3L, "renamed_3", 6L)).toDF("id", "name", "v"))
    t.deleteWhere(col("id") === 7)
    t.insert(Seq((100L, "name_100", 0L)).toDF("id", "name", "v"))
    assert(SecondaryIndex.refresh(spark, idx))
    assert(!SecondaryIndex.refresh(spark, idx))
    // stale entries must be gone; fresh ones present
    assert(SecondaryIndex.lookup(spark, idx, Seq("name_3", "name_7"))
      .collect().isEmpty)
    assert(SecondaryIndex.lookup(spark, idx, Seq("renamed_3", "name_100"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 100L))
    // the index table itself carries exactly one entry per live base row
    assert(GraftTable.load(spark, idx.meta.location).scan().count() ==
      t.scan().count())
  }

  test("secondary index: NULL values are never indexed") {
    val t = mkNamed()
    val idx = SecondaryIndex.build(spark, t, "name", tmp())
    t.upsert(Seq((5L, null.asInstanceOf[String], 10L)).toDF("id", "name", "v"))
    assert(SecondaryIndex.refresh(spark, idx))
    assert(SecondaryIndex.lookup(spark, idx, Seq("name_5")).collect().isEmpty)
    assert(idx.scan().filter(col("name").isNull).count() == 0)
    // un-NULLing re-indexes
    t.upsert(Seq((5L, "name_5b", 10L)).toDF("id", "name", "v"))
    assert(SecondaryIndex.refresh(spark, idx))
    assert(SecondaryIndex.lookup(spark, idx, Seq("name_5b"))
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
  }

  test("secondary index refresh is O(changed): before-image from the pruned v0 base, never the index") {
    val t = mkNamed()
    val idx = SecondaryIndex.build(spark, t, "name", tmp(), buckets = 16)
    // ONE mutated row: assertPrune hard-gates the before-image derivation —
    // the v0 base scan must take the IN-list path and keep ≤ half the
    // files (here 1 of 4 hash buckets). The index itself (hash-partitioned
    // on the VALUE, unprunable by key) is never read.
    t.upsert(Seq((12L, "renamed_12", 99L)).toDF("id", "name", "v"))
    val vBefore = GraftTable.load(spark, idx.meta.location).meta.version
    assert(SecondaryIndex.refresh(spark, idx, assertPrune = true))
    // rows AND watermark land in ONE version — the before-image
    // derivation requires they can never disagree after a crash
    assert(GraftTable.load(spark, idx.meta.location).meta.version == vBefore + 1,
      "refresh must commit rows and watermark as one version")
    assert(SecondaryIndex.lookup(spark, idx, Seq("name_12")).collect().isEmpty,
      "the before-image entry must tombstone")
    assert(SecondaryIndex.lookup(spark, idx, Seq("renamed_12"))
      .collect().map(_.getLong(0)).toSeq == Seq(12L))
    // the pruned path also covers a delete (before-image only, no fresh)
    t.deleteWhere(col("id") === 3)
    assert(SecondaryIndex.refresh(spark, idx, assertPrune = true))
    assert(SecondaryIndex.lookup(spark, idx, Seq("name_3")).collect().isEmpty)
    // backfill-sized change sets refuse the assert (semi-join fallback)
    t.upsert((1L to 30L).map(i => (i, s"bulk_$i", i)).toDF("id", "name", "v"))
    assert(intercept[IllegalStateException] {
      SecondaryIndex.refresh(spark, idx, maxPruneKeys = 4, assertPrune = true)
    }.getMessage.contains("semi-join"))
    // ... and the fallback itself stays exact
    assert(SecondaryIndex.refresh(spark, idx, maxPruneKeys = 4))
    assert(SecondaryIndex.lookup(spark, idx, Seq("bulk_20"))
      .collect().map(_.getLong(0)).toSeq == Seq(20L))
    assert(GraftTable.load(spark, idx.meta.location).scan().count() ==
      t.scan().count())
  }

  test("secondary lookup maxKeys bound refuses scan-sized answers") {
    val data = (1L to 20L).map(i => (i, "same", i)).toDF("id", "name", "v")
    val t = GraftTable.create(spark, tmp(), "rsi_wide", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, "name", tmp())
    assert(intercept[IllegalArgumentException] {
      SecondaryIndex.lookup(spark, idx, Seq("same"), maxKeys = 5)
    }.getMessage.contains("point"))
    assert(SecondaryIndex.lookup(spark, idx, Seq("same"), maxKeys = 50)
      .count() == 20)
  }

  test("secondary index refresh survives a base compaction") {
    val t = mkNamed()
    val idx = SecondaryIndex.build(spark, t, "name", tmp())
    t.upsert(Seq((2L, "renamed_2", 4L)).toDF("id", "name", "v"))
    t.compact()
    assert(SecondaryIndex.refresh(spark, idx))
    assert(SecondaryIndex.lookup(spark, idx, Seq("renamed_2"))
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(SecondaryIndex.lookup(spark, idx, Seq("name_2")).collect().isEmpty)
  }

  private def mkWide(): GraftTable = {
    // 4096 rows, v uniformly 0..4095 — wide enough that 4-bucket ×
    // multi-file layouts carry real per-file value spans
    val data = (1L to 4096L).map(i => (i, (i * 2654435761L) % 4096L))
      .toDF("id", "v")
    GraftTable.create(spark, tmp(), "rsi_range", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
  }

  test("clustered build: a BETWEEN probe prunes to the value slabs with NO manual cluster call") {
    val t = mkWide()
    val idx = SecondaryIndex.build(spark, t, Seq("v"), tmp(), buckets = 4,
      clustered = true)
    try {
      assert(idx.meta.clusterBy.nonEmpty, "clustered build must persist the spec")
      assert(idx.meta.baseFiles.length >= 32, // 4 buckets × ≥8 files
        s"clustered build must split slabs: ${idx.meta.baseFiles.length} files")
      // assertPrune: the narrow BETWEEN must open ≤ half the index files —
      // the contract a hash layout cannot meet without clustering
      val hits = SecondaryIndex.lookupWhere(spark, idx,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 100L),
          org.apache.spark.sql.sources.LessThanOrEqual("v", 140L)),
        assertPrune = true).collect()
      assert(hits.length == 41, s"BETWEEN must find all 41 rows: ${hits.length}")
    } finally graft.plans.ServingRewrites.disarm(spark, idx.location)
  }

  test("maybeCluster: the scheduler policy clusters a hash-layout index once, then never again") {
    val t = mkWide()
    // force a multi-file hash layout (the signature the policy detects)
    spark.conf.set("graft.base.filesPerTablet", "8")
    val idx = try SecondaryIndex.build(spark, t, Seq("v"), tmp(), buckets = 4)
    finally spark.conf.unset("graft.base.filesPerTablet")
    try {
      assert(idx.meta.baseFiles.length >= 8)
      assert(idx.meta.clusterBy.isEmpty)
      // the policy detects the overlap signature and clusters ONCE
      assert(SecondaryIndex.maybeCluster(spark, idx),
        "a hash-layout index must trigger the clustering policy")
      assert(idx.meta.clusterBy.nonEmpty, "the policy must persist the spec")
      assert(!SecondaryIndex.maybeCluster(spark, idx),
        "an already-clustered index must never re-cluster")
      // the clustered layout now passes the range-prune contract
      SecondaryIndex.lookupWhere(spark, idx,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 100L),
          org.apache.spark.sql.sources.LessThanOrEqual("v", 140L)),
        assertPrune = true).collect()
      // and the scheduler tick path drives the same policy end-to-end:
      // rebuild an un-clustered twin, tick it, expect the spec persisted
      spark.conf.set("graft.base.filesPerTablet", "8")
      val idx2 = try SecondaryIndex.build(spark, t, Seq("v"), tmp(),
        buckets = 4)
      finally spark.conf.unset("graft.base.filesPerTablet")
      try {
        val e = graft.table.MaintenanceScheduler.schedule(spark,
          idx2.location, intervalMs = 3600_000L)
        try {
          graft.table.MaintenanceScheduler.tick(spark, e)
          assert(e.lastError.isEmpty, e.lastError.toString)
          assert(idx2.meta.clusterBy.nonEmpty,
            "a maintenance tick must value-cluster a hash-layout index")
        } finally graft.table.MaintenanceScheduler.unschedule(idx2.location)
      } finally graft.plans.ServingRewrites.disarm(spark, idx2.location)
    } finally graft.plans.ServingRewrites.disarm(spark, idx.location)
  }

  test("topK walks the extreme slabs of a clustered index (zone cut), exact either layout") {
    val t = mkWide()
    val idx = SecondaryIndex.build(spark, t, Seq("v"), tmp(), buckets = 4,
      clustered = true)
    try {
      val expect = t.scan().orderBy(col("v").desc, col("id").asc)
        .limit(5).collect().map(_.getLong(0)).toSet
      val got = SecondaryIndex.topK(spark, idx, k = 5, desc = true)
        .getOrElse(fail("topK must serve")).collect().map(_.getLong(0)).toSet
      assert(got == expect, s"got $got want $expect") // v unique → one valid set
      // the zone cut shows in the probe plan: pass-1's index scan keeps
      // at most half the files (extreme slabs only). Reconstruct the
      // pass-1 pruning the same way lookupWhere's assertPrune does.
      val m = idx.meta
      val kept = graft.sources.PartitionPruner.pruneFiles(m, m.baseFiles,
        Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 4091L)))
      assert(kept.length * 2 <= m.baseFiles.length,
        s"a clustered index must prune the top-k scan: ${kept.length} of ${m.baseFiles.length}")
      // ascending works symmetrically
      val gotAsc = SecondaryIndex.topK(spark, idx, k = 3, desc = false)
        .getOrElse(fail("topK asc must serve")).collect().map(_.getLong(0)).toSet
      val expAsc = t.scan().orderBy(col("v").asc).limit(3).collect()
        .map(_.getLong(0)).toSet
      assert(gotAsc == expAsc)
    } finally graft.plans.ServingRewrites.disarm(spark, idx.location)
  }
}
