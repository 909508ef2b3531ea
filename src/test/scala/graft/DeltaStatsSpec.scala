package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, In, LessThan, LessThanOrEqual}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * Delta stats (reference: tablet/deltafile.h DeltaStats — each delta store
 * records its min/max row keys): every delta commit records first-key
 * footer bounds on its files, and scans carrying a first-PK predicate
 * skip delta files whose interval cannot intersect it. At scale this is
 * what keeps point lookups O(matching files): a streaming sink leaves one
 * small delta file per micro-batch, and a key-local read must not open
 * ten thousand of them.
 */
class DeltaStatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def onePerCommit[A](body: => A): A = {
    spark.conf.set("graft.delta.writePartitions", "1")
    try body finally spark.conf.unset("graft.delta.writePartitions")
  }

  test("delta commits record bounds; PK predicates prune delta files") {
    val wh = Files.createTempDirectory("graft-dstats-").toString
    val df = (1 to 2000).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/ds1", "ds1", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    onePerCommit {
      t.upsert((1 to 50).map(i => (i.toLong, s"lo$i")).toDF("k", "v"))
      t.upsert((1900 to 1950).map(i => (i.toLong, s"hi$i")).toDF("k", "v"))
      t.delete(Seq(Tuple1(1000L)).toDF("k"))
    }
    val m = t.meta
    assert(m.deltaFiles.size == 3)
    assert(m.deltaFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined),
      s"every delta commit must record bounds: ${m.deltaFiles}")

    def prune(fs: Seq[org.apache.spark.sql.sources.Filter]) =
      graft.sources.PartitionPruner.pruneFiles(m, m.deltaFiles, fs)
    assert(prune(Seq(EqualTo("k", 30L))).size == 1)           // low batch only
    assert(prune(Seq(EqualTo("k", 1000L))).size == 1)         // the tombstone file
    assert(prune(Seq(GreaterThan("k", 1800L))).size == 1)     // high batch only
    assert(prune(Seq(GreaterThan("k", 40L), LessThan("k", 60L))).size == 1)
    assert(prune(Seq(EqualTo("v", "a7"))).size == 3)          // non-key: keep all
    assert(prune(Nil).size == 3)

    // end-to-end through the pruning relation: every regime answers right
    val r = spark.read.format("graft").load(t.location)
    def one(k: Long) = r.filter(col("k") === k).collect()
    assert(one(30L).map(_.getString(1)).toSeq == Seq("lo30"))
    assert(one(1920L).map(_.getString(1)).toSeq == Seq("hi1920"))
    assert(one(1000L).isEmpty)                                 // tombstoned
    assert(one(500L).map(_.getString(1)).toSeq == Seq("a500")) // base-only key
    assert(r.filter(col("k") > 1940L && col("k") <= 1960L).count() == 20)

    // V2 broadcast overlay prunes deltas too (filters re-evaluated above)
    spark.conf.set("spark.sql.catalog.gds", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gds.warehouse", wh)
    val v2 = spark.sql("SELECT v FROM gds.ds1 WHERE k = 1930").collect()
    assert(v2.map(_.getString(0)).toSeq == Seq("hi1930"))
    assert(spark.sql("SELECT * FROM gds.ds1 WHERE k = 1000").isEmpty)
  }

  test("scanPruned applies its own filters: a pruned delta file never resurrects rows") {
    val wh = Files.createTempDirectory("graft-dstats-sp-").toString
    val df = (1 to 20).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/sp", "sp", df.schema, Seq("k"),
      data = Some(df))
    onePerCommit {
      t.delete(Seq(Tuple1(15L)).toDF("k"))
      t.upsert(Seq((18L, "b18")).toDF("k", "v"))
    }
    assert(t.meta.baseFiles.size == 1 && t.meta.deltaFiles.size == 2,
      s"fixture: one base file, two delta files: ${t.meta}")
    // each predicate prunes BOTH delta files by their key bounds (15 and
    // 18 lie outside it); the returned rows must still be exactly the
    // snapshot's rows under the predicate
    Seq(
      Seq(EqualTo("k", 5L)) -> (col("k") === 5L),
      Seq(In("k", Array(5L, 7L))) -> col("k").isin(5L, 7L),
      Seq(LessThanOrEqual("k", 6L)) -> (col("k") <= 6L)
    ).foreach { case (fs, c) =>
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(rows(t.scanPruned(fs)) == rows(t.scan().filter(c)), fs.toString)
    }
  }

  test("distributed footer-stat branch records identical manifests") {
    // statFiles fans footer opens over a driver pool below the threshold
    // and runs them as a Spark job above it (the 100 TB rewrite path) —
    // the two branches must record byte-identical stats. Build the same
    // table under each branch and compare every per-file stat.
    val wh = Files.createTempDirectory("graft-dstat-dist-").toString
    val df = (1 to 800).map(i => (i.toLong, s"v$i", i % 7)).toDF("k", "v", "g")
    def build(loc: String) = {
      val t = GraftTable.create(spark, loc, "dsd", df.schema, Seq("k"),
        Seq(HashComponent(Seq("k"), 4)), data = Some(df))
      onePerCommit {
        t.upsert((10 to 40).map(i => (i.toLong, s"u$i", 0)).toDF("k", "v", "g"))
      }
      t.meta
    }
    def stats(m: graft.catalog.TableMeta) =
      (m.baseFiles ++ m.deltaFiles)
        .map(f => (f.kind, f.bucket, f.rows, f.keyLo, f.keyHi,
          f.colLo.map(_.toSeq.sorted), f.colHi.map(_.toSeq.sorted),
          f.colNulls.map(_.toSeq.sorted)))
        .sortBy(_.toString)
    val pooled = stats(build(s"$wh/pool"))
    spark.conf.set("graft.bounds.distributeThreshold", "1")
    try {
      val distributed = stats(build(s"$wh/dist"))
      assert(distributed == pooled,
        s"distributed stats diverge:\n$distributed\nvs\n$pooled")
    } finally spark.conf.unset("graft.bounds.distributeThreshold")
  }

  test("timestamp and string first keys get delta bounds (micros write)") {
    val wh = Files.createTempDirectory("graft-dstats2-").toString
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-03-$d%02d 10:00:00")
    val tdf = (1 to 20).map(i => (ts(1 + i % 25), i.toLong)).toDF("t", "n")
    val tt = GraftTable.create(spark, s"$wh/dts", "dts", tdf.schema, Seq("t"),
      Seq(HashComponent(Seq("t"), 2)), data = Some(tdf))
    onePerCommit { tt.upsert(Seq((ts(5), 99L)).toDF("t", "n")) }
    assert(tt.meta.deltaFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined),
      "timestamp-keyed delta files must carry bounds (INT64-micros write)")
    assert(tt.scan().filter(col("t") === ts(5)).head().getLong(1) == 99L)
    // the SQL UPDATE executor writer and a tablet fold's rest fileset
    // write micros too, whatever the session's timestamp type
    val b5 = tt.deltaTabletStats().head().getInt(0)
    spark.conf.set("spark.sql.catalog.gdts", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdts.warehouse", wh)
    spark.sql("UPDATE gdts.dts SET n = 66 WHERE t = timestamp'2024-03-07 10:00:00'")
    assert(tt.scan().filter(col("t") === ts(7)).head().getLong(1) == 66L)
    assert(tt.meta.deltaFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined),
      "SQL UPDATE delta files must carry bounds")
    val before = tt.meta.deltaFiles.toSet
    tt.compactTablet(bucket = Some(1 - b5))
    val rest = tt.meta.deltaFiles.filterNot(before.contains)
    assert(rest.nonEmpty, "the fold must leave ts(5)'s bucket in a rest fileset")
    assert(tt.meta.deltaFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined),
      "compactTablet rest files must carry bounds")
    assert(tt.scan().filter(col("t") === ts(5)).head().getLong(1) == 99L)
    assert(tt.scan().filter(col("t") === ts(7)).head().getLong(1) == 66L)

    val sdf = (1 to 20).map(i => (f"id$i%03d", i.toLong)).toDF("s", "n")
    val st = GraftTable.create(spark, s"$wh/dss", "dss", sdf.schema, Seq("s"),
      Seq(HashComponent(Seq("s"), 2)), data = Some(sdf))
    onePerCommit { st.upsert(Seq(("id007", 77L)).toDF("s", "n")) }
    val sm = st.meta
    assert(sm.deltaFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    assert(graft.sources.PartitionPruner.pruneFiles(
      sm, sm.deltaFiles, Seq(EqualTo("s", "zzz"))).isEmpty,
      "a string predicate outside every delta interval must prune all files")
  }

  test("micro-batch regime: a point read keeps one of many delta files") {
    val wh = Files.createTempDirectory("graft-dstats3-").toString
    val df = (1 to 1000).map(i => (i.toLong, 0L)).toDF("k", "c")
    val t = GraftTable.create(spark, s"$wh/mb", "mb", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    // 8 key-local micro-batch commits, one file each (the streaming shape)
    onePerCommit {
      (0 until 8).foreach { b =>
        t.upsert((1 to 20).map(i => (b * 100L + i, b.toLong)).toDF("k", "c"))
      }
    }
    val m = t.meta
    assert(m.deltaFiles.size == 8)
    val keep = graft.sources.PartitionPruner.pruneFiles(
      m, m.deltaFiles, Seq(EqualTo("k", 305L)))
    assert(keep.size == 1, s"point read must open 1 of 8 delta files, kept $keep")
    val r = spark.read.format("graft").load(t.location)
    assert(r.filter(col("k") === 305L).head().getLong(1) == 3L)
  }

  test("changesSince ghost-dedup prunes the v1 snapshot by delta key bounds") {
    // the CDC fast path's delete-ghost check semi-joins against the v1
    // snapshot; the in-range delta files' recorded [keyLo, keyHi] bound
    // every touched key, so on a layout whose base files are disjoint PK
    // slabs the v1 scan must open only the overlapping slab — at 100 TB
    // the difference between a tablet read and a table read per refresh
    val wh = Files.createTempDirectory("graft-dstats4-").toString
    val df = (1 to 2000).map(i => (i.toLong, i * 2L)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/gd", "gd", df.schema, Seq("k"),
      Nil, data = Some(df))
    t.cluster(Seq("k", "v"), nFiles = 4, mode = "lead") // disjoint PK slabs
    val v1 = t.currentVersion
    val v1Files = t.metaAt(v1).baseFiles.map(f =>
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
    assert(v1Files.size >= 4, s"need a multi-slab base, got ${v1Files.size}")
    onePerCommit {
      t.upsert(Seq((5L, 99L)).toDF("k", "v"))
      t.delete(Seq(Tuple1(7L)).toDF("k"))
    }
    // the v1 scan is in the plan on the job path, past the driver bound
    // (within it the ghost check is a driver keyed read of the deleted
    // keys alone, and the window comes back as local rows)
    spark.conf.set("graft.mor.broadcastBytes", "1")
    val cs = try {
      val cs = t.changesSince(v1, t.currentVersion)
      val read = graft.plans.ScanRoots.filesRead(
        cs.queryExecution.optimizedPlan, v1Files)
      assert(read.nonEmpty && read.size < v1Files.size,
        s"ghost-dedup must scan a strict subset of the v1 slabs " +
          s"(read ${read.size} of ${v1Files.size})")
      cs.orderBy("k").collect()
    } finally spark.conf.unset("graft.mor.broadcastBytes")
    // exactness on both paths: the upsert surfaces, the delete of an
    // existing key surfaces
    Seq(cs, t.changesSince(v1, t.currentVersion).orderBy("k").collect()).foreach { rows =>
      assert(rows.map(r => (r.getLong(0), r.getBoolean(2))).toSeq ==
        Seq((5L, false), (7L, true)), rows.mkString(", "))
    }
  }
}
