package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, TableMeta}
import graft.table.GraftTable
import graft.SparkTestSession.FilesRead


class PruningExtrasSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("multi-component hash pruning agrees with the writer layout") {
    val data = (1 to 200).map(i => (i.toLong, (i % 7).toLong, s"v$i")).toDF("a", "b", "v")
    val t = GraftTable.create(spark, tmp("graft-mc-"), "mc", data.schema,
      Seq("a", "b"),
      hash = Seq(HashComponent(Seq("a"), 3), HashComponent(Seq("b"), 2)),
      data = Some(data))
    assert(t.scanPruned(Nil).filesRead.length == 6) // 3 × 2 buckets
    // point lookup on both components → exactly one bucket file
    val one = t.scanPruned(Seq(EqualTo("a", 42L), EqualTo("b", 0L)))
    assert(one.filesRead.length == 1)
    assert(one.filter(col("a") === 42 && col("b") === 0).count() == 1)
    // constraint on only one component → no pruning (conservative)
    assert(t.scanPruned(Seq(EqualTo("a", 42L))).filesRead.length == 6)
    // every row is found in the file its computed partition id points to
    val withPid = t.scan().withColumn("pid", t.partitionIdColumn())
      .withColumn("f", input_file_name()).collect()
    withPid.foreach { r =>
      assert(r.getAs[String]("f").contains(s"_b=${r.getAs[Int]("pid")}"))
    }
  }

  test("scanIndexed: Catalyst-pushed filters prune files automatically") {
    val data = (1 to 1000).map(i => (i.toLong, s"n$i")).toDF("id", "v")
    val t = GraftTable.create(spark, tmp("graft-idx-"), "t", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 8)), data = Some(data))
    def numFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.metrics(graft.sources.v2.GraftV2Scan.FilesRead).value
      }.sum
    }
    assert(numFiles(t.scan()) == 8)
    assert(numFiles(t.scan().filter(col("id") === 42)) == 1)
    assert(numFiles(t.scan().filter(col("id").isin(1L, 2L, 3L))) == 3)
    // merge-on-read correctness on top of the indexed base
    t.upsert(Seq((42L, "X")).toDF("id", "v"))
    t.deleteWhere(col("id") === 100)
    assert(t.scan().orderBy("id").collect().toSeq ==
      t.scan().orderBy("id").collect().toSeq)
    // schema evolution → multiple generations → silent fallback, still correct
    t.addColumn("extra", org.apache.spark.sql.types.StringType, default = Some("d"))
    t.upsert(Seq((2000L, "new", "e")).toDF("id", "v", "extra"))
    t.compact() // compaction writes a fresh single-generation base again
    assert(t.scan().filter(col("id") === 2000).count() == 1)
  }

  test("scanAtTimestamp picks the right snapshot") {
    val t = GraftTable.create(spark, tmp("graft-ts-"), "ts",
      Seq((1, "a")).toDF("k", "v").schema, Seq("k"),
      data = Some(Seq((1, "a")).toDF("k", "v")))
    val ts1 = TableMeta.readCurrent(t.location).timestampMs
    Thread.sleep(5)
    t.upsert(Seq((1, "b")).toDF("k", "v"))
    assert(t.scanAtTimestamp(ts1).select("v").as[String].head() == "a")
    assert(t.scanAtTimestamp(System.currentTimeMillis()).select("v").as[String].head() == "b")
    intercept[IllegalArgumentException] { t.scanAtTimestamp(ts1 - 1000000) }
  }

  test("coordinate-less files prune by recorded first-key intervals") {
    // zero-copy registration over multi-file raw parquet with disjoint key
    // ranges: PK predicates must prune whole files via keyLo/keyHi (the
    // reference's rowset-bounds pruning, tablet/rowset_tree.cc) — no
    // partition coordinates exist to prune on
    val wh = tmp("graft-ivp-")
    val raw = s"$wh/raw"
    (1 to 400).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).write.parquet(raw)
    val t = GraftTable.register(spark, s"$wh/reg", "reg", raw, Seq("k"))
    assert(t.scanPruned(Nil).filesRead.length == 4)
    // point lookup → exactly the one file whose interval holds the key
    val one = t.scanPruned(Seq(EqualTo("k", 150L)))
    assert(one.filesRead.length == 1)
    assert(one.filter(col("k") === 150L).count() == 1)
    // range predicate spanning two files
    assert(t.scanPruned(Seq(GreaterThan("k", 150L), LessThanOrEqual("k", 250L)))
      .filesRead.length == 2)
    // IN list across distant files
    assert(t.scanPruned(Seq(In("k", Array(5L, 395L)))).filesRead.length == 2)
    // out-of-domain point lookup → nothing to scan
    assert(t.scanPruned(Seq(EqualTo("k", 5000L))).filesRead.isEmpty)
    // results stay correct through the pruned path
    assert(t.scanPruned(Seq(LessThan("k", 101L))).filter(col("k") < 101)
      .count() == 100)
  }

  test("bucketed files with recorded key bounds prune on first-PK predicates too") {
    // Since round 11 writeBase records keyLo/keyHi on EVERY base file;
    // keyIntervalOk applies to coordinated files as well, so a range-
    // partitioned-or-bucketed file whose interval cannot hold the
    // predicate drops at the manifest level. Synthetic metas keep this a
    // pure unit test of the pruning math (hash layouts usually carry
    // near-full-range bounds — the pruning is conservative there by
    // construction).
    import graft.catalog.DataFileMeta
    val wh = tmp("graft-kbp-")
    val df = (1 to 10).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val m = GraftTable.create(spark, s"$wh/kb", "kb", df.schema, Seq("k"),
      Seq(graft.catalog.HashComponent(Seq("k"), 2)), data = Some(df)).meta
    // every freshly written bucketed file carries bounds now
    assert(m.baseFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined))
    def f(b: Int, lo: Long, hi: Long) = DataFileMeta(
      s"/tmp/kb/f$b-$lo", "base", 1, 10, m.columns.map(_.id), bucket = Some(b),
      keyLo = Some(GraftTable.encodeKeyLong(lo)),
      keyHi = Some(GraftTable.encodeKeyLong(hi)))
    val files = Seq(f(0, 1, 100), f(0, 101, 200), f(1, 1, 100), f(1, 101, 200))
    // range predicate (no bucket to pin): the low files of BOTH buckets drop
    val kept = graft.sources.PartitionPruner.pruneFiles(
      m, files, Seq(GreaterThan("k", 100L)))
    assert(kept.map(_.path).toSet == Set("/tmp/kb/f0-101", "/tmp/kb/f1-101"))
    // point predicate: bucket pruning AND interval pruning compose —
    // exactly one file (the key's bucket × the interval holding it)
    val one = graft.sources.PartitionPruner.pruneFiles(
      m, files, Seq(EqualTo("k", 150L)))
    assert(one.length == 1 && one.head.path.endsWith("-101"))
    // bound-less coordinated files survive interval pruning (conservative;
    // bucket pruning still applies, so use a range predicate here)
    val mixed = files :+ DataFileMeta("/tmp/kb/nolo", "base", 1, 10,
      m.columns.map(_.id), bucket = Some(0))
    assert(graft.sources.PartitionPruner.pruneFiles(
      m, mixed, Seq(GreaterThan("k", 9000L))).map(_.path) == Seq("/tmp/kb/nolo"))
  }

  test("concurrent commit of the same version is rejected") {
    val t = GraftTable.create(spark, tmp("graft-cc-"), "cc",
      Seq((1, "a")).toDF("k", "v").schema, Seq("k"),
      data = Some(Seq((1, "a")).toDF("k", "v")))
    val m = TableMeta.readCurrent(t.location)
    // writer A commits v2
    t.upsert(Seq((1, "b")).toDF("k", "v"))
    // writer B, still holding v1 metadata, tries to commit its own v2
    intercept[IllegalStateException] {
      TableMeta.write(m.copy(version = m.version + 1, operation = "rogue"))
    }
  }
}
