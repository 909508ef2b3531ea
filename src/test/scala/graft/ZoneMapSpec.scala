package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.table.GraftTable

/** Per-file column zone maps (DataFileMeta.colLo/colHi/colNulls): recorded
  * at base-write/register time from the parquet footers, consulted by
  * PartitionPruner.zoneOk for manifest-level file skipping on ANY recorded
  * column, and by the V2 scan builder for metadata-served MIN/MAX of any
  * column — the reference's per-rowset column statistics
  * (tablet/diskrowset.h, cfile footers) lifted to the manifest. */
class ZoneMapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Registered table over 4 raw files with disjoint k ranges; v = k * 10
    * (correlated non-key column), cat cycles 'a'..'d' per file. */
  private def registered(): GraftTable = {
    val raw = tmp("graft-zmraw-")
    (1 to 400).map(k => (k.toLong, k * 10L, ('a' + (k - 1) / 100).toChar.toString))
      .toDF("k", "v", "cat")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(raw)
    GraftTable.register(spark, tmp("graft-zm-"), "zm", raw, Seq("k"))
  }

  test("base writes and registration record zone maps + null counts") {
    val t = registered()
    val m = t.meta
    assert(m.baseFiles.length == 4)
    val vId = m.column("v").id
    val catId = m.column("cat").id
    m.baseFiles.foreach { f =>
      assert(f.colBounds(vId).isDefined, s"v bounds missing on ${f.path}")
      assert(f.colBounds(catId).isDefined, s"cat bounds missing on ${f.path}")
      assert(f.colNullCount(vId).contains(0L))
      // the lead key rides both the dedicated fields and the map
      assert(f.colBounds(m.column("k").id) == f.keyLo.zip(f.keyHi))
    }
    // disjoint v intervals across the 4 range-partitioned files
    val ivs = m.baseFiles.flatMap(_.colBounds(vId)).sorted
    ivs.sliding(2).foreach { case Seq((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ => }
  }

  test("non-key predicates prune files at the manifest level") {
    val t = registered()
    val m = t.meta
    def kept(filters: Filter*): Int =
      graft.sources.PartitionPruner.pruneFiles(m, m.baseFiles, filters).length
    assert(kept() == 4)
    assert(kept(EqualTo("v", 50L)) == 1)
    assert(kept(GreaterThan("v", 3500L)) == 1)
    assert(kept(LessThanOrEqual("v", 1000L)) == 1)
    assert(kept(In("v", Array(50L, 3950L))) == 2)
    assert(kept(EqualTo("v", 99999L)) == 0)
    assert(kept(EqualTo("cat", "b")) == 1)
    assert(kept(StringStartsWith("cat", "d")) == 1)
    assert(kept(GreaterThanOrEqual("v", 900L), LessThan("v", 1200L)) == 2)
    // nested shapes: And prunes when either side is impossible, Or only
    // when both are
    assert(kept(And(EqualTo("v", 50L), EqualTo("cat", "d"))) == 0)
    assert(kept(Or(EqualTo("v", 50L), EqualTo("cat", "d"))) == 2)
    // unknown column / unsupported shape → conservative keep
    assert(kept(EqualTo("nope", 1L)) == 4)
    assert(kept(Not(EqualTo("v", 50L))) == 4)
    // scan-level correctness through the pruned listing
    val got = t.scanPruned(Seq(EqualTo("v", 50L)))
      .filter(col("v") === 50L).as[(Long, Long, String)].collect().toSeq
    assert(got == Seq((5L, 50L, "a")))
  }

  test("null counts prune IS NULL / IS NOT NULL and all-null files") {
    val raw = tmp("graft-zmnraw-")
    // file A: v fully null; file B: v never null — partitioned by k range
    (1 to 100).map(k => (k.toLong, if (k <= 50) None else Some(k * 10L)))
      .toDF("k", "v").repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(raw)
    val t = GraftTable.register(spark, tmp("graft-zmn-"), "zmn", raw, Seq("k"))
    val m = t.meta
    def kept(filters: Filter*): Int =
      graft.sources.PartitionPruner.pruneFiles(m, m.baseFiles, filters).length
    assert(kept(IsNull("v")) == 1)
    assert(kept(IsNotNull("v")) == 1)
    // a value predicate prunes the all-null file even with no bounds there
    assert(kept(GreaterThan("v", 0L)) == 1)
    assert(kept(EqualNullSafe("v", null)) == 1)
    assert(t.scanPruned(Seq(IsNull("v"))).filter(col("v").isNull).count() == 50)
  }

  test("merge-on-read stays exact under zone pruning (deltas never zone-pruned)") {
    val t = registered()
    // upsert moves k=5's v out of its old zone; delete kills k=6
    t.upsert(Seq((5L, 99999L, "z")).toDF("k", "v", "cat"))
    t.delete(Seq(6L).toDF("k"))
    def q(filters: Seq[Filter], cond: org.apache.spark.sql.Column) =
      t.scanPruned(filters).filter(cond).select("k", "v").as[(Long, Long)]
        .collect().toSeq.sorted
    // old value must NOT resurface from the pruned base file
    assert(q(Seq(EqualTo("v", 50L)), col("v") === 50L).isEmpty)
    assert(q(Seq(EqualTo("v", 60L)), col("v") === 60L).isEmpty)
    // the new value surfaces even though every base file's zone excludes it
    assert(q(Seq(EqualTo("v", 99999L)), col("v") === 99999L) == Seq((5L, 99999L)))
    // pruned scan == full scan + filter across a predicate sweep
    for (f <- Seq[(Filter, org.apache.spark.sql.Column)](
        (GreaterThan("v", 3000L), col("v") > 3000L),
        (EqualTo("cat", "a"), col("cat") === "a"),
        (LessThan("v", 200L), col("v") < 200L))) {
      val pruned = t.scanPruned(Seq(f._1)).filter(f._2)
        .select("k").as[Long].collect().toSeq.sorted
      val full = t.scan().filter(f._2).select("k").as[Long].collect().toSeq.sorted
      assert(pruned == full, s"mismatch under ${f._1}")
    }
  }

  test("runtime IN filters on a non-partition column prune files via zone maps") {
    val t = registered()
    // opt-in surface: by default only partition columns are advertised
    // (a DPP subquery per reported join column costs more than manifest
    // pruning saves on the delta-carrying suite queries — measured
    // +0.6-1.5s on q2/q31 at sf0.1 with the full surface on)
    val defScan = new graft.sources.v2.GraftScanBuilder(t.meta).build()
      .asInstanceOf[graft.sources.v2.GraftV2Scan]
    assert(defScan.filterAttributes().isEmpty) // unpartitioned table
    spark.conf.set("graft.runtimeFilter.allColumns", "true")
    val scan = new graft.sources.v2.GraftScanBuilder(t.meta).build()
      .asInstanceOf[graft.sources.v2.GraftV2Scan]
    // every zone-mapped column is advertised for dynamic filtering
    try assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("k", "v", "cat"))
    finally spark.conf.unset("graft.runtimeFilter.allColumns")
    // the pruning itself is flag-independent — runtime filters always ride
    // pruneFiles once delivered
    import org.apache.spark.sql.execution.datasources.FilePartition
    def nFiles(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.map(_.asInstanceOf[FilePartition].files.length).sum
    val before = nFiles(scan.planInputPartitions())
    assert(before == 4)
    // a join-delivered IN on v (NOT the PK, NOT a partition column) must
    // re-plan to the one file whose zone can hold it
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("v", Array(50L))))
    assert(nFiles(scan.planInputPartitions()) == 1)
  }

  test("TOP-N pushdown cuts files on ANY zone-mapped column, null-aware") {
    val raw = tmp("graft-ztnraw-")
    // 4 range-partitioned files of 100 rows; file 1 holds ALL the nulls
    // (k <= 50) plus values — the asc cut must keep it for NULLS FIRST
    (1 to 400).map(k => (k.toLong, if (k <= 50) None else Some(k * 10L)))
      .toDF("k", "v").repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(raw)
    val t = GraftTable.register(spark, tmp("graft-ztn-"), "ztn", raw, Seq("k"))
    val f = new java.io.File(t.location)
    spark.conf.set("spark.sql.catalog.gztn",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gztn.warehouse", f.getParent)
    def run(sql: String, expectParts: Option[Int]) = {
      val q = spark.sql(sql.replace("__T__", s"gztn.`${f.getName}`"))
      val sc = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.collectFirst { case s: graft.sources.v2.GraftV2Scan => s }.get
      assert(sc.description().contains("top="), sc.description())
      expectParts.foreach { n =>
        assert(sc.planInputPartitions().length == n,
          s"parts=${sc.planInputPartitions().length} want $n for: $sql")
      }
      q.collect()
    }
    // ASC + NULLS FIRST: the 10 nulls live in file 1 alone → one file
    val asc = run("SELECT v FROM __T__ ORDER BY v ASC LIMIT 10", Some(1))
    assert(asc.forall(_.isNullAt(0)))
    // DESC + NULLS LAST: the 10 largest values live in the last file alone
    val desc = run("SELECT v FROM __T__ ORDER BY v DESC LIMIT 10", Some(1))
    assert(desc.map(_.getLong(0)).sorted.toSeq == (391 to 400).map(_ * 10L))
    // DESC past the non-null total (350): nulls join the top-n → no cut
    val wide = run("SELECT v FROM __T__ ORDER BY v DESC LIMIT 360", Some(4))
    assert(wide.length == 360 && wide.count(_.isNullAt(0)) == 10)
  }

  test("V2 serves MIN/MAX of any recorded column from metadata alone") {
    val data = (1 to 500).map(i =>
      (i.toLong, s"name$i", (i * 3 % 997).toLong)).toDF("id", "nm", "score")
    val loc = tmp("graft-zagg-")
    val t = GraftTable.create(spark, loc, "zagg", data.schema, Seq("id"),
      Seq(graft.catalog.HashComponent(Seq("id"), 4)), data = Some(data))
    val f = new java.io.File(loc)
    spark.conf.set("spark.sql.catalog.gzm",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gzm.warehouse", f.getParent)
    def agg(sql: String, expectMeta: Boolean) = {
      val q = spark.sql(sql.replace("__T__", s"gzm.`${f.getName}`"))
      val isMeta = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.exists(_.isInstanceOf[graft.sources.v2.GraftCountScan])
      assert(isMeta == expectMeta,
        s"metadata-scan=$isMeta expected=$expectMeta for: $sql\n" +
          q.queryExecution.executedPlan)
      q.collect().head
    }
    val r = agg("SELECT min(score) AS lo, max(score) AS hi, " +
      "min(nm) AS nlo, max(nm) AS nhi, count(*) AS c FROM __T__", expectMeta = true)
    val exp = data.agg(min("score"), max("score"), min("nm"), max("nm")).collect().head
    assert(r.getLong(0) == exp.getLong(0) && r.getLong(1) == exp.getLong(1))
    assert(r.getString(2) == exp.getString(2) && r.getString(3) == exp.getString(3))
    assert(r.getLong(4) == 500L)
    // grouped / filtered aggregates never serve from metadata
    agg("SELECT max(score) AS hi FROM __T__ WHERE id < 10", expectMeta = false)
    // a column added later with NO default: every file lacks it, rows
    // read null → the provable extreme is SQL's null (MIN/MAX ignore
    // nulls). (A defaulted-absent column declines the metadata answer —
    // the scan reads its default from the files instead — so
    // metadataColBounds serves it only after a compact materializes it.)
    t.addColumn("tier", org.apache.spark.sql.types.LongType)
    val r2 = agg("SELECT min(tier) AS lo, max(tier) AS hi FROM __T__", expectMeta = true)
    assert(r2.isNullAt(0) && r2.isNullAt(1))
    // dirty snapshot refuses: the upsert moves the true max
    t.upsert(Seq((501L, "zz", 5000L, 7L)).toDF("id", "nm", "score", "tier"))
    val r3 = agg("SELECT max(score) AS hi FROM __T__", expectMeta = false)
    assert(r3.getLong(0) == 5000L)
    // compaction folds the delta → metadata-served again, new extreme
    t.compact()
    val r4 = agg("SELECT max(score) AS hi FROM __T__", expectMeta = true)
    assert(r4.getLong(0) == 5000L)
  }
}
