package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * DSv2 catalog + storage-partitioned joins: two graft tables hash-bucketed
 * the same way join WITHOUT any shuffle exchange — each side reports its
 * bucket layout as a KeyGroupedPartitioning and Spark aligns the key
 * groups (SPARK-37375). This is the 100 TB PK-PK join posture: co-located
 * join work, zero data movement.
 */
class StoragePartitionedJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A test run with `confs` set on the shared session, each previous
    * value restored (or unset) afterwards: a leaked setting would change
    * how every later suite in the JVM plans. */
  private def confTest(name: String, confs: (String, String)*)(body: => Any): Unit =
    test(name) {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private def mkWarehouse(): String = {
    val wh = Files.createTempDirectory("graft-wh-").toString
    def mk(name: String, n: Int, payload: String): Unit = {
      val df = (1 to n).map(i => (i.toLong, s"$payload$i")).toDF("k", "v")
      GraftTable.create(spark, s"$wh/$name", name, df.schema, Seq("k"),
        Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    }
    mk("t1", 100, "a")
    mk("t2", 80, "b")
    wh
  }

  confTest("co-partitioned PK-PK join plans with zero shuffle exchanges",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gspj", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspj.warehouse", wh)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("gspj.t1").join(spark.table("gspj.t2"), "k")
        .select(col("k"), col("gspj.t1.v").as("v1"), col("gspj.t2.v").as("v2"))
      val rows = joined.collect()
      assert(rows.length == 80)
      assert(rows.map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
        .apply(7L) == ("a7", "b7"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free SPJ plan, got:\n$plan")
      assert(plan.contains("BatchScan"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  confTest("PK-PK SPJ joins sort-free on clean sorted snapshots; deltas restore the sorts",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    // SupportsReportOrdering: one PK-sorted file per key group on a clean
    // snapshot → the scan declares per-partition PK order and the
    // SortMergeJoin runs with ZERO Sort stages (on top of the zero
    // shuffles SPJ already earns). Any pending delta voids the report —
    // the MOR overlay appends rows out of order.
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gord", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gord.warehouse", wh)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def joined = spark.table("gord.t1").join(spark.table("gord.t2"), "k")
        .select(col("k"), col("gord.t1.v").as("v1"), col("gord.t2.v").as("v2"))
      val clean = joined
      val rows = clean.collect()
      assert(rows.length == 80)
      assert(rows.map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
        .apply(7L) == ("a7", "b7"))
      val plan = clean.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), s"expected shuffle-free plan:\n$plan")
      assert(!plan.contains("Sort ["), s"expected sort-free SMJ:\n$plan")
      // mutate one side: the overlay serves the delta, sorts must return,
      // and the result reflects the write
      GraftTable.load(spark, s"$wh/t1").upsert(Seq((7L, "A7")).toDF("k", "v"))
      val dirty = joined
      val drows = dirty.collect()
      assert(drows.map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
        .apply(7L) == ("A7", "b7"))
      val dplan = dirty.queryExecution.executedPlan.toString
      assert(dplan.contains("Sort ["),
        s"a delta-carrying scan must not report ordering:\n$dplan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  confTest("mismatched-but-divisible bucket counts co-partition via the reducer",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true") {
    // lineitem(8 buckets) ⋈ orders(4 buckets) shape: pmod(h,8) reduces to
    // pmod(h,4) exactly, so the finer side's key groups fold onto the
    // coarser side's and the join still plans shuffle-free.
    val wh = Files.createTempDirectory("graft-wh2-").toString
    def mk(name: String, buckets: Int, n: Int, payload: String): Unit = {
      val df = (1 to n).map(i => (i.toLong, s"$payload$i")).toDF("k", "v")
      GraftTable.create(spark, s"$wh/$name", name, df.schema, Seq("k"),
        Seq(HashComponent(Seq("k"), buckets)), data = Some(df))
    }
    mk("fine", 8, 120, "f")
    mk("coarse", 4, 90, "c")
    spark.conf.set("spark.sql.catalog.gred", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gred.warehouse", wh)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val f = spark.table("gred.fine")
      val c = spark.table("gred.coarse")
      val j = f.join(c, f("k") === c("k")).select(f("k"), c("v"))
      assert(j.count() == 90)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected reduced SPJ plan:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  confTest("fixture documents-embeddings join (q30's shape) is shuffle-free",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    val dir = "/root/testdata/sf0.001"
    Tables.readonly(spark, dir, "documents")
    Tables.readonly(spark, dir, "embeddings")
    spark.conf.set("spark.sql.catalog.gfix", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfix.warehouse", Tables.cacheRoot(dir))
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val d = spark.table("gfix.documents")
      val e = spark.table("gfix.embeddings")
      val j = d.join(e, d("doc_id") === e("vec_id")).select(d("doc_id"), e("label"))
      val expected = Tables.raw(spark, dir, "documents").select("doc_id")
        .join(Tables.raw(spark, dir, "embeddings"),
          col("doc_id") === col("vec_id")).count()
      assert(j.count() == expected)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free fixture join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  confTest("group-by on the bucket key aggregates without a shuffle",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    // KeyGroupedPartitioning satisfies the aggregation's clustered
    // distribution, so the partial/final exchange disappears too — at
    // 100 TB a per-key rollup over a graft table is shuffle-free.
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gagg", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gagg.warehouse", wh)
    val agg = spark.table("gagg.t1").groupBy("k").agg(count(lit(1)).as("c"))
    assert(agg.count() == 100)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected shuffle-free aggregation:\n$plan")
  }

  test("V2 reads: filters push down; pending deltas serve through the MOR overlay") {
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gspj2", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspj2.warehouse", wh)
    assert(spark.table("gspj2.t1").filter(col("k") === 5).count() == 1)
    assert(spark.table("gspj2.t1").count() == 100)
    // mutate → deltas pending → the V2 scan applies the merge-on-read
    // overlay per bucket (update + insert + delete, no compact needed)
    val t = GraftTable.load(spark, s"$wh/t1")
    t.upsert(Seq((5L, "changed"), (101L, "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(7L)).toDF("k"))
    val merged = spark.table("gspj2.t1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(merged.size == 100) // 100 base - 1 delete + 1 insert
    assert(merged(5L) == "changed")
    assert(merged(101L) == "new")
    assert(!merged.contains(7L))
    // a projection WITHOUT the key column still merges correctly (the
    // overlay re-adds the key internally and re-projects)
    val vs = spark.table("gspj2.t1").select("v").as[String].collect()
    assert(vs.count(_ == "changed") == 1 && vs.count(_ == "new") == 1)
    assert(vs.length == 100 && !vs.contains("a7"))
    // filters evaluate over delta-emitted rows like base rows
    assert(spark.table("gspj2.t1").filter(col("k") === 101L)
      .select("v").as[String].head() == "new")
    assert(spark.table("gspj2.t1").filter(col("k") === 5)
      .select("v").as[String].head() == "changed")
  }

  confTest("SPJ key groups survive the MOR overlay (join with pending deltas)",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gmor", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmor.warehouse", wh)
    val t = GraftTable.load(spark, s"$wh/t1")
    t.upsert(Seq((3L, "edited"), (200L, "fresh")).toDF("k", "v"))
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("gmor.t1").join(spark.table("gmor.t2"), "k")
        .select(col("k"), col("gmor.t1.v").as("v1"))
      val rows = j.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.size == 80 && rows(3L) == "edited")
      // the overlay routes upserts into their exact bucket, so the
      // key-grouped join still plans with zero shuffles
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected shuffle-free MOR SPJ:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("V2 writes: INSERT INTO / writeTo append run engine ops (V1 fallback)") {
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gw", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gw.warehouse", wh)
    // SQL INSERT INTO → default upsert (new key appended, existing replaced)
    spark.sql("INSERT INTO gw.t1 VALUES (101, 'sqlnew'), (5, 'sqlupd')")
    // DataFrame writeTo append with an explicit operation
    Seq((102L, "dfnew")).toDF("k", "v").writeTo("gw.t1")
      .option("graft.operation", "insert").append()
    val m = spark.table("gw.t1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 102 && m(101L) == "sqlnew" && m(5L) == "sqlupd" && m(102L) == "dfnew")
    // INSERT OVERWRITE truncates then upserts (DSv1 SaveMode.Overwrite)
    spark.sql("INSERT OVERWRITE gw.t1 VALUES (7, 'only')")
    val after = spark.table("gw.t1").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == Map(7L -> "only"), after)
    spark.sql("INSERT INTO gw.t1 VALUES (5, 'back')") // table stays writable
    assert(spark.table("gw.t1").count() == 2)
    // strict insert on an existing key errors through the same surface
    val e = intercept[Exception] {
      Seq((5L, "dup")).toDF("k", "v").writeTo("gw.t1")
        .option("graft.operation", "insert").append()
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
    assert(msgs(e).exists(_.contains("already present")), e.toString)
  }

  test("renamed and widened columns read through V2 by column id") {
    // files keep a renamed or widened column under its physical name and
    // type; the V2 scan reads a renamed column by position and casts a
    // widened one up, so both serve their values, never nulls
    val wh = Files.createTempDirectory("graft-wh4-").toString
    val df = (1 to 10).map(i => (i.toLong, i)).toDF("k", "n")
    val t = GraftTable.create(spark, s"$wh/ren", "ren", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.renameColumn("n", "m")
    spark.conf.set("spark.sql.catalog.gren", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gren.warehouse", wh)
    val want = (1 to 10).map(i => i.toLong -> i.toLong).toMap
    assert(spark.table("gren.ren").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap == want)
    val t2 = GraftTable.create(spark, s"$wh/wid", "wid", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t2.widenColumnType("n", org.apache.spark.sql.types.LongType)
    assert(spark.table("gren.wid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("multi-component hash layouts serve deltas through the MOR overlay") {
    // two hash components: upserts route by the COMPOSITE bucket id
    // (GraftTable.bucketExpr's fold), so the overlay works on this layout
    val wh = Files.createTempDirectory("graft-wh3-").toString
    val df = (1 to 50).map(i => (i.toLong, i.toLong * 7, s"x$i")).toDF("a", "b", "v")
    val t = GraftTable.create(spark, s"$wh/multi", "multi", df.schema, Seq("a", "b"),
      Seq(HashComponent(Seq("a"), 2), HashComponent(Seq("b"), 2)), data = Some(df))
    t.upsert(Seq((1L, 7L, "y1"), (51L, 357L, "new")).toDF("a", "b", "v"))
    t.delete(Seq((2L, 14L)).toDF("a", "b"))
    spark.conf.set("spark.sql.catalog.gref", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gref.warehouse", wh)
    val v2 = spark.table("gref.multi").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(v2.size == 50) // 50 - 1 delete + 1 insert
    assert(v2((1L, 7L)) == "y1" && v2((51L, 357L)) == "new")
    assert(!v2.contains((2L, 14L)))
    // and the overlay agrees with the engine's own MOR read
    val v1 = t.scan().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(v2 == v1)
    // a multi-COLUMN component routes the same way
    val df2 = (1 to 30).map(i => (i.toLong, s"t${i % 3}", s"x$i")).toDF("a", "b", "v")
    val t2 = GraftTable.create(spark, s"$wh/mcol", "mcol", df2.schema, Seq("a", "b"),
      Seq(HashComponent(Seq("a", "b"), 4)), data = Some(df2))
    t2.upsert(Seq((1L, "t1", "updated")).toDF("a", "b", "v"))
    val mc = spark.table("gref.mcol").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(mc((1L, "t1")) == "updated" && mc.size == 30)
  }

  test("without SPJ, routes sub-split by size: parallelism exceeds bucket count") {
    // a 4-bucket table must NOT read on 4 cores when no join needs the key
    // groups: with v2 bucketing off, the scan sub-splits each route into
    // maxPartitionBytes chunks (splitSizeBytes analog) — and merge-on-read
    // stays exact because only a route's first chunk emits its deltas
    val wh = Files.createTempDirectory("graft-wh-split-").toString
    val df = (1 to 4000).map(i => (i.toLong, s"v$i" * 10)).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/big", "big", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert(Seq((1L, "edited"), (9001L, "new")).toDF("k", "v"))
    t.delete(Seq(Tuple1(2L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gsplit", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsplit.warehouse", wh)
    val prevBucketing = spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false")
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try {
      val v2df = spark.table("gsplit.big")
      assert(v2df.rdd.getNumPartitions > 4,
        s"expected sub-split parallelism > 4 buckets, got ${v2df.rdd.getNumPartitions}")
      val m = v2df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(m.size == 4000 && m(1L) == "edited" && m(9001L) == "new" &&
        !m.contains(2L) && m(3L) == "v3" * 10)
      // with SPJ enabled the same table reports one split per bucket again
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      assert(spark.table("gsplit.big").rdd.getNumPartitions == 4)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", prevBucketing)
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
    }
  }

  test("per-range hash overrides serve deltas through the MOR overlay") {
    // a re-added range with its own bucket count: bucket ids are only
    // comparable within one range's modulus, so the overlay routes by the
    // (rangeKey, bucket) pair — planner and reader both derive it from the
    // writer's own partition expressions
    val wh = Files.createTempDirectory("graft-wh10-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 100).map(i => (i.toLong, ts(1995 + i % 2), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/prh", "prh", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    t.dropRangePartition("1996")
    t.addRangePartition("1996", hashBuckets = Some(4))
    t.upsert((1 to 100).filter(_ % 2 == 1).map(i => (i.toLong, ts(1996), s"n$i"))
      .toDF("id", "d", "v"))
    t.compact() // materialize both hash schemas into the base
    // pending deltas over the mixed layout: an update in each range, an
    // insert, a delete, and an upsert into a range with NO base files at
    // all (1997 auto-covers on write) — the last has no owning split and
    // must fold into the fallback route
    t.upsert(Seq((2L, ts(1995), "u95"), (1L, ts(1996), "u96"),
      (201L, ts(1995), "new"), (301L, ts(1997), "o97")).toDF("id", "d", "v"))
    t.delete(Seq(Tuple1(4L)).toDF("id"))
    spark.conf.set("spark.sql.catalog.gprh", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gprh.warehouse", wh)
    val v2df = spark.table("gprh.prh")
    // one split per (rangeKey, bucket) group: 2 for 1995 + 4 for 1996
    assert(v2df.rdd.getNumPartitions ==
      graft.sources.v2.GraftV2Scan.routeGroups(t.meta, t.meta.baseFiles).size)
    assert(v2df.rdd.getNumPartitions == 6)
    val v2 = v2df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val v1 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v2 == v1)
    assert(v2(2L) == "u95" && v2(1L) == "u96" && v2(201L) == "new")
    assert(v2(301L) == "o97" && !v2.contains(4L) && v2.size == 101)
  }

  test("delta-only tables (no base files yet) read through the V2 overlay") {
    // a fresh multi-column-component table with only delta commits plans a
    // single empty orphan split that emits every upsert
    val wh = Files.createTempDirectory("graft-wh11-").toString
    val schema = Seq((1L, "t0", "x")).toDF("a", "b", "v").schema
    val t = GraftTable.create(spark, s"$wh/fresh", "fresh", schema, Seq("a", "b"),
      Seq(HashComponent(Seq("a", "b"), 4)))
    t.insert((1 to 20).map(i => (i.toLong, s"t${i % 3}", s"x$i")).toDF("a", "b", "v"))
    t.upsert(Seq((1L, "t1", "updated")).toDF("a", "b", "v"))
    spark.conf.set("spark.sql.catalog.gfr", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gfr.warehouse", wh)
    val rows = spark.table("gfr.fresh").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(rows.size == 20 && rows((1L, "t1")) == "updated")
  }

  test("hash-less layouts read through the V2 overlay with parallel splits") {
    val wh = Files.createTempDirectory("graft-wh12-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    // range-only (no hash component): one split per range — not one
    // serial whole-table task — and per-range delta routing
    val df = (1 to 60).map(i => (i.toLong, ts(1995 + i % 3), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/ronly", "ronly", df.schema, Seq("id"),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    // an update, plus an upsert into a range with no base files (1999
    // auto-covers on write) that must fold into the fallback split
    t.upsert(Seq((3L, ts(1995), "u95"), (100L, ts(1999), "o99")).toDF("id", "d", "v"))
    t.delete(Seq(Tuple1(6L)).toDF("id"))
    spark.conf.set("spark.sql.catalog.ghl", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ghl.warehouse", wh)
    val v2df = spark.table("ghl.ronly")
    assert(v2df.rdd.getNumPartitions == 3, s"${v2df.rdd.getNumPartitions}")
    val v2 = v2df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val v1 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(v2 == v1)
    assert(v2(3L) == "u95" && v2(100L) == "o99" && !v2.contains(6L) && v2.size == 60)
    // fully unpartitioned (no hash, no range): per-file splits, deltas
    // fold into the first split
    val df2 = (1 to 30).map(i => (i.toLong, s"p$i")).toDF("k", "v")
    val t2 = GraftTable.create(spark, s"$wh/plain", "plain", df2.schema, Seq("k"),
      data = Some(df2))
    t2.upsert(Seq((1L, "u1"), (31L, "new")).toDF("k", "v"))
    val m = spark.table("ghl.plain").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m.size == 31 && m(1L) == "u1" && m(31L) == "new")
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF read snapshots") {
    val wh = Files.createTempDirectory("graft-wh13-").toString
    val df = (1 to 20).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/tt", "tt", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    Thread.sleep(15) // distinct commit timestamps for the AS OF lookup
    t.upsert(Seq((1L, "updated"), (21L, "new")).toDF("k", "v"))
    val tsV2 = t.meta.timestampMs
    Thread.sleep(15)
    t.delete(Seq(Tuple1(2L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gtt", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtt.warehouse", wh)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val v1 = asMap(spark.sql("SELECT * FROM gtt.tt VERSION AS OF 1"))
    assert(v1.size == 20 && v1(1L) == "a1" && !v1.contains(21L))
    val v2 = asMap(spark.sql("SELECT * FROM gtt.tt VERSION AS OF 2"))
    assert(v2.size == 21 && v2(1L) == "updated" && v2(21L) == "new" && v2.contains(2L))
    val cur = asMap(spark.table("gtt.tt"))
    assert(cur.size == 20 && !cur.contains(2L))
    // timestamp travel resolves the highest version committed at or before
    val ts = asMap(spark.sql(s"SELECT * FROM gtt.tt TIMESTAMP AS OF timestamp_millis(${tsV2}L)"))
    assert(ts == v2)
    intercept[Exception] { spark.sql("SELECT * FROM gtt.tt VERSION AS OF 99").count() }
  }

  test("SQL DELETE FROM and TRUNCATE TABLE run engine commits") {
    val wh = Files.createTempDirectory("graft-wh14-").toString
    val df = (1 to 40).map(i => (i.toLong, i % 4, s"d$i")).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/del", "del", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    spark.conf.set("spark.sql.catalog.gdel", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdel.warehouse", wh)
    // disjunctive predicate: g==1 kills 10 rows, k>38 kills 2 more
    spark.sql("DELETE FROM gdel.del WHERE g = 1 OR k > 38")
    assert(t.scan().count() == 28)
    assert(t.scan().filter(col("g") === 1).count() == 0)
    assert(spark.table("gdel.del").count() == 28)
    val vBefore = t.currentVersion
    spark.sql("TRUNCATE TABLE gdel.del")
    assert(t.scan().count() == 0 && spark.table("gdel.del").count() == 0)
    // truncation is one snapshot commit: time travel still sees the rows
    assert(t.scan(Some(vBefore)).count() == 28)
  }

  test("SQL UPDATE and MERGE INTO write native delta commits") {
    val wh = Files.createTempDirectory("graft-wh15-").toString
    val df = (1 to 30).map(i => (i.toLong, i % 3, s"v$i")).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/dml", "dml", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    spark.conf.set("spark.sql.catalog.gdml", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdml.warehouse", wh)
    spark.sql("UPDATE gdml.dml SET v = concat(v, '!') WHERE g = 1")
    val m1 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m1(1L) == "v1!" && m1(4L) == "v4!" && m1(2L) == "v2" && m1.size == 30)
    // MERGE with delete, update, and insert actions in one statement —
    // one atomic delta commit
    val vBefore = t.currentVersion
    Seq((1L, "m1", false), (2L, "na", true), (31L, "m31", false))
      .toDF("k", "nv", "del").createOrReplaceTempView("src")
    spark.sql("""MERGE INTO gdml.dml t USING src s ON t.k = s.k
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.nv
      WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, 9, s.nv)""")
    assert(t.currentVersion == vBefore + 1)
    val m2 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m2(1L) == "m1" && !m2.contains(2L) && m2(31L) == "m31" && m2.size == 30)
    // a subquery DELETE cannot go the metadata route — it takes the
    // row-level plan through the same delta writers
    spark.sql("DELETE FROM gdml.dml WHERE k IN (SELECT k FROM src WHERE NOT del)")
    val m3 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!m3.contains(1L) && !m3.contains(31L) && m3.size == 28)
    // the V2 read serves the row-level deltas through the MOR overlay
    assert(spark.table("gdml.dml").count() == 28)
    // a PK-reassigning UPDATE becomes tombstone(old) + upsert(new)
    spark.sql("UPDATE gdml.dml SET k = k + 1000 WHERE k <= 4")
    val m4 = t.scan().collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!m4.contains(3L) && m4.contains(1003L) && m4.size == 28)
  }

  test("SQL ADD/DROP PARTITION and SHOW PARTITIONS drive the range lifecycle") {
    val wh = Files.createTempDirectory("graft-wh16-").toString
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val df = (1 to 40).map(i => (i.toLong, ts(1995 + i % 2), s"x$i")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, s"$wh/pm", "pm", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)),
      range = Some(graft.catalog.RangeComponent("d", "year")), data = Some(df))
    spark.conf.set("spark.sql.catalog.gpm", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpm.warehouse", wh)
    def parts() = spark.sql("SHOW PARTITIONS gpm.pm").collect().map(_.getString(0)).sorted.toSeq
    assert(parts() == Seq("d=1995", "d=1996"), parts().toString)
    // DROP is the engine's metadata-only retention drop
    val vBefore = t.currentVersion
    spark.sql("ALTER TABLE gpm.pm DROP PARTITION (d='1996')")
    assert(t.scan().count() == 20 && parts() == Seq("d=1995"))
    assert(t.scan(Some(vBefore)).count() == 40) // time travel sees the drop's past
    // re-ADD re-covers the range; new writes land in it again
    spark.sql("ALTER TABLE gpm.pm ADD PARTITION (d='1996')")
    t.upsert(Seq((100L, ts(1996), "re")).toDF("id", "d", "v"))
    assert(t.scan().count() == 21)
    intercept[Exception] { // dropping a never-covered range errors
      spark.sql("ALTER TABLE gpm.pm DROP PARTITION (d='2099')")
    }
  }

  test("readStream.table tails committed mutation versions") {
    val wh = Files.createTempDirectory("graft-wh17-").toString
    val df = (1 to 10).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/st", "st", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    spark.conf.set("spark.sql.catalog.gms", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gms.warehouse", wh)
    val seen = scala.collection.mutable.Map[Long, String]()
    val q = spark.readStream.table("gms.st").writeStream
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-ckpt17-").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch.collect()
        seen.synchronized { rows.foreach(r => seen(r.getLong(0)) = r.getString(1)) }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(seen.synchronized(seen.isEmpty)) // initial-load rows are base, not deltas
      t.upsert(Seq((1L, "u1"), (11L, "n11")).toDF("k", "v"))
      t.delete(Seq(Tuple1(2L)).toDF("k")) // tombstones are filtered out
      q.processAllAvailable()
      assert(seen.synchronized(seen.toMap) == Map(1L -> "u1", 11L -> "n11"))
      // a compaction fold re-emits nothing (deltamerge filesets excluded)
      t.compactDeltas()
      q.processAllAvailable()
      assert(seen.synchronized(seen.size) == 2)
    } finally q.stop()
  }

  test("V2 scans report statistics: small dimensions auto-broadcast") {
    // without SupportsReportStatistics a V2 relation sizes at
    // defaultSizeInBytes (max) and can never auto-broadcast; with the
    // pruned-fileset size reported, Catalyst picks the broadcast join on
    // its own — the 100 TB fact ⋈ small dim posture with no hints
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gst", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gst.warehouse", wh)
    val j = spark.table("gst.t1").join(spark.table("gst.t2"), "k")
    assert(j.count() == 80)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // footer row counts recorded at commit flow into exact numRows stats
    val rc = spark.table("gst.t1").queryExecution.optimizedPlan.stats.rowCount
    assert(rc.contains(BigInt(100)), rc.toString)
  }

  test("a pending range drop reads through V2 with its delta rows masked") {
    // the dropped range's base files left the manifest; its delta rows
    // written before the drop are masked by seq, so V2 serves neither
    val wh = Files.createTempDirectory("graft-wh3b-").toString
    val df = (1 to 40).map(i => (i.toLong, i.toLong, s"x$i")).toDF("k", "ts", "v")
    val t = GraftTable.create(spark, s"$wh/rdrop", "rdrop", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)),
      range = Some(graft.catalog.RangeComponent("ts", "value", bounds = Some(Seq(
        graft.catalog.RangeBound("low", None, Some("20")),
        graft.catalog.RangeBound("high", Some("20"), None))))),
      data = Some(df))
    t.upsert(Seq((1L, 1L, "y1")).toDF("k", "ts", "v"))
    t.dropRangeBound("low")
    spark.conf.set("spark.sql.catalog.gref2", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gref2.warehouse", wh)
    assert(spark.table("gref2.rdrop").select("k").as[Long].collect().sorted.toSeq ==
      (20L to 40L))
    // V2 writes delegate to the engine's layout-agnostic ops
    spark.sql("INSERT INTO gref2.rdrop VALUES (100, 700, 'w1')")
    spark.sql("INSERT INTO gref2.rdrop VALUES (101, 707, 'w2')")
    assert(t.scan().filter(col("k") >= 100).count() == 2)
    assert(spark.table("gref2.rdrop").count() == 23)
  }

  confTest("multi-component layouts co-partition: composite-keyed SPJ, no shuffle",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    // both tables hash (a: 2 buckets) x (b: 3 buckets): the scan reports one
    // bucket transform per component and the (a, b) join aligns 6 key groups
    val wh = Files.createTempDirectory("graft-wh9-").toString
    def mk(name: String, n: Int, payload: String): GraftTable = {
      val df = (1 to n).map(i => (i.toLong, i.toLong * 3, s"$payload$i")).toDF("a", "b", "v")
      GraftTable.create(spark, s"$wh/$name", name, df.schema, Seq("a", "b"),
        Seq(HashComponent(Seq("a"), 2), HashComponent(Seq("b"), 3)), data = Some(df))
    }
    mk("mc1", 120, "x")
    val t2 = mk("mc2", 90, "y")
    spark.conf.set("spark.sql.catalog.gmc", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmc.warehouse", wh)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("gmc.mc1").join(spark.table("gmc.mc2"), Seq("a", "b"))
      assert(j.count() == 90)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"expected composite-keyed SPJ:\n$plan")
      // the grouping survives a pending-delta MOR overlay on one side
      t2.upsert(Seq((1L, 3L, "updated")).toDF("a", "b", "v"))
      val j2 = spark.table("gmc.mc1").join(spark.table("gmc.mc2"), Seq("a", "b"))
      val rows = j2.collect()
      assert(rows.length == 90)
      assert(rows.find(r => r.getLong(0) == 1L).get.getString(3) == "updated")
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("V2 delta-free scans serve vectorized ColumnarBatches (S13)") {
    val wh = Files.createTempDirectory("graft-wh8-").toString
    val df = (1 to 200).map(i => (i.toLong, s"v$i", i % 7)).toDF("k", "v", "g")
    GraftTable.create(spark, s"$wh/colb", "colb", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    spark.conf.set("spark.sql.catalog.gcol", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcol.warehouse", wh)
    val q = spark.table("gcol.colb").groupBy("g").count()
    assert(q.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap.values.sum == 200)
    // the scan produced ColumnarBatches: Spark inserts a ColumnarToRow
    // transition above any columnar-capable source it actually drives
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected a columnar scan:\n$plan")
  }

  test("V2 DDL: CREATE TABLE and ALTER TABLE map onto engine ops") {
    val wh = Files.createTempDirectory("graft-wh6-").toString
    spark.conf.set("spark.sql.catalog.gddl", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gddl.warehouse", wh)
    spark.sql("CREATE TABLE gddl.nt (k BIGINT, v STRING) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO gddl.nt VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE gddl.nt ADD COLUMN n INT")
    spark.sql("INSERT INTO gddl.nt VALUES (3, 'c', 30)")
    val rows = spark.table("gddl.nt").collect()
      .map(r => r.getLong(0) -> (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(rows == Map(1L -> ("a", -1), 2L -> ("b", -1), 3L -> ("c", 30)))
    spark.sql("ALTER TABLE gddl.nt ALTER COLUMN n COMMENT 'counter'")
    val t = GraftTable.load(spark, s"$wh/nt")
    assert(t.meta.column("n").comment.contains("counter"))
    assert(t.meta.keyCols == Seq("k") && t.meta.hash.head.buckets == 4)
    // widening through SQL lands, and the V2 read casts the files written
    // before it up to the wide type (physName != name after a widen)
    spark.sql("ALTER TABLE gddl.nt ALTER COLUMN n TYPE BIGINT")
    assert(t.meta.column("n").dataType == org.apache.spark.sql.types.LongType)
    assert(spark.table("gddl.nt").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2))).toMap ==
      Map(1L -> -1L, 2L -> -1L, 3L -> 30L))
    assert(t.scan().count() == 3)
    // storage-attribute TBLPROPERTIES map onto engine ALTERs
    spark.sql("ALTER TABLE gddl.nt SET TBLPROPERTIES (" +
      "'graft.compression'='gzip', 'graft.compression.v'='zstd', " +
      "'graft.encoding.v'='plain')")
    assert(t.meta.compressionCodec.contains("gzip"))
    assert(t.meta.column("v").compression.contains("zstd"))
    assert(t.meta.column("v").encoding.contains("plain"))
    spark.sql("ALTER TABLE gddl.nt SET TBLPROPERTIES ('graft.bloom.v'='true')")
    assert(t.meta.column("v").bloom.contains(true))
    spark.sql("ALTER TABLE gddl.nt UNSET TBLPROPERTIES ('graft.compression.v')")
    assert(t.meta.column("v").compression.isEmpty)
    // unsupported shapes refuse rather than mis-apply
    val e2 = intercept[Exception] { spark.sql("ALTER TABLE gddl.nt DROP COLUMN k") }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(t => Option(t.getMessage).toSeq ++ msgs(t.getCause))
    assert(msgs(e2).exists(_.contains("key")), e2.toString)
    // unknown graft.* keys refuse (a storage-attribute typo must not
    // become inert metadata)...
    intercept[Exception] {
      spark.sql("ALTER TABLE gddl.nt SET TBLPROPERTIES ('graft.compresion'='x')")
    }
    // ...but free-form properties persist in the engine's extra-configs
    // (TableMeta.props) and read back through SHOW TBLPROPERTIES
    spark.sql("ALTER TABLE gddl.nt SET TBLPROPERTIES " +
      "('random.prop'='x', 'team'='data-eng')")
    val shown = spark.sql("SHOW TBLPROPERTIES gddl.nt").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("random.prop").contains("x") && shown.get("team").contains("data-eng"),
      shown.toString)
    assert(t.properties == Map("random.prop" -> "x", "team" -> "data-eng"))
    spark.sql("ALTER TABLE gddl.nt UNSET TBLPROPERTIES ('random.prop')")
    assert(GraftTable.load(spark, s"$wh/nt").properties == Map("team" -> "data-eng"))
  }

  confTest("V2 DDL: ALTER TABLE RENAME moves the table, snapshots stay readable",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    val wh = Files.createTempDirectory("graft-wh7-").toString
    spark.conf.set("spark.sql.catalog.grn", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grn.warehouse", wh)
    def mk(name: String, n: Int, payload: String): Unit = {
      val df = (1 to n).map(i => (i.toLong, s"$payload$i")).toDF("k", "v")
      GraftTable.create(spark, s"$wh/$name", name, df.schema, Seq("k"),
        Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    }
    mk("before", 100, "a")
    mk("other", 80, "b")
    // a second version so the rename must relocate a multi-version chain
    GraftTable.load(spark, s"$wh/before")
      .upsert(Seq((1L, "A1")).toDF("k", "v"))
    spark.sql("ALTER TABLE grn.before RENAME TO after")
    // old identity is gone; new identity scans current AND time-travels
    intercept[Exception] { spark.table("grn.before").count() }
    assert(spark.table("grn.after").count() == 100)
    val t = GraftTable.load(spark, s"$wh/after")
    assert(t.meta.name == "after")
    assert(t.scan().filter(col("k") === 1).select("v").as[String].head() == "A1")
    assert(t.scan(Some(1L)).filter(col("k") === 1).select("v").as[String].head() == "a1")
    assert(graft.tools.GraftTools.fsck(s"$wh/after").isEmpty)
    // SPJ posture survives the rename: co-partitioned join stays shuffle-free
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("grn.after").join(spark.table("grn.other"), "k")
      assert(j.count() == 80)
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    // cross-namespace moves refuse
    intercept[Exception] {
      spark.sql("ALTER TABLE grn.after RENAME TO ns2.moved")
    }
  }

  test("MOR overlay compares binary keys by content, not reference") {
    val wh = Files.createTempDirectory("graft-wh5-").toString
    val df = Seq((Array[Byte](1, 2), "a"), (Array[Byte](3, 4), "b"),
      (Array[Byte](5, 6), "c")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/bin", "bin", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.upsert(Seq((Array[Byte](1, 2), "changed")).toDF("k", "v"))
    t.delete(Seq(Tuple1(Array[Byte](3, 4))).toDF("k"))
    spark.conf.set("spark.sql.catalog.gbin", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gbin.warehouse", wh)
    val got = spark.table("gbin.bin").collect()
      .map(r => r.getAs[Array[Byte]](0).toSeq -> r.getString(1)).toMap
    assert(got == Map(Seq[Byte](1, 2) -> "changed", Seq[Byte](5, 6) -> "c"), got)
  }

  confTest("runtime IN filters prune input files but preserve the key groups",
      "spark.sql.sources.v2.bucketing.enabled" -> "true") {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val wh = mkWarehouse()
    val meta = graft.catalog.TableMeta.readCurrent(s"$wh/t1")
    val scan = new graft.sources.v2.GraftScanBuilder(meta).build()
      .asInstanceOf[graft.sources.v2.GraftV2Scan]
    // the scan advertises its prunable columns for dynamic filtering
    // (partition columns by default; graft.runtimeFilter.allColumns opts
    // every zone-mapped column in — ZoneMapSpec covers that surface)
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("k"))
    val before = scan.planInputPartitions()
    def nFiles(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.map(_.asInstanceOf[FilePartition].files.length).sum
    assert(before.length == 4)
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(7L))))
    val after = scan.planInputPartitions()
    // SPJ contract: one partition per bucket SURVIVES runtime filtering
    // (pruned buckets go empty), so a storage-partitioned join's group
    // layout is unchanged while 3 of 4 buckets' files are never opened
    assert(after.length == 4)
    assert(nFiles(after) < nFiles(before), s"${nFiles(after)} vs ${nFiles(before)}")
    assert(after.count(_.asInstanceOf[FilePartition].files.nonEmpty) == 1)
  }

  test("dimension-filtered join dynamically prunes the fact-side V2 scan") {
    val wh = mkWarehouse()
    spark.conf.set("spark.sql.catalog.gdpp", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdpp.warehouse", wh)
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dim = Seq((7L, "keep"), (8L, "keep"), (9L, "drop"))
        .toDF("k", "tag")
      val fact = spark.table("gdpp.t1")
      val j = fact.join(dim.filter(col("tag") === "keep"), "k")
        .select(col("k"), col("v"))
      val rows = j.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows == Map(7L -> "a7", 8L -> "a8"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning") ||
        plan.contains("RuntimeFilters: ["),
        s"expected a runtime filter on the fact scan:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
