package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.plans.ServingRewrites
import graft.table.GraftTable
import graft.tools.MaterializedRollup

/**
 * Materialized-view query rewrite: a matching GROUP BY over the base is
 * answered from the rollup when (and only when) the rollup is CURRENT —
 * stale rollups never serve, non-matching shapes never rewrite, and the
 * rewritten plan returns exactly the directly-computed result.
 */
class RollupRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def readsRollup(df: DataFrame, rollupLoc: String): Boolean =
    graft.plans.ScanRoots.filesRead(df.queryExecution.optimizedPlan,
      _.startsWith(rollupLoc)).nonEmpty

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("fresh rollup serves; stale never serves; refresh restores; shapes that must not match don't") {
    val wh = Files.createTempDirectory("graft-mvrw-").toString
    val df = (1 to 300).map(i => (i.toLong, i % 5, (i % 97).toDouble))
      .toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/base", "mvrw", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)", "mx" -> "max(k)"),
      s"$wh/roll", buckets = 2)
    ServingRewrites.arm(spark, rollup)
    try {
      def q = t.scan().groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("k").as("mx"))
      // 1. fresh: the aggregate reads the ROLLUP, not the base
      assert(readsRollup(q, rollup.location),
        s"fresh rollup must serve:\n${q.queryExecution.optimizedPlan}")
      // ... and returns exactly what the base computes (deregister to get
      // the ground truth through the ordinary plan)
      ServingRewrites.disarm(spark, rollup.location)
      val want = rows(q)
      assert(!readsRollup(q, rollup.location))
      ServingRewrites.arm(spark, rollup)
      assert(rows(q) == want, "rewritten result must equal direct compute")

      // 2. a subset of the aggregates + reordered grouping still serves
      val q2 = t.scan().groupBy("g").agg(sum("v").as("sv"))
      assert(readsRollup(q2, rollup.location))
      assert(rows(q2) == want.map(r => Seq(r(0), r(2))))

      // 2b. SUBSET grouping re-aggregates the rollup: the GLOBAL aggregate
      // (empty grouping ⊂ {g}) folds count→sum(n), sum→sum(sv), max→max(mx)
      // over groups-many rows — exact, because groups partition the base
      def qg = t.scan().agg(count(lit(1)).as("n"), sum("v").as("sv"),
        max("k").as("mx"))
      assert(readsRollup(qg, rollup.location),
        s"global aggregate must re-aggregate the rollup:\n${qg.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val wantG = rows(qg)
      assert(!readsRollup(qg, rollup.location))
      ServingRewrites.arm(spark, rollup)
      assert(rows(qg) == wantG,
        "re-aggregated result must equal direct compute")

      // 2c. a WHERE on the GROUP COLUMN commutes with grouping: it rebases
      // onto the rollup and serves
      def qf = t.scan().filter(col("g") =!= 0).groupBy("g")
        .agg(sum("v").as("sv"))
      assert(readsRollup(qf, rollup.location),
        s"group-column filter must rebase and serve:\n${qf.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val wantF = rows(qf)
      ServingRewrites.arm(spark, rollup)
      assert(rows(qf) == wantF, "filtered rewrite must equal direct compute")

      // 3. shapes that MUST NOT rewrite: a filter on a NON-group column, a
      // different grouping, an aggregate outside the rollup's definitions
      assert(!readsRollup(
        t.scan().filter(col("v") > 5).groupBy("g").agg(sum("v").as("sv")),
        rollup.location), "a non-group-column filter must disqualify")
      assert(!readsRollup(
        t.scan().groupBy("k").agg(sum("v").as("sv")),
        rollup.location), "different grouping must disqualify")
      assert(!readsRollup(
        t.scan().groupBy("g").agg(avg("v").as("a")),
        rollup.location), "an aggregate the rollup lacks must disqualify")

      // 4. stale: a base mutation makes the rollup ineligible INSTANTLY,
      // and the ordinary plan sees the mutation
      t.upsert(Seq((1L, 1, 10000.0)).toDF("k", "g", "v"))
      assert(!readsRollup(q, rollup.location), "a stale rollup must not serve")
      val afterMut = rows(q)
      assert(afterMut != want, "the direct plan must see the mutation")

      // 5. a refresh re-arms the rollup over the still-dirty base: scan()
      // is the V2 relation over the whole current snapshot, which serves
      // dirty bases like SQL does. Compaction bumps the version (stale
      // again); one more refresh re-arms the watermark past it.
      assert(MaterializedRollup.refresh(spark, rollup))
      assert(readsRollup(q, rollup.location),
        "a refreshed rollup must serve the dirty base's scan()")
      assert(rows(q) == afterMut)
      t.compact()
      assert(MaterializedRollup.refresh(spark, rollup)) // watermark → post-compaction
      assert(readsRollup(q, rollup.location),
        "clean again + refreshed: the rollup must serve")
      assert(rows(q) == afterMut,
        "the refreshed rollup must serve the post-mutation truth")
    } finally ServingRewrites.disarm(spark, rollup.location)
  }

  test("avg derives from sum+count; count(col) skips nulls; HAVING rides above the serve") {
    val wh = Files.createTempDirectory("graft-mvavg-").toString
    // x nullable, group 4 ALL-null: avg must be null there and count(x) 0
    val df = (1 to 200).map { i =>
      (i.toLong, i % 5,
        if (i % 5 == 4 || i % 7 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(i.toLong))
    }.toDF("k", "g", "x")
    val t = GraftTable.create(spark, s"$wh/base", "mvavg", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sx" -> "sum(x)", "cx" -> "count(x)"),
      s"$wh/roll", buckets = 2)
    ServingRewrites.arm(spark, rollup)
    try {
      // count(col) serves on exact grouping AND folds by SUM on subset
      def qc = t.scan().groupBy("g").agg(count(col("x")).as("cx"))
      assert(readsRollup(qc, rollup.location),
        s"count(col) must serve:\n${qc.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val wantC = rows(qc)
      ServingRewrites.arm(spark, rollup)
      assert(rows(qc) == wantC)

      // avg on exact grouping: sum(x)/count(x) off the rollup — the
      // all-null group serves NULL, exactly like the direct plan
      def qa = t.scan().groupBy("g").agg(avg(col("x")).as("ax"))
      assert(readsRollup(qa, rollup.location),
        s"avg must derive from sum+count:\n${qa.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val wantA = rows(qa)
      ServingRewrites.arm(spark, rollup)
      assert(rows(qa) == wantA, "derived avg must equal direct compute")
      assert(wantA.exists(r => r(1) == null), "the all-null group is the null-avg case")

      // avg under SUBSET grouping: sum(sum)/sum(count) — the global mean
      def qg = t.scan().agg(avg(col("x")).as("ax"))
      assert(readsRollup(qg, rollup.location),
        s"global avg must re-derive:\n${qg.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val wantP = rows(qg)
      ServingRewrites.arm(spark, rollup)
      assert(rows(qg) == wantP)

      // HAVING is a Filter ABOVE the aggregate — it applies over the
      // rollup-served groups untouched
      def qh = t.scan().groupBy("g").agg(count(lit(1)).as("n"))
        .filter(col("n") > 35)
      assert(readsRollup(qh, rollup.location),
        s"HAVING must ride above the serve:\n${qh.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val wantH = rows(qh)
      ServingRewrites.arm(spark, rollup)
      assert(rows(qh) == wantH && wantH.nonEmpty)

      // a rollup WITHOUT count(x) cannot derive avg — declines, stays exact
      val r2 = MaterializedRollup.build(spark, t, Seq("g"),
        Seq("sx" -> "sum(x)"), s"$wh/roll2", buckets = 2)
      ServingRewrites.disarm(spark, rollup.location)
      ServingRewrites.arm(spark, r2)
      try assert(!readsRollup(qa, r2.location),
        "avg must NOT serve without a count(x) column")
      finally ServingRewrites.disarm(spark, r2.location)
    } finally {
      ServingRewrites.disarm(spark, rollup.location)
    }
  }

  test("two rollups on one base: each grouping serves from ITS rollup (registry fall-through)") {
    val wh = Files.createTempDirectory("graft-mvrw5-").toString
    val df = (1 to 240).map(i => (i.toLong, i % 4, i % 10, i * 2L))
      .toDF("k", "g", "h", "v")
    val t = GraftTable.create(spark, s"$wh/b5", "b5", df.schema,
      Seq("g", "h", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val byG = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("sv" -> "sum(v)"), s"$wh/rg", buckets = 2)
    val byH = MaterializedRollup.build(spark, t, Seq("h"),
      Seq("sv" -> "sum(v)"), s"$wh/rh", buckets = 2)
    try {
      def qg = t.scan().groupBy("g").agg(sum("v").as("sv"))
      def qh = t.scan().groupBy("h").agg(sum("v").as("sv"))
      // the registry holds both; a non-matching rollup falls through to
      // the next candidate instead of blocking the rewrite
      assert(readsRollup(qg, byG.location) && !readsRollup(qg, byH.location),
        s"GROUP BY g must serve from the g rollup:\n${qg.queryExecution.optimizedPlan}")
      assert(readsRollup(qh, byH.location) && !readsRollup(qh, byG.location),
        s"GROUP BY h must serve from the h rollup:\n${qh.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, byG.location)
      ServingRewrites.disarm(spark, byH.location)
      val (wg, wh2) = (rows(qg), rows(qh))
      ServingRewrites.arm(spark, byG)
      ServingRewrites.arm(spark, byH)
      assert(rows(qg) == wg && rows(qh) == wh2)
    } finally {
      ServingRewrites.disarm(spark, byG.location)
      ServingRewrites.disarm(spark, byH.location)
    }
  }

  test("count(DISTINCT col) serves on exact grouping, NEVER re-aggregates on subset") {
    val wh = Files.createTempDirectory("graft-mvrw4-").toString
    val df = (1 to 300).map(i => (i.toLong, i % 6, (i % 11).toLong))
      .toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/b4", "b4", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("nd" -> "count(DISTINCT v)", "n" -> "count(*)"),
      s"$wh/r4", buckets = 2)
    try {
      def q = t.scan().groupBy("g").agg(countDistinct(col("v")).as("nd"))
      assert(readsRollup(q, rollup.location),
        s"exact grouping must serve the stored distinct count:\n${q.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val want = rows(q)
      ServingRewrites.arm(spark, rollup)
      assert(rows(q) == want)
      // a GLOBAL count(distinct) must NOT fold from per-group distincts —
      // the groups' value sets overlap
      def qg = t.scan().agg(countDistinct(col("v")).as("nd"))
      assert(!readsRollup(qg, rollup.location),
        "subset grouping must never re-aggregate a distinct count")
      // ... while the co-stored plain count still re-aggregates fine (the
      // group-column predicate keeps the scan's own metadata count out)
      def qn = t.scan().where(col("g") >= 0).agg(count(lit(1)).as("n"))
      assert(readsRollup(qn, rollup.location))
      assert(qn.collect().head.getLong(0) == 300L)
    } finally ServingRewrites.disarm(spark, rollup.location)
  }

  test("global aggregate over an EMPTY base serves count 0 through the rollup, not sum's NULL") {
    val wh = Files.createTempDirectory("graft-mvrw3-").toString
    val df0 = Seq.empty[(Long, Int, Long)].toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/b3", "b3", df0.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df0))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/r3", buckets = 2)
    try {
      spark.conf.set("spark.sql.catalog.gmvrw3",
        classOf[graft.sources.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gmvrw3.warehouse", wh)
      def q = spark.sql("SELECT count(*) AS n, sum(v) AS sv FROM gmvrw3.b3")
      // an EMPTY rollup holds no file for the path detector — the
      // rewrite's signature here is the BASE relation vanishing from the
      // plan (the rollup's own read is a V2 relation too)
      val p = q.queryExecution.optimizedPlan
      import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
      def base(r: DataSourceV2Relation) = r.table match {
        case g: graft.sources.v2.GraftV2Table => g.graftLocation == t.location
        case _ => false
      }
      assert(p.collectFirst { case r: DataSourceV2ScanRelation if base(r.relation) => r }.isEmpty &&
        p.collectFirst { case r: DataSourceV2Relation if base(r) => r }.isEmpty,
        s"the V2 global aggregate must re-aggregate the (empty) rollup:\n$p")
      val r = q.collect().head
      assert(r.getLong(0) == 0L, s"count over empty must be 0: $r")
      assert(r.isNullAt(1), s"sum over empty must be NULL: $r")
    } finally ServingRewrites.disarm(spark, rollup.location)
  }

  test("V2 catalog SQL GROUP BY rides the rewrite too") {
    val wh = Files.createTempDirectory("graft-mvrw2-").toString
    val df = (1 to 200).map(i => (i.toLong, i % 4, i.toLong * 3)).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/b2", "b2", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/r2", buckets = 2)
    ServingRewrites.arm(spark, rollup)
    try {
      spark.conf.set("spark.sql.catalog.gmvrw",
        classOf[graft.sources.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gmvrw.warehouse", wh)
      val q = spark.sql(
        "SELECT g, count(*) AS n, sum(v) AS sv FROM gmvrw.b2 GROUP BY g")
      assert(readsRollup(q, rollup.location),
        s"V2 aggregate must serve from the rollup:\n${q.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, rollup.location)
      val want = rows(q)
      ServingRewrites.arm(spark, rollup)
      assert(rows(q) == want)
      // the V2 relation path serves a DIRTY base too: the rewrite fires on
      // the catalog relation before any merge-on-read planning, so a
      // refreshed rollup keeps serving while deltas accrete on the base
      t.upsert(Seq((7L, 3, 70000L)).toDF("k", "g", "v"))
      assert(MaterializedRollup.refresh(spark, rollup))
      assert(t.meta.deltaFiles.nonEmpty, "the base must be dirty here")
      assert(readsRollup(q, rollup.location),
        "a refreshed rollup must serve a dirty base through the V2 relation")
      ServingRewrites.disarm(spark, rollup.location)
      val want2 = rows(q)
      ServingRewrites.arm(spark, rollup)
      assert(rows(q) == want2,
        "the rollup must serve the post-mutation truth on the V2 path")
    } finally ServingRewrites.disarm(spark, rollup.location)
  }

  test("time travel never serves: VERSION AS OF and stale V2 handles decline the rewrite") {
    val wh = Files.createTempDirectory("graft-mvtt-").toString
    val df = (1 to 120).map(i => (i.toLong, i % 3, i.toLong)).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/tt", "tt", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val vOld = t.meta.version
    spark.conf.set("spark.sql.catalog.gmvtt",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmvtt.warehouse", wh)
    // a V2 handle pinned BEFORE the mutation (the stale-handle face)
    val pinned = spark.table("gmvtt.tt")
      .groupBy("g").agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val wantOld = rows(pinned)
    t.upsert(Seq((7L, 1, 70000L)).toDF("k", "g", "v"))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/ttr", buckets = 2)
    try {
      // the CURRENT aggregate serves...
      val cur = spark.sql(
        "SELECT g, count(*) AS n, sum(v) AS sv FROM gmvtt.tt GROUP BY g")
      assert(readsRollup(cur, rollup.location))
      // ...but a VERSION AS OF aggregate must NEVER read the rollup: the
      // rollup is current w.r.t. the base HEAD, not the pinned snapshot
      val asOf = spark.sql("SELECT g, count(*) AS n, sum(v) AS sv " +
        s"FROM gmvtt.tt VERSION AS OF $vOld GROUP BY g")
      assert(!readsRollup(asOf, rollup.location),
        s"time-travel aggregate read the rollup:\n${asOf.queryExecution.optimizedPlan}")
      assert(rows(asOf) == wantOld, "time travel must return the v-old truth")
      // the pre-mutation handle is pinned to old meta → declines too
      assert(!readsRollup(pinned, rollup.location),
        "a V2 handle pinned before the commit must not serve current rollup data")
      assert(rows(pinned) == wantOld)
    } finally ServingRewrites.disarm(spark, rollup.location)
  }

  test("a rollup built in one session serves in a NEW session with zero explicit enables") {
    val wh = Files.createTempDirectory("graft-mvarm-").toString
    val df = (1 to 150).map(i => (i.toLong, i % 5, i.toLong * 2)).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/armb", "armb", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/armr", buckets = 2)
    try {
      // face 1: a FRESH session opening the catalog re-arms from the
      // rollup's persisted properties (the warehouse sweep on initialize)
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.catalog.gmvarm",
        classOf[graft.sources.v2.GraftCatalog].getName)
      s2.conf.set("spark.sql.catalog.gmvarm.warehouse", wh)
      val q2 = s2.sql(
        "SELECT g, count(*) AS n, sum(v) AS sv FROM gmvarm.armb GROUP BY g")
      assert(readsRollup(q2, rollup.location),
        s"catalog open must arm persisted rollups:\n${q2.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(s2, rollup.location)
      val want = rows(q2)
      ServingRewrites.arm(s2, rollup)
      assert(rows(q2) == want)
      // face 2: merely LOADING the rollup in another fresh session arms it
      // (a refresh call, a maintenance sweep, or a direct read all load)
      val s3 = spark.newSession()
      GraftTable.load(s3, rollup.location)
      val t3 = GraftTable.load(s3, t.location)
      val q3 = t3.scan().groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(readsRollup(q3, rollup.location),
        s"loading a rollup must arm its rewrite:\n${q3.queryExecution.optimizedPlan}")
      // opt-out is honored (lenient parse: any non-"true" value disables,
      // including values toBoolean would throw on)
      val s4 = spark.newSession()
      s4.conf.set("graft.rollup.autoRewrite", "off")
      GraftTable.load(s4, rollup.location)
      val q4 = GraftTable.load(s4, t.location).scan().groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(!readsRollup(q4, rollup.location),
        "autoRewrite=off must keep the session unarmed")
    } finally ServingRewrites.disarm(spark, rollup.location)
  }

  test("a commit landing between plan time and execution serves the PLAN-TIME snapshot") {
    val wh = Files.createTempDirectory("graft-mvsnap-").toString
    val df = (1 to 100).map(i => (i.toLong, i % 4, i.toLong)).toDF("k", "g", "v")
    val t = GraftTable.create(spark, s"$wh/snapb", "snapb", df.schema,
      Seq("g", "k"), Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    val rollup = MaterializedRollup.build(spark, t, Seq("g"),
      Seq("n" -> "count(*)", "sv" -> "sum(v)"), s"$wh/snapr", buckets = 2)
    try {
      // a VAL pins one QueryExecution: optimization (and the rewrite's
      // freshness check) happens NOW, execution later
      val q = t.scan().groupBy("g")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      assert(readsRollup(q, rollup.location))
      val planTime = rows(q)
      // a commit + refresh land AFTER the plan was fixed
      t.upsert(Seq((3L, 3, 30000L)).toDF("k", "g", "v"))
      assert(graft.tools.MaterializedRollup.refresh(spark, rollup))
      // re-executing the planned query yields the plan-time snapshot — the
      // spliced rollup scan pins the plan-time file set (snapshot
      // semantics, same as any engine scan planned before a commit)
      assert(rows(q) == planTime,
        "a planned query must keep serving its plan-time snapshot")
      // a FRESH query serves the post-commit truth and still rewrites —
      // through the V2 relation (the base is delta-dirty now; the DSv1
      // clean-snapshot path correctly declines a dirty base)
      spark.conf.set("spark.sql.catalog.gmvsnap",
        classOf[graft.sources.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gmvsnap.warehouse", wh)
      def qf = spark.sql(
        "SELECT g, count(*) AS n, sum(v) AS sv FROM gmvsnap.snapb GROUP BY g")
      assert(readsRollup(qf, rollup.location))
      ServingRewrites.disarm(spark, rollup.location)
      val wantNew = rows(qf)
      ServingRewrites.arm(spark, rollup)
      assert(rows(qf) == wantNew)
      assert(wantNew != planTime, "the mutation must be visible to fresh queries")
    } finally ServingRewrites.disarm(spark, rollup.location)
  }
}
