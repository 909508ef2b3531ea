package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.plans.ServingRewrites
import graft.table.GraftTable
import graft.tools.SecondaryIndex

/**
 * Secondary-index query rewrite: a point predicate on an indexed non-key
 * column is answered through the index (plan-time bounded probe + PK-
 * pruned base read) when — and only when — the index is CURRENT; a stale
 * index never serves, scan-sized predicates decline, and the rewritten
 * plan returns exactly the directly-computed rows.
 */
class IndexRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-idxrw-").toString

  /** The rewrite's signature: the spliced plan reads a STRICT SUBSET of
    * the base's files (the PK-pruned read behind the probed keys). An
    * unrewritten clean scan reads every base file, an unrewritten dirty
    * MOR plan reads every base file plus deltas, and an unrewritten V2
    * scan exposes no file relation at all — none qualifies. */
  private def served(df: DataFrame, t: GraftTable): Boolean = {
    val baseFiles = t.meta.baseFiles.map(f =>
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
    val read = graft.plans.ScanRoots.filesRead(
      df.queryExecution.optimizedPlan, baseFiles)
    read.nonEmpty && read.size < baseFiles.size
  }

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def mk(): (GraftTable, GraftTable) = {
    val data = (1L to 64L).map(i => (i, s"name_$i", i % 5)).toDF("id", "name", "v")
    val t = GraftTable.create(spark, tmp(), "idxrw", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, "name", tmp(), buckets = 8)
    (t, idx) // build auto-arms the rewrite in this session
  }

  test("fresh index serves equality and IN; results equal direct compute; stale declines; refresh restores") {
    val (t, idx) = mk()
    try {
      def q = t.scan().filter(col("name") === "name_7")
      assert(served(q, t), s"fresh index must serve:\n${q.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, idx.location)
      val want = rows(q)
      assert(!served(q, t), "deregistered index must keep the scan plan")
      ServingRewrites.arm(spark, idx)
      assert(rows(q) == want, "index-served rows must equal the scan's")
      assert(want.size == 1 && want.head(0) == 7L)

      def qin = t.scan().filter(col("name").isin("name_3", "name_9", "nope"))
      assert(served(qin, t), "IN predicates serve too")
      assert(rows(qin).map(_(0)) == Set(3L, 9L))

      // a predicate on a NON-indexed column keeps the scan
      assert(!served(t.scan().filter(col("v") === 2), t))

      // RESIDUAL conjuncts ride along: the point predicate probes the
      // index, the rest re-applies above the spliced plan
      def qr(p: org.apache.spark.sql.Column) =
        t.scan().filter(col("name").isin("name_8", "name_16", "name_24") && p)
      // the OR-of-equalities form is an IN (no vanilla Catalyst rule
      // normalizes it, so the rewrite recognizes it directly)
      def qor = t.scan().filter(
        col("name") === "name_4" || col("name") === "name_40")
      assert(served(qor, t), "OR of equalities must serve as an IN")
      assert(rows(qor).map(_(0)) == Set(4L, 40L))
      // ... but an OR with a disjunct over a NON-indexed column keeps
      // the scan — no probe can cover the v side (an OR whose every
      // disjunct rides SOME armed index unions instead; separate test)
      assert(!served(t.scan().filter(
        col("name") === "name_4" || col("v") === 2), t))

      // v = id % 5: name_8 -> 3, name_16 -> 1, name_24 -> 4
      assert(served(qr(col("v") >= 2), t), "residual conjuncts must serve")
      assert(rows(qr(col("v") >= 2)).map(_(0)) == Set(8L, 24L),
        "the residual must filter the index-served rows")
      assert(rows(qr(col("v") === 3)).map(_(0)) == Set(8L))
      assert(rows(qr(col("v") === 99)).isEmpty)

      // stale: the base moved past the index watermark — never serve
      t.upsert(Seq((7L, "renamed_7", 0L)).toDF("id", "name", "v"))
      def qs = t.scan().filter(col("name") === "renamed_7")
      assert(!served(qs, t), "a STALE index must never serve")

      // refresh restores serving — now through the V2 relation (the base
      // is delta-dirty; the DSv1 clean-snapshot recognizer correctly
      // declines, while the V2 current-version handle serves and the
      // lookup's base read folds merge-on-read state itself)
      assert(SecondaryIndex.refresh(spark, idx))
      val wh = new java.io.File(t.location)
      spark.conf.set("spark.sql.catalog.gidxrw",
        classOf[graft.sources.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gidxrw.warehouse", wh.getParent)
      def qv2 = spark.table(s"gidxrw.`${wh.getName}`")
        .filter(col("name") === "renamed_7")
      assert(served(qv2, t),
        s"a refreshed index must serve the V2 path on a dirty base:\n${qv2.queryExecution.optimizedPlan}")
      ServingRewrites.disarm(spark, idx.location)
      val want2 = rows(qv2)
      ServingRewrites.arm(spark, idx)
      assert(rows(qv2) == want2)
      assert(want2.size == 1 && want2.head(1) == "renamed_7")
      // the old value is gone on the index path too
      assert(rows(spark.table(s"gidxrw.`${wh.getName}`")
        .filter(col("name") === "name_7")).isEmpty)
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("OR across two indexed columns serves as a UNION of probes; exact; declines while any index is stale") {
    val data = (1L to 64L).map(i => (i, s"name_$i", s"grp_${i % 32}"))
      .toDF("id", "name", "g")
    val t = GraftTable.create(spark, tmp(), "idxrw_or", data.schema,
      Seq("id"), Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val ia = SecondaryIndex.build(spark, t, "name", tmp(), buckets = 8)
    val ib = SecondaryIndex.build(spark, t, "g", tmp(), buckets = 8)
    try {
      // grp_3 = {3, 35}: keep the matched key set below the 4 PK buckets
      // so the strict-subset detector can discriminate
      def q = t.scan().filter(col("name") === "name_6" || col("g") === "grp_3")
      assert(served(q, t),
        s"a union of two index probes must serve:\n${q.queryExecution.optimizedPlan}")
      assert(rows(q).map(_(0)) == Set(3L, 35L, 6L))
      // without the name index one disjunct has no probe — whole union
      // declines (a half-covered OR can never serve soundly)
      ServingRewrites.disarm(spark, ia.location)
      assert(!served(q, t),
        "an OR with an uncovered disjunct must keep the scan")
      ServingRewrites.arm(spark, ia)

      // a point disjunct unions with a RANGE disjunct
      def qr = t.scan().filter(col("name") === "name_6" ||
        (col("g") >= "grp_30" && col("g") <= "grp_30"))
      assert(served(qr, t), "a range disjunct must union with a point probe")
      assert(rows(qr).map(_(0)) == Set(30L, 62L, 6L))

      // a disjunct carrying EXTRA conjuncts over-matches its probe; the
      // re-applied full predicate makes the result exact
      def qc = t.scan().filter(
        (col("name") === "name_6" && col("id") > 100L) || col("g") === "grp_3")
      assert(served(qc, t))
      assert(rows(qc).map(_(0)) == Set(3L, 35L),
        "the full predicate must re-filter the union's over-match")

      // two non-IN-foldable disjuncts over ONE index still union (point
      // + prefix share the name index; eqValues can't fold a startsWith)
      def q1 = t.scan().filter(col("name") === "name_5" ||
        col("name").startsWith("name_61"))
      assert(served(q1, t))
      assert(rows(q1).map(_(0)) == Set(5L, 61L))

      // stale: the base moved past BOTH watermarks — never serve; a
      // HALF-refreshed union (one index current, one stale) still
      // declines whole; both refreshed serves again through V2 (the
      // base is delta-dirty, so the DSv1 clean-snapshot match declines)
      t.upsert(Seq((6L, "RENAMED_6", "grp_0")).toDF("id", "name", "g"))
      assert(!served(q, t), "stale indexes must never serve a union")
      assert(SecondaryIndex.refresh(spark, ia))
      assert(!served(q, t),
        "the union must decline while ANY involved index is stale")
      assert(SecondaryIndex.refresh(spark, ib))
      val wh = new java.io.File(t.location)
      spark.conf.set("spark.sql.catalog.gidxor",
        classOf[graft.sources.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gidxor.warehouse", wh.getParent)
      def qv2 = spark.table(s"gidxor.`${wh.getName}`")
        .filter(col("name") === "name_6" || col("g") === "grp_3")
      assert(served(qv2, t),
        s"refreshed indexes must serve the union on the dirty base via V2:\n${qv2.queryExecution.optimizedPlan}")
      // id 6 renamed AND regrouped: neither disjunct matches it now
      assert(rows(qv2).map(_(0)) == Set(3L, 35L))
    } finally {
      ServingRewrites.disarm(spark, ia.location)
      ServingRewrites.disarm(spark, ib.location)
    }
  }

  test("filtered top-k: WHERE over carried columns + ORDER BY lead LIMIT k serves; foreign columns decline") {
    // v = i*37 % 101 is a permutation for i in 1..64 — distinct values,
    // so single-key top-k sets are unique and comparable
    val data = (1L to 64L).map(i =>
      (i, i * 37 % 101, s"grp_${i % 4}", s"x_$i"))
      .toDF("id", "v", "g", "other")
    val t = GraftTable.create(spark, tmp(), "idxrw_ftk", data.schema,
      Seq("id"), Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, Seq("v", "g"), tmp(), buckets = 8)
    try {
      def grp1 = (1L to 64L).filter(_ % 4 == 1).map(i => (i, i * 37 % 101))
      // the per-group leaderboard: top-3 v inside grp_1 — the trailing
      // composite column evaluates the filter ON the index entries, the
      // lead orders them, three keys fetch
      def q = t.scan().filter(col("g") === "grp_1")
        .orderBy(col("v").desc).limit(3)
      assert(served(q, t),
        s"a filtered top-k over carried columns must serve:\n${q.queryExecution.optimizedPlan}")
      assert(rows(q).map(_(0)).toSet ==
        grp1.sortBy(-_._2).take(3).map(_._1).toSet)

      // multi-key ORDER BY with a filter rides the tie-completion path
      def qt = t.scan().filter(col("g") === "grp_1")
        .orderBy(col("v").desc, col("id").asc).limit(3)
      assert(served(qt, t), "filtered multi-key top-k must serve")
      assert(rows(qt).map(_(0)).toSet ==
        grp1.sortBy(-_._2).take(3).map(_._1).toSet)

      // a RANGE filter on the LEAD itself composes with the ordering
      // (nulls-last ASC — the default NULLS FIRST needs a null-free proof
      // this nullable schema cannot give)
      def qr = t.scan().filter(col("v") >= 50L)
        .orderBy(col("v").asc_nulls_last).limit(5)
      assert(served(qr, t), "a lead-range filtered top-k must serve")
      assert(rows(qr).map(_(0)).toSet ==
        (1L to 64L).map(i => (i, i * 37 % 101)).filter(_._2 >= 50)
          .sortBy(_._2).take(5).map(_._1).toSet)

      // a filter on a base PK column also evaluates on the entries
      // (every entry carries the PK) — `id <= 32 ORDER BY v DESC LIMIT 3`
      def qpk = t.scan().filter(col("id") <= 32L)
        .orderBy(col("v").desc).limit(3)
      assert(served(qpk, t), "a PK-column filter must serve the top-k")
      assert(rows(qpk).map(_(0)).toSet ==
        (1L to 32L).map(i => (i, i * 37 % 101)).sortBy(-_._2)
          .take(3).map(_._1).toSet)

      // a filter conjunct over a column the index does NOT carry cannot
      // evaluate on the entries — the whole serve declines
      assert(!served(t.scan().filter(col("other") === "x_1")
        .orderBy(col("v").desc).limit(3), t),
        "a foreign filter column must keep the scan")

      // fewer than k matching entries decline (a null-lead row passing
      // the filter could pad the true answer); rows agree regardless
      def qe = t.scan().filter(col("g") === "nope")
        .orderBy(col("v").desc).limit(3)
      assert(!served(qe, t))
      assert(rows(qe).isEmpty)

      // stale declines like every serve
      t.upsert(Seq((5L, 999L, "grp_1", "x_5")).toDF("id", "v", "g", "other"))
      assert(!served(q, t), "a stale index must never serve a filtered top-k")
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("index join: an equi-join with a broadcast-small dim probes the index instead of scanning the fact") {
    val (t, idx) = mk() // (id PK, name indexed, v) — 64 rows, 4 PK buckets
    try {
      val dim = Seq(("name_7", "A"), ("name_21", "B"), ("nope", "C"),
        (null.asInstanceOf[String], "D")).toDF("k", "tag")
      def q = t.scan().join(dim, col("name") === col("k"))
      assert(served(q, t),
        s"the fact side must splice an index probe:\n${q.queryExecution.optimizedPlan}")
      assert(rows(q).map(_(0)) == Set(7L, 21L))
      // exactness under the join itself: duplicate dim keys duplicate
      // output rows, the null dim key matches nothing
      val dup = Seq(("name_7", "A"), ("name_7", "B")).toDF("k", "tag")
      def qd = t.scan().join(dup, col("name") === col("k"))
      assert(served(qd, t))
      assert(qd.collect().length == 2,
        "duplicate dim keys must still produce one join row each")

      // LEFT SEMI serves (fact pinned to the left child)
      def qs = t.scan().join(dim, col("name") === col("k"), "left_semi")
      assert(served(qs, t), "left-semi joins must serve")
      assert(rows(qs).map(_(0)) == Set(7L, 21L))

      // the fact side serves from the RIGHT of an inner join too
      def qr = dim.join(t.scan(), col("k") === col("name"))
      assert(served(qr, t), "a right-side fact must serve")
      assert(rows(qr).map(_(2)) == Set(7L, 21L))

      // LEFT OUTER with the fact on the RIGHT: the preserved dim rows
      // all survive (the 'nope'/null keys with nulls on the fact side),
      // while the fact side reads only the probed tablets
      def qo = dim.join(t.scan(), col("k") === col("name"), "left_outer")
      assert(served(qo, t), "a right-side fact must serve under LEFT OUTER")
      val outRows = qo.collect()
      assert(outRows.length == 4, "LEFT OUTER must preserve every dim row")
      assert(outRows.count(_.isNullAt(2)) == 2,
        "the unmatched dim rows must carry nulls on the fact side")

      // LEFT ANTI with the fact on the RIGHT: the right side only needs
      // rows that COULD match — exactly what the probe fetches
      def qa = dim.join(t.scan(), col("k") === col("name"), "left_anti")
      assert(served(qa, t), "a right-side fact must serve under LEFT ANTI")
      assert(qa.collect().map(_.getString(1)).toSet == Set("C", "D"),
        "anti output = dim rows with no fact match")

      // the PRESERVED side never splices: LEFT OUTER with the fact on
      // the LEFT keeps the scan (non-matching fact rows are output)
      assert(!served(t.scan().join(dim, col("name") === col("k"),
        "left_outer"), t),
        "a preserved fact side must never splice")

      // a dim with more distinct keys than the bound is a JOIN, not a
      // point-read fan — decline
      spark.conf.set("graft.sindex.rewriteMaxKeys", "2")
      try assert(!served(q, t), "an over-bound dim key set must keep the scan")
      finally spark.conf.unset("graft.sindex.rewriteMaxKeys")
      assert(served(q, t))

      // broadcast disabled disables the probe gate too (the smallness
      // yardstick is Catalyst's own)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try assert(!served(q, t),
        "no broadcast threshold -> no smallness proof -> keep the scan")
      finally spark.conf
        .set("spark.sql.autoBroadcastJoinThreshold", "10485760")

      // stale declines like every serve
      t.upsert(Seq((7L, "renamed_7", 0L)).toDF("id", "name", "v"))
      assert(!served(q, t), "a stale index must never serve a join probe")
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("every serve kind declines through one path: stale and over-bound probes are counted") {
    import graft.plans.ServingStats
    // v = i % 8: eight rows share each value, so one probed value matches
    // past a rewriteMaxKeys of 4
    val data = (1L to 64L).map(i => (i, i % 8, s"g_${i % 16}", s"x_$i"))
      .toDF("id", "v", "g", "other")
    val t = GraftTable.create(spark, tmp(), "idxrw_decl", data.schema,
      Seq("id"), Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val iv = SecondaryIndex.build(spark, t, "v", tmp(), buckets = 4)
    val ig = SecondaryIndex.build(spark, t, "g", tmp(), buckets = 4)
    try {
      ServingStats.reset(spark)
      def counts(idx: GraftTable): ServingStats.Counts =
        ServingStats.snapshot(spark).toMap
          .getOrElse(idx.location, ServingStats.Counts())
      val dim = Seq(3L).toDF("k")
      // kind -> (query, the indexes it involves)
      val kinds: Seq[(String, () => DataFrame, Seq[GraftTable])] = Seq(
        ("covering", () => t.scan().filter(col("v") === 3L).select("id", "v"),
          Seq(iv)),
        ("union", () => t.scan().filter(col("v") === 3L || col("g") === "g_5"),
          Seq(iv, ig)),
        ("join", () => t.scan().join(dim, col("v") === col("k")), Seq(iv)),
        // multi-key: the tie-completion probe collects the 8 rows at v=7
        ("topk", () => t.scan().orderBy(col("v").desc, col("id").asc).limit(2),
          Seq(iv)))
      def run(q: () => DataFrame): Unit = q().collect()
      // fresh: every kind serves, so the declines below are real declines
      kinds.foreach { case (kind, q, idxs) =>
        val before = idxs.map(counts(_).serves)
        run(q)
        assert(idxs.map(counts(_)).zip(before).forall { case (c, b) =>
          c.serves > b && c.lastPath == kind }, s"$kind must serve fresh")
      }
      // over the key bound: every probe that collects keys records
      // `bound`; the covering serve collects nothing and has no bound
      spark.conf.set("graft.sindex.rewriteMaxKeys", "4")
      try kinds.foreach { case (kind, q, idxs) =>
        val before = idxs.map(counts)
        run(q)
        val after = idxs.map(counts)
        if (kind == "covering")
          assert(after.head.serves > before.head.serves &&
            after.head.boundDeclines == before.head.boundDeclines,
            "the covering serve has no key bound")
        else
          assert(after.zip(before).forall { case (a, b) =>
            a.boundDeclines > b.boundDeclines && a.serves == b.serves &&
              a.errorDeclines == b.errorDeclines },
            s"$kind over the bound must record bound: $after")
      } finally spark.conf.unset("graft.sindex.rewriteMaxKeys")
      // stale: a mutation compacted into a clean snapshot the indexes'
      // watermarks lag — every kind records `stale` and never serves
      t.upsert(Seq((1L, 1L, "g_1", "moved")).toDF("id", "v", "g", "other"))
      t.compact()
      kinds.foreach { case (kind, q, idxs) =>
        val before = idxs.map(counts)
        run(q)
        val after = idxs.map(counts)
        assert(after.zip(before).forall { case (a, b) =>
          a.staleDeclines > b.staleDeclines && a.serves == b.serves },
          s"a stale $kind serve must record stale: $after")
      }
    } finally {
      ServingRewrites.disarm(spark, iv.location)
      ServingRewrites.disarm(spark, ig.location)
    }
  }

  test("SQL CREATE INDEX builds and arms the serving index; DROP INDEX disarms and removes it") {
    val wh = Files.createTempDirectory("graft-idxddl-").toString
    spark.conf.set("spark.sql.catalog.gidxddl",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gidxddl.warehouse", wh)
    // three columns so the row does not fully ride the index (fetch path,
    // strict-subset detectable); v near-unique so probes stay tiny
    spark.sql(
      "CREATE TABLE gidxddl.t PARTITIONED BY (bucket(4, id)) " +
        "TBLPROPERTIES ('graft.keys' = 'id') AS " +
        "SELECT CAST(id AS BIGINT) AS id, CAST(id % 97 AS BIGINT) AS v, " +
        "CAST(id AS STRING) AS w FROM range(200)")
    // fold the CTAS deltas into per-bucket base files FIRST: the strict-
    // subset detector below watches base-file reads, and a delta-only
    // table has none to watch
    val t = GraftTable.load(spark, s"$wh/t")
    t.compact()
    spark.sql("CREATE INDEX vidx ON TABLE gidxddl.t (v)")
    val idxLoc = s"$wh/.sidx/t_vidx"
    assert(GraftTable.exists(idxLoc), "the index parks under .sidx")
    try {
      def q = spark.table("gidxddl.t").filter(col("v") === 3L)
      assert(served(q, t),
        s"a DDL-built index must serve transparently:\n${q.queryExecution.optimizedPlan}")
      assert(rows(q).map(_(0)) == Set(3L, 100L, 197L))

      // the connector face: indexExists / listIndexes report it
      val h = new graft.sources.v2.GraftV2Table(
        graft.catalog.TableMeta.readCurrent(t.location))
      assert(h.indexExists("vidx"))
      val listed = h.listIndexes()
      assert(listed.map(_.indexName()).toSeq == Seq("vidx"), listed.mkString(","))
      assert(listed.head.columns().map(_.describe()).toSeq == Seq("v"))
      assert(listed.head.indexType() == "secondary")

      // double-create refuses loudly
      val e = intercept[Exception](
        spark.sql("CREATE INDEX vidx ON TABLE gidxddl.t (v)"))
      assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)

      // composite + options through DDL
      spark.sql("CREATE INDEX widx ON TABLE gidxddl.t (w, v) " +
        "OPTIONS (buckets=4)")
      assert(h.listIndexes().map(_.indexName()).toSeq == Seq("vidx", "widx"))
      assert(GraftTable.load(spark, s"$wh/.sidx/t_widx")
        .meta.hash.exists(_.buckets == 4))

      // DROP INDEX removes the table and the serve
      spark.sql("DROP INDEX vidx ON TABLE gidxddl.t")
      assert(!GraftTable.exists(idxLoc))
      assert(!h.indexExists("vidx"))
      assert(!served(q, t), "a dropped index must stop serving")
      val e2 = intercept[Exception](
        spark.sql("DROP INDEX vidx ON TABLE gidxddl.t"))
      assert(e2.getMessage.toLowerCase.contains("index_not_found") ||
        e2.getMessage.toLowerCase.contains("cannot find the index"),
        e2.getMessage)
    } finally {
      ServingRewrites.disarm(spark, idxLoc)
      ServingRewrites.disarm(spark, s"$wh/.sidx/t_widx")
    }
  }

  test("scan-sized predicates decline: the bounded probe keeps the scan plan") {
    val data = (1L to 40L).map(i => (i, "same", i)).toDF("id", "name", "v")
    val t = GraftTable.create(spark, tmp(), "idxrw_wide", data.schema,
      Seq("id"), Seq(HashComponent(Seq("id"), 2)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, "name", tmp())
    try {
      spark.conf.set("graft.sindex.rewriteMaxKeys", "5")
      def q = t.scan().filter(col("name") === "same")
      assert(!served(q, t),
        "a predicate matching more than rewriteMaxKeys rows must keep the scan")
      assert(rows(q).size == 40)
    } finally {
      spark.conf.unset("graft.sindex.rewriteMaxKeys")
      ServingRewrites.disarm(spark, idx.location)
    }
  }

  test("the spliced plan prunes the base scan to the matched keys' buckets") {
    val (t, idx) = mk()
    try {
      val q = t.scan().filter(col("name") === "name_12")
      assert(served(q, t))
      // the base side of the spliced join reads a PK-pruned file set —
      // fewer files than the full base (id hash(4): 1 of 4 buckets)
      val baseFiles = t.meta.baseFiles.map(f =>
        new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
      val readFiles = graft.plans.ScanRoots.filesRead(
        q.queryExecution.optimizedPlan, baseFiles)
      assert(readFiles.nonEmpty && readFiles.size * 2 <= baseFiles.size,
        s"base read must prune PK buckets: ${readFiles.size} of ${baseFiles.size}")
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("a non-indexed equality BEFORE the indexed one still serves (any armed conjunct, not the first servable)") {
    val (t, idx) = mk()
    try {
      // v is an un-indexed equality and sits FIRST in the conjunction; the
      // round-14 collectFirst picked it, found no index, and declined the
      // whole rewrite — every servable conjunct is a candidate now
      def q = t.scan().filter(col("v") === 3 && col("name") === "name_8")
      assert(served(q, t),
        s"the indexed conjunct must serve even when a non-indexed equality precedes it:\n${q.queryExecution.optimizedPlan}")
      assert(rows(q).map(_(0)) == Set(8L)) // 8 % 5 == 3
      // and the residual still filters: same shape, contradicting residual
      assert(rows(t.scan().filter(col("v") === 4 && col("name") === "name_8")).isEmpty)
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("range and prefix predicates on the indexed column serve through the index") {
    val (t, idx) = mk()
    try {
      // BETWEEN (two conjuncts): both bounds MERGE into ONE interval probe
      // (IndexRewrite.servables) and both drop from the residual — probing
      // a half-open `>= lo` alone would over-match for nothing;
      // lexicographic on name_NN strings
      def qr = t.scan().filter(col("name") >= "name_60" && col("name") <= "name_62")
      assert(served(qr, t),
        s"a range predicate on an indexed column must serve:\n${qr.queryExecution.optimizedPlan}")
      assert(rows(qr).map(_(0)) == Set(60L, 61L, 62L))
      // prefix — narrow (1 key) so the strict-subset plan assert is
      // deterministic over 4 PK buckets
      def qn = t.scan().filter(col("name").startsWith("name_19"))
      assert(served(qn, t), "a prefix predicate must serve")
      assert(rows(qn).map(_(0)) == Set(19L))
      // broad prefix: rows stay exact whether or not the 11 matched keys
      // leave a file unread (11 keys usually cover all 4 buckets)
      def qp = t.scan().filter(col("name").startsWith("name_1"))
      assert(rows(qp).map(_(0)) ==
        (Set(1L) ++ (10L to 19L)), rows(qp).map(_(0)).toString)
      // strict < alone
      def ql = t.scan().filter(col("name") < "name_10")
      assert(served(ql, t))
      assert(rows(ql).map(_(0)) == Set(1L)) // only "name_1" sorts below
      // stale decline applies to ranges exactly like points
      t.upsert(Seq((61L, "renamed_61", 0L)).toDF("id", "name", "v"))
      assert(!served(qr, t), "a STALE index must never serve a range")
      assert(SecondaryIndex.refresh(spark, idx))
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("an over-long IN-list keeps the scan plan and never plans a probe job") {
    val (t, idx) = mk()
    // count PROBE jobs only (call site inside SecondaryIndex) — planning a
    // parquet scan runs its own footer/listing job either way, and that is
    // not what this test bounds
    @volatile var jobs = 0
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val names = js.stageInfos.map(_.name).mkString("|")
        if (names.contains("SecondaryIndex")) {
          jobs += 1
          seen.add(names)
        }
      }
    }
    try {
      spark.conf.set("graft.sindex.rewriteMaxKeys", "5")
      // a probe small enough reads on the driver with no job
      // (graft.plans.InlineReads); a 1-byte bound keeps every probe a job
      // the listener can see
      spark.conf.set("graft.mor.broadcastBytes", "1")
      // positive control first: a servable query's PLANNING runs the probe
      // job, proving the listener observes plan-time jobs at all
      spark.sparkContext.addSparkListener(listener)
      t.scan().filter(col("name") === "name_3").queryExecution.optimizedPlan
      Thread.sleep(500)
      assert(jobs > 0, "control: a served rewrite must run a plan-time probe job")
      // 12 literals > rewriteMaxKeys(5): the candidate is discarded BEFORE
      // any probe plan is built — no job, scan plan kept. (The sleep above
      // also drains the control's async listener events before the reset.)
      Thread.sleep(500)
      jobs = 0
      seen.clear()
      val vals = (1 to 12).map(i => s"name_$i")
      def q = t.scan().filter(col("name").isin(vals: _*))
      assert(!served(q, t),
        "an IN-list longer than rewriteMaxKeys must keep the scan plan")
      Thread.sleep(300)
      assert(jobs == 0,
        s"an over-long IN-list must never plan a probe job (saw $jobs: " +
          seen.toArray.mkString("; ") + ")")
      assert(rows(q).size == 12)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset("graft.sindex.rewriteMaxKeys")
      spark.conf.unset("graft.mor.broadcastBytes")
      ServingRewrites.disarm(spark, idx.location)
    }
  }

  test("composite index: lead-only and lead+trailing conjunctions serve; trailing-only keeps the scan") {
    val data = (1L to 64L).map(i => (i, s"name_$i", s"grp_${i % 4}"))
      .toDF("id", "name", "grp")
    val t = GraftTable.create(spark, tmp(), "idxrw_comp", data.schema,
      Seq("id"), Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, Seq("name", "grp"), tmp(),
      buckets = 8)
    // this table's whole row (name, grp, id) rides the composite index,
    // so filters serve INDEX-ONLY (zero base files) — accept either the
    // covering or the point-fetch signature
    def idxServed(df: DataFrame): Boolean =
      served(df, t) || (baseFilesRead(df, t) == 0 && readsIndex(df, idx))
    try {
      // lead-only equality serves (trailing columns are payload, so a
      // lead probe is complete — no prefix-soundness hazard)
      def q1 = t.scan().filter(col("name") === "name_9")
      assert(idxServed(q1), "lead-only equality must serve")
      assert(rows(q1).map(_(0)) == Set(9L))
      // lead + trailing equality: the trailing conjunct pushes into the
      // probe AND re-applies as residual — exact either way
      def q2 = t.scan().filter(
        col("name").isin("name_8", "name_16") && col("grp") === "grp_0")
      assert(idxServed(q2), "lead+trailing conjunction must serve")
      assert(rows(q2).map(_(0)) == Set(8L, 16L))
      def q3 = t.scan().filter(
        col("name").isin("name_8", "name_16") && col("grp") === "grp_1")
      assert(rows(q3).isEmpty, "the trailing equality must filter exactly")
      // trailing-only predicates keep the scan (no lead probe → no bucket
      // pruning; conservative by design)
      assert(!served(t.scan().filter(col("grp") === "grp_2"), t))
      // refresh covers a trailing-value change (same index KEY, upsert
      // rewrites the payload); compact + catch-up refresh returns the base
      // to a clean snapshot so the DSv1 recognizer serves again (the dirty
      // interval is covered by the V2-path test in the first suite case)
      t.upsert(Seq((8L, "name_8", "grp_X")).toDF("id", "name", "grp"))
      assert(SecondaryIndex.refresh(spark, idx))
      t.compact()
      assert(SecondaryIndex.refresh(spark, idx)) // watermark catch-up
      def q4 = t.scan().filter(col("name") === "name_8" && col("grp") === "grp_X")
      assert(idxServed(q4), "a refreshed composite index must serve")
      assert(rows(q4).map(_(0)) == Set(8L))
      assert(rows(t.scan().filter(
        col("name") === "name_8" && col("grp") === "grp_0")).isEmpty)
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("ORDER BY indexed column LIMIT k serves through the index; nulls-first, short-index, and big-k decline") {
    val (t, idx) = mk()
    try {
      // lexicographic: name_9 > name_8 > name_7 > name_64 > ...
      def qd = t.scan().orderBy(col("name").desc).limit(3)
      assert(served(qd, t),
        s"DESC top-k must serve through the index:\n${qd.queryExecution.optimizedPlan}")
      assert(qd.collect().map(_.getLong(0)).toSeq == Seq(9L, 8L, 7L))
      // ASC defaults to NULLS FIRST — the index never holds null leads,
      // so the conservative rule keeps the scan; explicit NULLS LAST serves
      assert(!served(t.scan().orderBy(col("name").asc).limit(3), t))
      def qa = t.scan().orderBy(col("name").asc_nulls_last).limit(2)
      assert(served(qa, t), "ASC NULLS LAST top-k must serve")
      assert(qa.collect().map(_.getLong(0)).toSeq == Seq(1L, 10L))
      // k past rewriteMaxKeys keeps the scan
      spark.conf.set("graft.sindex.rewriteMaxKeys", "2")
      try assert(!served(t.scan().orderBy(col("name").desc).limit(3), t))
      finally spark.conf.unset("graft.sindex.rewriteMaxKeys")
      // stale declines; refresh + compact (clean snapshot) + catch-up serves
      t.upsert(Seq((9L, "aaa_renamed", 4L)).toDF("id", "name", "v"))
      assert(!served(qd, t), "a STALE index must never serve a top-k")
      assert(SecondaryIndex.refresh(spark, idx))
      t.compact()
      assert(SecondaryIndex.refresh(spark, idx))
      assert(served(qd, t))
      assert(qd.collect().map(_.getLong(0)).toSeq == Seq(8L, 7L, 64L),
        "the renamed row must leave the top-k")
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("top-k never serves past the index's non-null entries (null rows could pad the true answer)") {
    import spark.implicits._
    val data = Seq((1L, "a"), (2L, "b"), (3L, null), (4L, "c"))
      .toDF("id", "name")
    val t = GraftTable.create(spark, tmp(), "idxrw_null", data.schema,
      Seq("id"), Seq(HashComponent(Seq("id"), 2)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, "name", tmp(), buckets = 4)
    try {
      // k=4 > 3 non-null entries: a DESC NULLS LAST top-4 must include the
      // null row the index cannot see — keep the scan
      def q4 = t.scan().orderBy(col("name").desc).limit(4)
      assert(!served(q4, t), "top-k past the non-null count must decline")
      assert(q4.collect().length == 4)
      // k=2 fits: serves, and the null row never appears. The index
      // carries (name, id) — this table's WHOLE row — so the serve is
      // the COVERING one: zero base files, index files read
      def q2 = t.scan().orderBy(col("name").desc).limit(2)
      assert(baseFilesRead(q2, t) == 0 && readsIndex(q2, idx),
        s"a fully-covered top-k must be index-only:\n${q2.queryExecution.optimizedPlan}")
      assert(q2.collect().map(_.getLong(0)).toSeq == Seq(4L, 2L))
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("functional index: lower(col) predicates serve, refresh re-derives, unsupported exprs refuse") {
    val data = (1L to 64L).map(i => (i, s"Name_$i", i % 5)).toDF("id", "name", "v")
    val t = GraftTable.create(spark, tmp(), "idxrw_fn", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idx = SecondaryIndex.buildExpression(spark, t, "LOWER(name)", tmp(),
      buckets = 8)
    try {
      assert(idx.properties(SecondaryIndex.ExprKey) == "lower(name)")
      def q = t.scan().filter(lower(col("name")) === "name_7")
      assert(served(q, t),
        s"a functional index must serve its expression predicate:\n${q.queryExecution.optimizedPlan}")
      assert(rows(q).map(_(0)) == Set(7L))
      // IN over the expression serves too; a DIFFERENT expression keeps
      // the scan (upper does not canonicalize to lower)
      assert(served(t.scan().filter(
        lower(col("name")).isin("name_3", "name_9")), t))
      assert(!served(t.scan().filter(upper(col("name")) === "NAME_7"), t))
      // ... and so does the bare column (the index holds lower() values)
      assert(!served(t.scan().filter(col("name") === "Name_7"), t))
      // refresh re-derives the expression for mutated keys
      t.upsert(Seq((7L, "RENAMED_7", 0L)).toDF("id", "name", "v"))
      assert(!served(q, t), "a STALE functional index must never serve")
      assert(SecondaryIndex.refresh(spark, idx))
      t.compact()
      assert(SecondaryIndex.refresh(spark, idx))
      def q2 = t.scan().filter(lower(col("name")) === "renamed_7")
      assert(served(q2, t))
      assert(rows(q2).map(_(0)) == Set(7L))
      assert(rows(t.scan().filter(lower(col("name")) === "name_7")).isEmpty)
      // top-k on the expression serves through the same canon matching
      def qt = t.scan().orderBy(lower(col("name")).desc).limit(2)
      assert(served(qt, t), "top-k on the indexed expression must serve")
      // lower: renamed_7 > name_9 lexicographically ('r' > 'n')
      assert(qt.collect().map(_.getLong(0)).toSeq == Seq(7L, 9L))
      // out-of-language expressions refuse up front
      intercept[IllegalArgumentException] {
        SecondaryIndex.buildExpression(spark, t, "name || 'x'", tmp())
      }
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("an index built in one session serves in a NEW session with zero explicit enables") {
    val (t, idx) = mk()
    try {
      val s2 = spark.newSession()
      GraftTable.load(s2, idx.location) // any touch re-arms (load hook)
      val t2 = GraftTable.load(s2, t.location)
      def q = t2.scan().filter(col("name") === "name_5")
      assert(served(q, t2),
        s"loading an index must arm its rewrite:\n${q.queryExecution.optimizedPlan}")
      assert(rows(q).map(_(0)) == Set(5L))
      // opt-out honored, lenient parse
      val s3 = spark.newSession()
      s3.conf.set("graft.sindex.autoRewrite", "off")
      GraftTable.load(s3, idx.location)
      assert(!served(GraftTable.load(s3, t.location).scan()
        .filter(col("name") === "name_5"), t))
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("default-ASC top-k serves when the sort key is non-nullable; nullable keeps the scan") {
    // Spark's default `ORDER BY col LIMIT k` is ASC NULLS FIRST — the
    // single most common top-k shape. The index holds no null leads, so
    // nulls-first only serves when the key is provably null-free:
    // non-nullable in the schema. Two tables, same data — one declares
    // `name` NOT NULL, one leaves it nullable.
    val data = (1L to 64L).map(i => (i, f"name_$i%02d", i % 5))
      .toDF("id", "name", "v")
    val nnSchema = org.apache.spark.sql.types.StructType(
      data.schema.fields.map(f =>
        if (f.name == "name") f.copy(nullable = false) else f))
    val tnn = GraftTable.create(spark, tmp(), "idxnn", nnSchema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idxNn = SecondaryIndex.build(spark, tnn, "name", tmp(), buckets = 8)
    val (tn, idxN) = mk() // nullable name
    try {
      def qnn = tnn.scan().orderBy(col("name")).limit(3) // ASC NULLS FIRST
      assert(served(qnn, tnn),
        s"default ASC on a NON-NULLABLE key must serve:\n${qnn.queryExecution.optimizedPlan}")
      assert(qnn.collect().map(_.getString(1)).toSeq ==
        Seq("name_01", "name_02", "name_03"))
      def qn = tn.scan().orderBy(col("name")).limit(3)
      assert(!served(qn, tn),
        "default ASC on a NULLABLE key must keep the scan (nulls could lead)")
      // explicit NULLS LAST on the nullable key still serves (existing path)
      def qe = tn.scan().orderBy(col("name").asc_nulls_last).limit(3)
      assert(served(qe, tn), "explicit NULLS LAST serves regardless of nullability")
    } finally {
      ServingRewrites.disarm(spark, idxNn.location)
      ServingRewrites.disarm(spark, idxN.location)
    }
  }

  test("multi-key ORDER BY top-k completes the tie set; an over-bound tie set keeps the scan") {
    // v = id % 4: four values, 16 rows each — maximally tie-heavy. A
    // single-key fetch of k entries would pick arbitrary ties; the
    // tie-completion path fetches EVERY row at the k-th lead value so the
    // re-applied (v DESC, id ASC) sort is exact.
    val data = (1L to 64L).map(i => (i, s"name_$i", i % 4)).toDF("id", "name", "v")
    val t = GraftTable.create(spark, tmp(), "idxties", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, "v", tmp(), buckets = 4)
    try {
      // the 16-key tie set spreads over every PK bucket, so the strict-
      // subset detector cannot discriminate — the fetch plan's signature
      // is the spliced key frame (a LocalRelation semi-joined behind the
      // base read) instead
      def fetchServed(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.collect {
          case j @ org.apache.spark.sql.catalyst.plans.logical.Join(_,
              _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
              org.apache.spark.sql.catalyst.plans.LeftSemi, _, _) => j
        }.nonEmpty
      def q = t.scan().orderBy(col("v").desc, col("id").asc).limit(5)
      assert(fetchServed(q),
        s"multi-key top-k must serve through the index:\n${q.queryExecution.optimizedPlan}")
      // v=3 rows are ids 3,7,11,…; the exact top-5 under (v desc, id asc)
      assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L, 7L, 11L, 15L, 19L))
      // tiebreak DIRECTION is honored by the re-applied sort
      def qd = t.scan().orderBy(col("v").desc, col("id").desc).limit(3)
      assert(fetchServed(qd))
      assert(qd.collect().map(_.getLong(0)).toSeq == Seq(63L, 59L, 55L))
      // a tie set bigger than the key bound declines: 16 rows share v=3
      spark.conf.set("graft.sindex.rewriteMaxKeys", "10")
      try {
        def qb = t.scan().orderBy(col("v").desc, col("id").asc).limit(3)
        assert(!fetchServed(qb),
          "an over-bound tie set must keep the scan plan")
        assert(qb.collect().map(_.getLong(0)).toSeq == Seq(3L, 7L, 11L))
      } finally spark.conf.unset("graft.sindex.rewriteMaxKeys")
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  /** Base files the plan reads (0 = no base relation at all). */
  private def baseFilesRead(df: DataFrame, t: GraftTable): Int = {
    val baseFiles = t.meta.baseFiles.map(f =>
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
    graft.plans.ScanRoots.filesRead(
      df.queryExecution.optimizedPlan, baseFiles).size
  }

  /** Whether the plan reads any of the INDEX table's files — base OR
    * delta (a selective probe can prune every index base file and serve
    * entirely from the delta tail holding the fresh entries). */
  private def readsIndex(df: DataFrame, idx: GraftTable): Boolean = {
    val im = idx.meta
    val idxFiles = (im.baseFiles ++ im.deltaFiles).map(f =>
      new org.apache.hadoop.fs.Path(f.path).toUri.getPath).toSet
    graft.plans.ScanRoots.filesRead(
      df.queryExecution.optimizedPlan, idxFiles).nonEmpty
  }

  test("covering serve: counts, grouped aggregates, and covered projections read ZERO base files") {
    // table carries a 4th column `w` the composite index does NOT cover,
    // so the non-covered fallback is observable
    val data = (1L to 64L).map(i => (i, s"name_${i % 8}", i % 5, i * 10))
      .toDF("id", "name", "v", "w")
    val t = GraftTable.create(spark, tmp(), "idxcov", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val idx = SecondaryIndex.build(spark, t, Seq("name", "v"), tmp(),
      buckets = 8)
    def covered(df: DataFrame): Boolean =
      baseFilesRead(df, t) == 0 && readsIndex(df, idx)
    try {
      // the dashboard count: zero base files, one bucket-pruned index read
      def qc = t.scan().filter(col("name") === "name_3")
        .agg(count(lit(1)).as("n"))
      assert(covered(qc),
        s"count(*) under a served predicate must be index-only:\n${qc.queryExecution.optimizedPlan}")
      assert(qc.collect().head.getLong(0) == 8L) // 64 / 8 names
      // grouped aggregate over covered columns
      def qg = t.scan().filter(col("name") === "name_3")
        .groupBy("v").agg(count(lit(1)).as("n"))
      assert(covered(qg), "grouped agg over covered columns must be index-only")
      // name_3 ids {3,11,19,27,35,43,51,59}; v = id % 5
      assert(rows(qg) == Set(Seq(0L, 1L), Seq(1L, 2L), Seq(2L, 1L),
        Seq(3L, 2L), Seq(4L, 2L)))
      // covered projection: id and v ride the index entries
      def qp = t.scan()
        .filter(col("name") === "name_3" && col("v") === 3)
        .select("id", "v")
      assert(covered(qp), "a covered projection must be index-only")
      assert(rows(qp) == Set(Seq(3L, 3L), Seq(43L, 3L))) // i%8==3 && i%5==3
      // residual over a covered column re-applies on index rows
      def qr = t.scan().filter(col("name") === "name_3" && col("id") > 40L)
        .agg(count(lit(1)).as("n"))
      assert(covered(qr), "covered residuals must not force a base read")
      assert(qr.collect().head.getLong(0) == 3L) // 43, 51, 59
      // a NON-covered output column falls back to the point-fetch serve:
      // the base IS read (the 8 matched keys spread over all 4 PK
      // buckets here, so no strict-subset claim — the point is covered
      // vs not, i.e. zero base files vs some)
      def qw = t.scan().filter(col("name") === "name_3").select("id", "w")
      val readW = baseFilesRead(qw, t)
      assert(readW > 0 && !covered(qw),
        s"non-covered projection must fetch the base ($readW files)")
      assert(rows(qw).map(_(0)).toSet ==
        Set(3L, 11L, 19L, 27L, 35L, 43L, 51L, 59L))
      // a NON-covered residual must not cover either
      def qwr = t.scan().filter(col("name") === "name_3" && col("w") > 100L)
        .agg(count(lit(1)).as("n"))
      assert(!covered(qwr), "a non-covered residual needs the base")
      assert(qwr.collect().head.getLong(0) == 7L)
      // COVERING top-k: a covered projection under ORDER BY <indexed>
      // LIMIT k serves with no base fetch and no plan-time collect
      def qtk = t.scan().select("id", "name", "v")
        .orderBy(col("name").desc).limit(3)
      assert(covered(qtk),
        s"covered top-k must be index-only:\n${qtk.queryExecution.optimizedPlan}")
      // name_7 is the max (8 ids each), ties break arbitrarily — compare
      // the name multiset, which is tie-proof
      assert(qtk.collect().map(_.getString(1)).toSeq == Seq.fill(3)("name_7"))
      // a sort over the FULL row is not covered (w rides only the base) —
      // the point-fetch top-k serves instead
      def qtw = t.scan().orderBy(col("name").desc).limit(3)
      assert(!covered(qtw) && qtw.collect().length == 3)

      // stale: a base commit kills the covering serve like every serve
      t.upsert(Seq((3L, "name_3", 9L, 30L)).toDF("id", "name", "v", "w"))
      assert(!covered(qc), "a STALE index must never cover")
      // refresh restores covering on the V2 path (dirty base is fine —
      // the covering read never touches the base at all)
      assert(SecondaryIndex.refresh(spark, idx))
      val wh = new java.io.File(t.location)
      spark.conf.set("spark.sql.catalog.gidxcov",
        classOf[graft.sources.v2.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.gidxcov.warehouse", wh.getParent)
      def qv2 = spark.table(s"gidxcov.`${wh.getName}`")
        .filter(col("name") === "name_3").agg(count(lit(1)).as("n"))
      assert(covered(qv2),
        s"a refreshed index must cover through V2 on a dirty base:\n${qv2.queryExecution.optimizedPlan}")
      assert(qv2.collect().head.getLong(0) == 8L)
    } finally ServingRewrites.disarm(spark, idx.location)
  }

  test("covering serve: a functional index covers PK-only outputs (count under the expression predicate)") {
    val (t, nameIdx) = mk() // plain index on name — disable it, test the functional one
    ServingRewrites.disarm(spark, nameIdx.location)
    val fidx = SecondaryIndex.buildExpression(spark, t, "length(name)", tmp(),
      buckets = 8)
    def coveredF(df: DataFrame): Boolean =
      baseFilesRead(df, t) == 0 && readsIndex(df, fidx)
    try {
      // names are name_1..name_64: length 6 covers ids 1..9, length 7 the rest
      def qc = t.scan().filter(length(col("name")) === 6)
        .agg(count(lit(1)).as("n"))
      assert(coveredF(qc),
        s"count under a functional predicate must be index-only:\n${qc.queryExecution.optimizedPlan}")
      assert(qc.collect().head.getLong(0) == 9L)
      // PK output covers; the SOURCE of the expression does NOT (the
      // index stores length(name), not name)
      def qid = t.scan().filter(length(col("name")) === 6).select("id")
      assert(coveredF(qid), "PK projection covers on a functional index")
      assert(rows(qid).map(_(0)) == (1L to 9L).toSet)
      def qn = t.scan().filter(length(col("name")) === 6).select("name")
      assert(!coveredF(qn),
        "the expression's source column is NOT covered — base fetch required")
      assert(rows(qn).size == 9)
    } finally ServingRewrites.disarm(spark, fidx.location)
  }

  test("date-family functional index: year(date) serves point/IN/range; timestamps refuse") {
    // 96 rows over 1994-01..1997-12 (one per month, id = month ordinal ×2)
    val data = (0 until 96).map { i =>
      (i.toLong, java.sql.Date.valueOf(f"${1994 + i / 24}-${i % 12 + 1}%02d-15"),
        java.sql.Timestamp.valueOf(f"${1994 + i / 24}-${i % 12 + 1}%02d-15 12:00:00"))
    }.toDF("id", "d", "ts")
    val t = GraftTable.create(spark, tmp(), "idxdate", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(data))
    val fidx = SecondaryIndex.buildExpression(spark, t, "year(d)", tmp(),
      buckets = 4)
    def coveredF(df: DataFrame): Boolean =
      baseFilesRead(df, t) == 0 && readsIndex(df, fidx)
    try {
      // point, IN, and range predicates over the derived year all serve —
      // covering (count needs nothing beyond the index)
      def qp = t.scan().filter(year(col("d")) === 1995).agg(count(lit(1)).as("n"))
      assert(coveredF(qp),
        s"year(date) point predicate must serve:\n${qp.queryExecution.optimizedPlan}")
      assert(qp.collect().head.getLong(0) == 24L)
      def qi = t.scan().filter(year(col("d")).isin(1994, 1997))
        .agg(count(lit(1)).as("n"))
      assert(coveredF(qi), "year(date) IN must serve")
      assert(qi.collect().head.getLong(0) == 48L)
      def qr = t.scan().filter(year(col("d")) >= 1996).agg(count(lit(1)).as("n"))
      assert(coveredF(qr), "year(date) range must serve")
      assert(qr.collect().head.getLong(0) == 48L)
      // a different date function over the same column never matches
      assert(!coveredF(t.scan().filter(month(col("d")) === 3)
        .agg(count(lit(1)).as("n"))))
      // dayofmonth canonicalizes to day(): a day-index serves both spellings
      val didx = SecondaryIndex.buildExpression(spark, t, "day(d)", tmp(),
        buckets = 4)
      try {
        def qd = t.scan().filter(dayofmonth(col("d")) === 15)
          .agg(count(lit(1)).as("n"))
        assert(baseFilesRead(qd, t) == 0 && readsIndex(qd, didx),
          "dayofmonth() must canonicalize to the day() index")
        assert(qd.collect().head.getLong(0) == 96L)
      } finally ServingRewrites.disarm(spark, didx.location)
      // year over a TIMESTAMP is session-timezone-dependent — refuse
      val e = intercept[IllegalArgumentException] {
        SecondaryIndex.buildExpression(spark, t, "year(ts)", tmp())
      }
      assert(e.getMessage.contains("DATE columns only"), e.getMessage)
      // …and a query-side year(timestamp) predicate never serves the
      // year(date) index (different canon — guards on the resolved type)
      assert(!coveredF(t.scan().filter(year(col("ts")) === 1995)
        .agg(count(lit(1)).as("n"))))
    } finally ServingRewrites.disarm(spark, fidx.location)
  }
}
