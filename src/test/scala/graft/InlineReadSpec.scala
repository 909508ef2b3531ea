package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, RangeComponent}
import graft.plans.InlineReadExec
import graft.table.GraftTable

/**
 * Point reads run without a Spark job (graft.plans.InlineReads): a
 * Project/Filter/Limit over one small single-split graft scan is collected
 * on the driver, merge-on-read tail included. Each inline read must return
 * what the job path returns — forced by `graft.mor.broadcastBytes=1`, which
 * puts every read over the inline bound — and reads that need a job keep
 * it.
 */
class InlineReadSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A warehouse dir with a catalog `name` over it. */
  private def warehouse(name: String): String = {
    val wh = Files.createTempDirectory(s"graft-inl-$name-").toString
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    wh
  }

  private def jobPath[A](body: => A): A = {
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try body finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  /** `df()` collects with no Spark job, through the inline exec, and
    * returns what the job path returns. */
  private def inline(df: () => DataFrame): Set[Seq[Any]] = {
    val q = df()
    val ((jobs, stages), got) = TaggedJobs.count(spark)(q.collect())
    assert((jobs, stages) == (0, 0), s"(jobs, stages) = ${(jobs, stages)}")
    assert(q.queryExecution.executedPlan.isInstanceOf[InlineReadExec])
    val rows = got.map(_.toSeq).toSet
    val viaJob = jobPath {
      val j = df()
      val ((n, _), r) = TaggedJobs.count(spark)(j.collect())
      assert(n > 0 && !j.queryExecution.executedPlan.isInstanceOf[InlineReadExec])
      r.map(_.toSeq).toSet
    }
    assert(rows == viaJob)
    rows
  }

  /** `df` collects through at least one Spark job. */
  private def keepsJobs(df: DataFrame): Unit = {
    val ((jobs, _), _) = TaggedJobs.count(spark)(df.collect())
    assert(jobs > 0)
    assert(!df.queryExecution.executedPlan.isInstanceOf[InlineReadExec])
  }

  private def kv(n: Int) = (1 to n).map(i => (i.toLong, s"a$i")).toDF("k", "v")

  test("a clean get, a LIMIT and a scan() get run no job") {
    val wh = warehouse("gin1")
    val t = GraftTable.create(spark, s"$wh/c", "c", kv(100).schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(kv(100)))
    assert(inline(() => spark.sql("SELECT v FROM gin1.c WHERE k = 7")) == Set(Seq("a7")))
    assert(inline(() => t.scan().where(col("k") === 7).select("v")) == Set(Seq("a7")))
    // a key outside every file's bounds prunes every file: no split, no job
    val ((none, _), absent) = TaggedJobs.count(spark)(
      spark.sql("SELECT v FROM gin1.c WHERE k = 1000").collect())
    assert(none == 0 && absent.isEmpty)
    val ((jobs, _), lim) = TaggedJobs.count(spark)(spark.sql("SELECT * FROM gin1.c LIMIT 3").collect())
    assert(jobs == 0 && lim.length == 3)
    assert(lim.map(_.toSeq).toSet.subsetOf(kv(100).collect().map(_.toSeq).toSet))
    assert(TaggedJobs.count(spark)(t.scan().limit(2).collect())._1._1 == 0)
  }

  test("gets over an unrouted tail, an older schema generation and a pending range drop run no job") {
    val wh = warehouse("gin2")
    val t = GraftTable.create(spark, s"$wh/t", "t",
      (1 to 50).map(i => (i.toLong, i)).toDF("k", "c0").schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some((1 to 50).map(i => (i.toLong, i)).toDF("k", "c0")))
    t.upsert(Seq((3L, 30), (60L, 600)).toDF("k", "c0"))
    t.delete(Seq(Tuple1(4L)).toDF("k"))
    assert(t.meta.deltaFiles.forall(f => f.bucket.isEmpty && f.rangeKey.isEmpty))
    assert(inline(() => spark.sql("SELECT c0 FROM gin2.t WHERE k = 3")) == Set(Seq(30)))
    assert(inline(() => spark.sql("SELECT * FROM gin2.t WHERE k = 60")) == Set(Seq(60L, 600)))
    assert(inline(() => spark.sql("SELECT * FROM gin2.t WHERE k = 4")).isEmpty)
    assert(inline(() => t.scan().where(col("k") === 3)) == Set(Seq(3L, 30)))
    // a reported key grouping plans one split per bucket; only the get's
    // bucket holds files, the others emit delta rows the driver holds
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      assert(inline(() => spark.sql("SELECT * FROM gin2.t WHERE k = 60")) == Set(Seq(60L, 600)))
      assert(inline(() => spark.sql("SELECT c0 FROM gin2.t WHERE k = 3")) == Set(Seq(30)))
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    // the tail's first files now hold an older generation of c0
    t.widenColumnType("c0", LongType)
    t.upsert(Seq((5L, 5000000000L)).toDF("k", "c0"))
    assert(inline(() => spark.sql("SELECT c0 FROM gin2.t WHERE k = 3")) == Set(Seq(30L)))
    assert(inline(() => spark.sql("SELECT c0 FROM gin2.t WHERE k = 5")) == Set(Seq(5000000000L)))

    // a pending range drop: rows written at or before it are masked, rows
    // upserted after the re-add live
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val rdf = (1 to 40).map(i => (i.toLong, ts(1995 + i % 2), s"b$i")).toDF("id", "d", "v")
    val r = GraftTable.create(spark, s"$wh/r", "r", rdf.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), range = Some(RangeComponent("d", "year")),
      data = Some(rdf))
    r.upsert(Seq((1L, ts(1996), "dropped"), (2L, ts(1995), "kept")).toDF("id", "d", "v"))
    r.dropRangePartition("1996")
    r.addRangePartition("1996")
    r.upsert(Seq((3L, ts(1996), "readded")).toDF("id", "d", "v"))
    assert(r.meta.rangeDrops.nonEmpty)
    def get(id: Long, y: Int) = () =>
      spark.sql(s"SELECT v FROM gin2.r WHERE id = $id AND d = TIMESTAMP '$y-06-01 00:00:00'")
    assert(inline(get(1L, 1996)).isEmpty)
    assert(inline(get(3L, 1996)) == Set(Seq("readded")))
    assert(inline(get(2L, 1995)) == Set(Seq("kept")))
    assert(inline(() => r.scan().where(col("id") === 3L && col("d") === ts(1996))
      .select("v")) == Set(Seq("readded")))
  }

  test("aggregates, multi-split and over-bound reads keep their jobs") {
    val wh = warehouse("gin3")
    GraftTable.create(spark, s"$wh/m", "m", kv(100).schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(kv(100)))
    keepsJobs(spark.sql("SELECT count(*) FROM gin3.m WHERE k = 7"))
    keepsJobs(spark.sql("SELECT k FROM gin3.m WHERE v = 'a7'"))
    jobPath(keepsJobs(spark.sql("SELECT v FROM gin3.m WHERE k = 7")))
  }

  test("an inline get posts the scan metrics the job path posts") {
    val wh = warehouse("gin4")
    val t = GraftTable.create(spark, s"$wh/s", "s", kv(100).schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(kv(100)))
    t.upsert(Seq((7L, "u7"), (8L, "u8")).toDF("k", "v"))
    def metrics(df: DataFrame) = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.metrics.map { case (k, m) => k -> m.value }
    }.head
    val q = "SELECT v FROM gin4.s WHERE k = 7"
    // the first read decodes the tail file into the JVM's DeltaCache; the
    // two compared reads below then decode none alike
    spark.sql(q).collect()
    val in = spark.sql(q)
    assert(in.collect().map(_.getString(0)).toSeq == Seq("u7"))
    assert(in.queryExecution.executedPlan.isInstanceOf[InlineReadExec])
    // the same plan's job path: doExecute runs the child's job
    val viaJob = spark.sql(q)
    assert(viaJob.queryExecution.toRdd.map(_.getUTF8String(0).toString).collect()
      .toSeq == Seq("u7"))
    assert(metrics(in) == metrics(viaJob))
    assert(metrics(in)(graft.sources.v2.GraftV2Scan.FilesRead) == 1L &&
      metrics(in)(graft.sources.v2.GraftV2Scan.DeltasBroadcast) > 0L &&
      metrics(in)("numOutputRows") > 0L)
  }
}
