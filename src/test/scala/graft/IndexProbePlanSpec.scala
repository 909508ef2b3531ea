package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.sources.{EqualTo, GreaterThan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable
import graft.tools.SecondaryIndex

/**
 * A secondary-index probe is a scan, a filter and a limit (or a top-k): it
 * plans no exchange, so adaptive execution never wraps it and the probes
 * run under the session's own settings. Past the broadcast bound the
 * probe's scan builds the merge-on-read spill, whose write does shuffle;
 * a small spill's build plans statically itself. Every query a probe
 * collects is checked for an adaptive plan with adaptive execution on,
 * under the default bound and under a 1-byte one, and each probe's Spark
 * job and stage counts are pinned.
 */
class IndexProbePlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("index probes plan no adaptive stage and keep their job counts") {
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    val loc = Files.createTempDirectory("graft-probe-").toString
    val df = (1 to 64).map(i => (i.toLong, s"n${i % 16}", i % 8)).toDF("id", "name", "v")
    val t = GraftTable.create(spark, s"$loc/base", "base", df.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 4)), data = Some(df))
    val byName = SecondaryIndex.build(spark, t, "name", s"$loc/by_name", 4)
    val byV = SecondaryIndex.build(spark, t, "v", s"$loc/by_v", 4)
    // pending deltas on the base and on both indexes
    t.upsert(Seq((3L, "n99", 7), (70L, "n5", 2)).toDF("id", "name", "v"))
    assert(SecondaryIndex.refresh(spark, byName) && SecondaryIndex.refresh(spark, byV))
    val baseV = t.currentVersion
    val (nameV, vV) = (byName.currentVersion, byV.currentVersion)

    val plans = ArrayBuffer[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    def probe(body: => org.apache.spark.sql.DataFrame): ((Int, Int), Set[Long]) = {
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark)
      plans.synchronized(plans.clear())
      val (counts, out) = TaggedJobs.count(spark)(body)
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark)
      val seen = plans.synchronized(plans.toList)
      assert(seen.nonEmpty, "the probe collected no query")
      val adaptive = seen.map(_.executedPlan).filter(_.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }.nonEmpty)
      assert(adaptive.isEmpty, adaptive.mkString("\n"))
      (counts, out.select("id").as[Long].collect().toSet)
    }
    def probes(nameV: Long, vV: Long, baseV: Long) = Seq(
      "lookupWhere" -> probe(SecondaryIndex.lookupWhere(spark, byName,
        Seq(EqualTo("name", "n5")))),
      "lookupUnionWhere" -> probe(SecondaryIndex.lookupUnionWhere(spark,
        Seq((byName, Seq(EqualTo("name", "n99")), nameV),
          (byV, Seq(EqualTo("v", 2)), vV)), baseV)),
      "topK" -> probe(SecondaryIndex.topK(spark, byV, 3, desc = true).get),
      "topKTies" -> probe(SecondaryIndex.topKTies(spark, byV, 3, desc = false,
        maxKeys = 100, where = Seq(GreaterThan("v", 5))).get))
    def checkRows(got: Seq[(String, ((Int, Int), Set[Long]))]): Unit = {
      val rows = got.map { case (n, (_, ids)) => n -> ids }.toMap
      val live = t.scan().as[(Long, String, Int)].collect()
      def ids(p: ((Long, String, Int)) => Boolean) = live.filter(p).map(_._1).toSet
      assert(rows("lookupWhere") == ids(_._2 == "n5"))
      assert(rows("lookupUnionWhere") == ids(r => r._2 == "n99" || r._3 == 2))
      assert(rows("topK").size == 3 && rows("topK").subsetOf(ids(_._3 == 7)))
      assert(rows("topKTies") == ids(_._3 == 6))
    }
    def counts(got: Seq[(String, ((Int, Int), Set[Long]))]) =
      got.map { case (n, (c, _)) => n -> c }
    try {
      val got = probes(nameV, vV, baseV)
      checkRows(got)
      // (jobs, stages) measured with each probe wrapped in a static plan
      assert(counts(got) == Seq("lookupWhere" -> (0, 0), "lookupUnionWhere" -> (0, 0),
        "topK" -> (1, 1), "topKTies" -> (3, 3)), counts(got).toString)
      // index tails past the broadcast bound: each probe's scan builds (or
      // reuses) the merge-on-read spill, whose write shuffles by route
      t.upsert(Seq((5L, "n98", 6), (71L, "n5", 2)).toDF("id", "name", "v"))
      assert(SecondaryIndex.refresh(spark, byName) && SecondaryIndex.refresh(spark, byV))
      spark.conf.set("graft.mor.broadcastBytes", "1")
      val spilled = try probes(byName.currentVersion, byV.currentVersion,
        t.currentVersion) finally spark.conf.unset("graft.mor.broadcastBytes")
      checkRows(spilled)
      // (jobs, stages) measured with each probe wrapped in a static plan:
      // the first probe of each index version builds the spill in one job
      assert(counts(spilled) == Seq("lookupWhere" -> (2, 4),
        "lookupUnionWhere" -> (0, 0), "topK" -> (2, 4), "topKTies" -> (4, 6)),
        counts(spilled).toString)
    } finally spark.listenerManager.unregister(listener)
  }
}
