package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.{GraftTable, PrimaryKeyException}
import graft.tools.SecondaryIndex

/** Job-count guard for the keyed reads that run on the driver within
  * `GraftTable.broadcastDeltaBytes`: the presence checks of `insert`,
  * `insertIgnore` and `delete` over a local batch, the CDC window
  * (`changesSince`, `touchedKeys`) and the secondary-index refresh. Within
  * the default bound each runs no Spark job; under
  * `graft.mor.broadcastBytes=1` each keeps the job path's (jobs, stages),
  * as last measured on that path. Both paths give the same rows and the
  * same errors. */
class KeyedReadJobCountSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("v", StringType)))

  private def frame(ks: Seq[Long], tag: String): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ks.map(k => Row(k, s"$tag$k")): _*), schema)

  /** A 1,000-row hash-4 table with one pending delta file. */
  private def fixture(): GraftTable = {
    val dir = Files.createTempDirectory("graft-krj-").toString
    val t = GraftTable.create(spark, s"$dir/t", "krj", schema, Seq("k"),
      hash = Seq(HashComponent(Seq("k"), 4)), data = Some(frame(0L until 1000L, "v")))
    t.upsert(frame(Seq(5L, 6L), "u"))
    t
  }

  /** `body` with `graft.mor.broadcastBytes` set to `bound` (None = default). */
  private def under[A](bound: Option[String])(body: => A): A = {
    bound.foreach(spark.conf.set("graft.mor.broadcastBytes", _))
    try body finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  private def jobs(body: => Unit): (Int, Int) = TaggedJobs.count(spark)(body)._1

  private def message(body: => Unit): String =
    intercept[PrimaryKeyException](body).getMessage

  private def rows(t: GraftTable): Seq[(Long, String)] =
    t.scan().collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  /** (insert, insertIgnore, delete) (jobs, stages), the two errors and the
    * end state, under `bound`. */
  private def presence(bound: Option[String]) = under(bound) {
    val t = fixture()
    val counts = Seq(
      jobs(t.insert(frame(1000L until 1100L, "i"))),
      jobs(t.insertIgnore(frame(1050L until 1150L, "g"))),
      jobs(t.delete(frame(0L until 100L, "d").select("k"))))
    val errors = Seq(
      message(t.insert(frame(Seq(2000L, 500L), "x"))),
      message(t.delete(frame(Seq(300L, 50L), "x").select("k"))))
    (counts, errors, rows(t))
  }

  test("insert, insertIgnore and delete of a local batch run no job within the bound") {
    val (driver, driverErrors, driverRows) = presence(None)
    val (job, jobErrors, jobRows) = presence(Some("1"))
    info(s"(jobs, stages) (insert, insertIgnore, delete): default bound $driver, " +
      s"1-byte bound $job")
    assert(driver == Seq((0, 0), (0, 0), (0, 0)))
    // the job path's counts, as measured before the driver path existed,
    // except that a small merge-on-read spill's write now plans statically:
    // one job for its two stages
    assert(job == Seq((5, 7), (3, 7), (5, 9)))
    assert(driverErrors == jobErrors)
    assert(driverErrors == Seq("INSERT key already present in krj: (500)",
      "DELETE key not found in krj"))
    assert(driverRows == jobRows)
    assert(driverRows.map(_._1) == (100L until 1150L))
  }

  /** (changesSince, touchedKeys, sindex refresh) (jobs, stages) and the
    * CDC rows of one window, under `bound`. */
  private def window(bound: Option[String]) = under(bound) {
    val t = fixture()
    val dir = Files.createTempDirectory("graft-krj-idx-").toString
    val idx = SecondaryIndex.build(spark, t, "v", s"$dir/idx", 4)
    val v1 = t.currentVersion
    t.upsert(frame(Seq(7L, 8L, 2000L), "w"))
    t.delete(frame(Seq(9L, 2000L), "x").select("k"), ignore = true)
    val v2 = t.currentVersion
    var cdc = Seq.empty[Row]
    var touched = Seq.empty[Long]
    val counts = Seq(
      jobs { cdc = t.changesSince(v1, v2).collect().toSeq.sortBy(_.getLong(0)) },
      jobs { touched = t.touchedKeys(v1, v2, Seq("k")).collect().map(_.getLong(0)).toSeq.sorted },
      jobs(assert(SecondaryIndex.refresh(spark, idx))))
    val entries = idx.scan().collect().map(r => (r.getString(0), r.getLong(1))).toSet
    (counts, cdc, touched, entries)
  }

  test("the CDC window and the index refresh run no job within the bound") {
    val (driver, driverCdc, driverTouched, driverIdx) = window(None)
    val (job, jobCdc, jobTouched, jobIdx) = window(Some("1"))
    info(s"(jobs, stages) (changesSince, touchedKeys, sindex refresh): default bound " +
      s"$driver, 1-byte bound $job")
    assert(driver == Seq((0, 0), (0, 0), (0, 0)))
    // the job path's counts, as measured before the driver path existed,
    // except that a small merge-on-read spill's write now plans statically:
    // one job for its two stages
    assert(job == Seq((5, 7), (2, 2), (6, 12)))
    // key 2000 was inserted and deleted inside the window: a ghost
    assert(driverCdc == jobCdc)
    assert(driverCdc.map(r => (r.getLong(0), r.getBoolean(2))) ==
      Seq((7L, false), (8L, false), (9L, true)))
    assert(driverTouched == jobTouched)
    assert(driverTouched == Seq(7L, 8L, 9L, 2000L))
    assert(driverIdx == jobIdx)
  }
}
