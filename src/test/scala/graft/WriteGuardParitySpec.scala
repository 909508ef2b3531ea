package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.{GraftTable, PrimaryKeyException}
import graft.tools.GraftTools

/**
 * The write guards raise the same typed error, with the same message, on
 * the driver commit path (a batch within `GraftTable.broadcastDeltaBytes`)
 * and on the Spark-job path (`graft.mor.broadcastBytes=1`), and neither
 * leaves anything under `data/`; an orphan fileset of either path is
 * swept by `fsckRepair`.
 */
class WriteGuardParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def onPath[A](job: Boolean)(body: => A): A =
    if (!job) body
    else {
      spark.conf.set("graft.mor.broadcastBytes", "1")
      try body finally spark.conf.unset("graft.mor.broadcastBytes")
    }

  private def kvTable(loc: String): GraftTable =
    GraftTable.create(spark, loc, "kv", StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("v", StringType))),
      Seq("k"), Seq(HashComponent(Seq("k"), 2)),
      data = Some(Seq((1L, "a"), (2L, "b")).toDF("k", "v")))

  private def dataDirs(t: GraftTable): Set[String] =
    scala.util.Using.resource(Files.list(Paths.get(t.location, "data")))(
      _.iterator().asScala.map(_.getFileName.toString).toSet)

  /** The class and message each guard raises on one path. */
  private def guards(t: GraftTable, job: Boolean): Seq[(String, String)] = onPath(job) {
    def caught(body: => Unit): (String, String) = {
      val e = intercept[RuntimeException](body)
      (e.getClass.getName, e.getMessage)
    }
    val dirs = dataDirs(t)
    val v = t.currentVersion
    val out = Seq(
      // one key twice in one batch
      caught(t.upsert(Seq((2L, "x"), (2L, "y"), (3L, "c")).toDF("k", "v"))),
      // every row carries one constant key (a derived batch, so the key
      // stays a literal through optimization)
      caught(t.upsert(spark.range(3).select(lit(5L).as("k"), lit("c").as("v")))),
      // a CDC batch with a NULL _deleted
      caught(t.applyChanges(Seq((6L, "x", null: java.lang.Boolean)).toDF("k", "v", "_deleted"))),
      // an INSERT of a present key
      caught(t.insert(Seq((1L, "again")).toDF("k", "v"))))
    assert(t.currentVersion == v, "a failed guard must commit nothing")
    assert(dataDirs(t) == dirs, "a failed guard must leave no attempt dir")
    assert(GraftTools.fsck(t.location).isEmpty, GraftTools.fsck(t.location))
    out
  }

  test("guards raise the same typed errors on both paths and leave nothing behind") {
    val wh = Files.createTempDirectory("graft-gpar1-").toString
    val driver = guards(kvTable(s"$wh/d"), job = false)
    val job = guards(kvTable(s"$wh/j"), job = true)
    assert(driver == job)
    val pk = classOf[PrimaryKeyException].getName
    assert(driver.map(_._1) == Seq(pk, pk, classOf[IllegalArgumentException].getName, pk))
    assert(driver(0)._2.startsWith("duplicate key within one upsert batch on kv: (2)"), driver(0))
    assert(driver(1)._2.contains("every row carries the same constant key"), driver(1))
    assert(driver(2)._2.startsWith("applyChanges on kv: NULL _deleted"), driver(2))
    assert(driver(3)._2 == "INSERT key already present in kv: (1)", driver(3))
  }

  test("fsckRepair sweeps an orphan driver-written fileset like a job-written one") {
    val wh = Files.createTempDirectory("graft-gpar2-").toString
    val t = kvTable(s"$wh/t")
    t.upsert(Seq((3L, "driver")).toDF("k", "v"))
    val driverDir = Paths.get(t.meta.deltaFiles.last.path).getParent
    onPath(job = true)(t.upsert(Seq((4L, "job")).toDF("k", "v")))
    val jobDir = Paths.get(t.meta.deltaFiles.last.path).getParent
    assert(driverDir != jobDir)
    val rows = t.scan().collect().toSet
    // copies no manifest references, aged past the grace window: the
    // residue of writers that died before publishing
    val hourAgo = FileTime.fromMillis(System.currentTimeMillis() - 2L * 3600 * 1000)
    val orphans = Seq(driverDir -> "c90_delta_0rphan0d", jobDir -> "c91_delta_0rphan0j").map {
      case (from, name) =>
        val to = from.resolveSibling(name)
        val walked = scala.util.Using.resource(Files.walk(from))(_.iterator().asScala.toList)
        walked.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
        scala.util.Using.resource(Files.walk(to))(_.iterator().asScala.toList)
          .sortBy(-_.getNameCount).foreach(p => Files.setLastModifiedTime(p, hourAgo))
        to
    }
    val found = GraftTools.fsck(t.location)
    orphans.foreach(o => assert(found.exists(_.contains(o.toString)), found))
    GraftTools.fsckRepair(t.location)
    orphans.foreach(o => assert(!Files.exists(o), s"$o must be swept"))
    assert(GraftTools.fsck(t.location).isEmpty)
    assert(t.scan().collect().toSet == rows)
  }
}
