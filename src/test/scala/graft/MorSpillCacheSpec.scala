package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * The shuffle-spill MOR overlay caches its per-route spill by (version,
 * plan shape): the first read past the broadcast bound pays the delta
 * shuffle, every later read at the same version reuses the published
 * spill from disk — the persistence posture of the reference's on-disk
 * delta stores (tablet/deltafile.h: deltas are routed to their rowset
 * once at flush, then every scan serves them from disk). A new commit
 * bumps the version and invalidates the cache by construction.
 */
class MorSpillCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withSpillForced[A](body: => A): A = {
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try body finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  private def spillDirs(loc: String): Seq[Path] = {
    val tmp = Paths.get(loc, "tmp")
    if (!Files.isDirectory(tmp)) Seq.empty
    else scala.util.Using.resource(Files.list(tmp)) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(_.getFileName.toString.startsWith("_morspill_")).toSeq
    }
  }

  test("spill is published once per (version, shape) and reused across reads") {
    val wh = Files.createTempDirectory("graft-spillcache-").toString
    val df = (1 to 300).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/sc1", "sc1", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 150).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete(Seq(Tuple1(300L)).toDF("k"))
    spark.conf.set("spark.sql.catalog.gspc", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspc.warehouse", wh)
    withSpillForced {
      def state() = spark.table("gspc.sc1").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap

      val first = state()
      assert(first.size == 299 && first(1L) == "u1" && first(200L) == "a200")
      val dirs1 = spillDirs(t.location)
      assert(dirs1.size == 1, s"expected one published spill, got $dirs1")
      assert(Files.exists(dirs1.head.resolve("_SUCCESS")),
        "published spill must carry the committer's _SUCCESS marker")
      assert(!dirs1.head.getFileName.toString.contains("tmp"),
        "no tmp residue may be left behind as the published dir")
      val mtime1 = Files.getLastModifiedTime(dirs1.head).toMillis

      // same query again: same answer, same single spill dir, untouched
      assert(state() == first)
      val dirs2 = spillDirs(t.location)
      assert(dirs2.map(_.getFileName.toString) == dirs1.map(_.getFileName.toString))
      assert(Files.getLastModifiedTime(dirs2.head).toMillis == mtime1,
        "second read must reuse the cached spill, not rewrite it")

      // a different projection is a different shape → its own cache entry,
      // coexisting with the first
      val proj = spark.table("gspc.sc1").select("k").collect().map(_.getLong(0)).toSet
      assert(proj.size == 299 && !proj.contains(300L))
      val dirs3 = spillDirs(t.location)
      assert(dirs3.size == 2,
        s"projection shape should cache separately: $dirs3")
      assert(dirs3.map(_.getFileName.toString).contains(dirs1.head.getFileName.toString))

      // a commit bumps the version: the next read builds (and publishes)
      // the new version's spill and serves the new state
      t.upsert(Seq((500L, "late")).toDF("k", "v"))
      val after = state()
      assert(after.size == 300 && after(500L) == "late")
      val vNew = s"_morspill_v${t.meta.version}_"
      assert(spillDirs(t.location).exists(_.getFileName.toString.startsWith(vNew)),
        "new version must publish its own spill")
    }
  }

  test("spill slices serve repeat reads and a commit's new version") {
    val wh = Files.createTempDirectory("graft-spillcache2-").toString
    val df = (1 to 300).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/sc2", "sc2", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 150).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    spark.conf.set("spark.sql.catalog.gspc2", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspc2.warehouse", wh)
    withSpillForced {
      def state() = spark.table("gspc2.sc2").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val first = state()
      assert(first.size == 300 && first(1L) == "u1")
      assert(state() == first)
      // a commit produces a new spill (new paths)
      t.upsert(Seq((700L, "late")).toDF("k", "v"))
      val after = state()
      assert(after.size == 301 && after(700L) == "late")
    }
  }

  test("routed-attach slices serve repeat reads") {
    // the flushed per-tablet delta files (attach transport) are read by
    // each split like spill slices
    val wh = Files.createTempDirectory("graft-spillcache3-").toString
    val df = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/sc3", "sc3", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 4)), data = Some(df))
    t.upsert((1 to 80).map(i => (i.toLong, s"u$i")).toDF("k", "v"))
    t.delete(Seq(Tuple1(150L)).toDF("k"))
    t.compactDeltas() // flush -> routed files, attach transport
    spark.conf.set("spark.sql.catalog.gspc3", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gspc3.warehouse", wh)
    def state() = spark.table("gspc3.sc3").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = state()
    assert(first.size == 199 && first(1L) == "u1" && !first.contains(150L))
    assert(state() == first)
  }
}
