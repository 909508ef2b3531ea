package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.{GraftTable, PrimaryKeyException}
import graft.SparkTestSession.FilesRead

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `df.filesRead`: the files `df`'s graft scans plan to read
    * ([[graft.plans.ScanRoots.filesRead]]; `Dataset.inputFiles` sees no
    * files behind a V2 relation). */
  implicit class FilesRead(df: DataFrame) {
    def filesRead: Seq[String] =
      graft.plans.ScanRoots.filesRead(df.queryExecution.optimizedPlan, _ => true).toSeq
  }
}


class GraftTableSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-spec-").toString

  private def kv(rows: (Int, String)*): DataFrame =
    rows.toDF("k", "v")

  private def newKv(rows: (Int, String)*): GraftTable =
    GraftTable.create(spark, tmp(), "kv",
      StructType(Seq(StructField("k", IntegerType, false), StructField("v", StringType))),
      keys = Seq("k"), hash = Seq(HashComponent(Seq("k"), 2)),
      data = if (rows.isEmpty) None else Some(kv(rows: _*)))

  private def asMap(t: GraftTable): Map[Int, String] =
    t.scan().collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  test("create + bulk load + scan") {
    val t = newKv(1 -> "a", 2 -> "b", 3 -> "c")
    assert(asMap(t) == Map(1 -> "a", 2 -> "b", 3 -> "c"))
    assert(t.currentVersion == 1L)
  }

  test("graft.base.filesPerTablet spreads one tablet over several sorted files") {
    spark.conf.set("graft.base.filesPerTablet", "3")
    try {
      val rows = (1 to 120).map(i => i -> s"v$i")
      val t = newKv(rows: _*)
      // each hash-bucket dir carries several files (the salt spread), every
      // file PK-sorted with a disjoint key set (a key has exactly one salt)
      val byBucket = t.meta.baseFiles.groupBy(_.bucket)
      assert(byBucket.keys.toSet.flatten.size == 2)
      assert(byBucket.values.forall(_.size > 1),
        byBucket.view.mapValues(_.size).toMap.toString)
      assert(asMap(t) == rows.toMap)
      // merge-on-read over the spread base is unchanged
      t.upsert(kv(1 -> "upd", 200 -> "new"))
      t.delete(kv(2 -> "x"))
      assert(asMap(t) == (rows.toMap - 2) + (1 -> "upd") + (200 -> "new"))
      // a compaction under the same setting keeps the spread
      t.compact()
      assert(t.meta.baseFiles.size > 2)
      assert(asMap(t) == (rows.toMap - 2) + (1 -> "upd") + (200 -> "new"))
    } finally spark.conf.unset("graft.base.filesPerTablet")
  }

  test("insert errors on existing PK; insertIgnore skips") {
    val t = newKv(1 -> "a")
    t.insert(kv(2 -> "b"))
    assert(asMap(t) == Map(1 -> "a", 2 -> "b"))
    intercept[PrimaryKeyException] { t.insert(kv(2 -> "x")) }
    t.insertIgnore(kv(2 -> "x", 3 -> "c"))
    assert(asMap(t) == Map(1 -> "a", 2 -> "b", 3 -> "c"))
  }

  test("upsert replaces; delete tombstones; re-insert after delete") {
    val t = newKv(1 -> "a", 2 -> "b")
    t.upsert(kv(2 -> "B", 3 -> "C"))
    assert(asMap(t) == Map(1 -> "a", 2 -> "B", 3 -> "C"))
    t.delete(Seq(2).toDF("k"))
    assert(asMap(t) == Map(1 -> "a", 3 -> "C"))
    intercept[PrimaryKeyException] { t.delete(Seq(2).toDF("k")) }
    t.delete(Seq(2).toDF("k"), ignore = true)
    t.insert(kv(2 -> "b2")) // re-insert after delete must win over tombstone
    assert(asMap(t) == Map(1 -> "a", 2 -> "b2", 3 -> "C"))
  }

  test("update strict vs ignore; updateWhere") {
    val t = newKv(1 -> "a", 2 -> "b")
    t.update(kv(1 -> "A"))
    assert(asMap(t) == Map(1 -> "A", 2 -> "b"))
    intercept[PrimaryKeyException] { t.update(kv(9 -> "x")) }
    t.update(kv(9 -> "x", 2 -> "B"), ignore = true)
    assert(asMap(t) == Map(1 -> "A", 2 -> "B"))
    t.updateWhere($"k" === 1, Map("v" -> lower($"v")))
    assert(asMap(t) == Map(1 -> "a", 2 -> "B"))
  }

  test("snapshot time-travel + compaction preserves state and versions") {
    val t = newKv(1 -> "a", 2 -> "b")
    val v1 = t.currentVersion
    t.upsert(kv(1 -> "A2"))
    t.deleteWhere($"k" === 2)
    val v3 = t.currentVersion
    assert(asMap(t) == Map(1 -> "A2"))
    // historical read
    val hist = t.scan(Some(v1)).collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(hist == Map(1 -> "a", 2 -> "b"))
    t.compact()
    assert(asMap(t) == Map(1 -> "A2"))
    assert(t.meta.deltaFiles.isEmpty)
    // diff scan v1 -> v3: k=1 changed, k=2 deleted
    val ch = t.changes(v1, v3).collect()
      .map(r => r.getInt(0) -> r.getBoolean(r.length - 1)).toMap
    assert(ch == Map(1 -> false, 2 -> true))
  }

  test("schema evolution: add/rename/drop with old files readable") {
    val t = newKv(1 -> "a")
    t.addColumn("tier", StringType, nullable = false, default = Some("basic"))
    t.renameColumn("v", "val")
    val rows = t.scan().select("k", "val", "tier").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet ==
      Set((1, "a", "basic")))
    t.upsert(Seq((2, "b", "gold")).toDF("k", "val", "tier"))
    t.dropColumn("tier")
    assert(t.scan().columns.toSeq == Seq("k", "val"))
    assert(t.scan().collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a", 2 -> "b"))
    // re-adding a dropped name must not resurrect old data
    t.addColumn("tier", StringType, default = Some("fresh"))
    val again = t.scan().collect().map(r => (r.getInt(0), r.getString(2))).toMap
    assert(again == Map(1 -> "fresh", 2 -> "fresh"))
  }

  test("changesSince: delta-only diff with ghost dedup; falls back across compaction") {
    val t = newKv(1 -> "a", 2 -> "b")
    val v1 = t.currentVersion
    t.upsert(kv(1 -> "A"))       // change
    t.insert(kv(3 -> "c"))       // new
    t.delete(Seq(2).toDF("k"))   // delete existing
    t.insert(kv(9 -> "ghost"))   // insert...
    t.delete(Seq(9).toDF("k"))   // ...and delete within window → ghost, not emitted
    val v2 = t.currentVersion
    val fast = t.changesSince(v1, v2).collect()
      .map(r => r.getInt(0) -> r.getBoolean(r.length - 1)).toMap
    assert(fast == Map(1 -> false, 3 -> false, 2 -> true), fast.toString)
    // empty range
    assert(t.changesSince(v2, v2).count() == 0)
    // compaction in range → logical fallback, same answer
    t.compact()
    val afterCompact = t.changesSince(v1, t.currentVersion).collect()
      .map(r => r.getInt(0) -> r.getBoolean(r.length - 1)).toMap
    assert(afterCompact == Map(1 -> false, 3 -> false, 2 -> true), afterCompact.toString)
  }

  test("changesSince/touchedKeys keep the delta fast path across a tail merge") {
    val t = newKv(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d")
    t.upsert(kv(1 -> "pre"))     // before the window: must not come out
    t.delete(Seq(4).toDF("k"))   // a pre-window tombstone: must not come out
    val v1 = t.currentVersion
    t.upsert(kv(2 -> "B"))       // change
    t.delete(Seq(3).toDF("k"))   // delete existing
    t.insert(kv(9 -> "ghost"))   // insert...
    t.delete(Seq(9).toDF("k"))   // ...and delete within window → ghost
    t.upsert(kv(5 -> "new"))     // new
    // folds tail files from both sides of v1 into one fileset whose
    // manifest seq lies inside the window
    assert(t.mergeTailDeltas())
    val v2 = t.currentVersion
    assert(t.cdcWindowBytes(v1, v2).isDefined,
      "a tail merge must not force the two-snapshot diff")
    def flags(df: DataFrame): Map[Int, Boolean] =
      df.collect().map(r => r.getInt(0) -> r.getBoolean(r.length - 1)).toMap
    val fast = t.changesSince(v1, v2)
    assert(flags(fast) == Map(2 -> false, 3 -> true, 5 -> false), flags(fast).toString)
    assert(flags(fast) == flags(t.changes(v1, v2)))
    assert(fast.filter(!col("_deleted")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap == Map(2 -> "B", 5 -> "new"))
    assert(t.touchedKeys(v1, v2, Seq("k")).collect().map(_.getInt(0)).toSet ==
      Set(2, 3, 5, 9))
    // a window opening after the merge reads only its own commits
    t.upsert(kv(6 -> "f"))
    assert(flags(t.changesSince(v2, t.currentVersion)) == Map(6 -> false))
  }

  test("changesSince/touchedKeys report a delete folded away by a compaction that writes no base file") {
    // Every live row is deleted, so the compaction's output is empty and
    // the base file set stays {} across the window: only the delta files
    // tell that history was rewritten.
    def deletedThenCompacted(compactIt: GraftTable => Unit): Unit = {
      val t = newKv()
      t.upsert(kv(1 -> "a"))
      val v1 = t.currentVersion
      t.delete(Seq(1).toDF("k"))
      compactIt(t)
      val v2 = t.currentVersion
      assert(t.meta.baseFiles.isEmpty && t.meta.deltaFiles.isEmpty)
      val got = t.changesSince(v1, v2).collect()
        .map(r => r.getInt(0) -> r.getBoolean(r.length - 1)).toMap
      assert(got == Map(1 -> true), got.toString)
      assert(t.touchedKeys(v1, v2, Seq("k")).collect().map(_.getInt(0)).toSet == Set(1))
    }
    deletedThenCompacted(_.compact())
    deletedThenCompacted(t => (0 until 2).foreach(b => t.compactTablet(bucket = Some(b))))
  }

  test("fork: zero-copy private view; mutations stay local; maintain() compacts") {
    val t = newKv(1 -> "a", 2 -> "b")
    val fork = GraftTable.fork(spark, t, tmp())
    fork.upsert(kv(1 -> "FORKED"))
    fork.delete(Seq(2).toDF("k"))
    assert(asMap(fork) == Map(1 -> "FORKED"))
    assert(asMap(t) == Map(1 -> "a", 2 -> "b")) // source untouched
    // maintain: small base + nonempty deltas → ratio trips → compaction
    assert(fork.maintain(maxDeltaRatio = 0.01))
    assert(fork.meta.deltaFiles.isEmpty)
    assert(asMap(fork) == Map(1 -> "FORKED"))
    assert(!fork.maintain()) // nothing left to fold
  }

  test("fork children block parent drop and retention until self-contained") {
    val t = newKv(1 -> "a", 2 -> "b")
    val fork = GraftTable.fork(spark, t, tmp())
    // the parent KNOWS its children now: dropping it while the child still
    // reads the parent's files by path refuses instead of corrupting
    val e = intercept[IllegalStateException](GraftTable.drop(t.location))
    assert(e.getMessage.contains("forked children"), e.getMessage)
    // parent retention can run, but every file a live child's manifests
    // reference survives — the child's reads stay exact afterwards
    t.upsert(kv(1 -> "A"))
    t.compact() // parent's own copy of the shared base is now superseded
    t.upsert(kv(2 -> "B"))
    t.expireVersions(retainLast = 1, olderThanMs = 0L)
    assert(asMap(fork) == Map(1 -> "a", 2 -> "b"),
      "parent retention must never reclaim files a live fork references")
    assert(asMap(t) == Map(1 -> "A", 2 -> "B"))
    // self-containment: the child compacts (own base under its location)
    // and expires its history (the old manifests referencing parent files)
    fork.upsert(kv(3 -> "c"))
    fork.compact()
    fork.expireVersions(retainLast = 1, olderThanMs = 0L)
    // now the parent drops cleanly and the child keeps working
    GraftTable.drop(t.location)
    assert(asMap(fork) == Map(1 -> "a", 2 -> "b", 3 -> "c"))
    // force bypasses the guard (documented escape hatch): a fresh pair
    val t2 = newKv(9 -> "x")
    GraftTable.fork(spark, t2, tmp())
    GraftTable.drop(t2.location, force = true)
    assert(!GraftTable.exists(t2.location))
  }

  test("register existing parquet zero-copy and mutate via deltas") {
    val dir = tmp()
    kv(1 -> "a", 2 -> "b").write.parquet(s"$dir/raw")
    val t = GraftTable.register(spark, s"$dir/meta", "kv", s"$dir/raw", Seq("k"))
    assert(asMap(t) == Map(1 -> "a", 2 -> "b"))
    t.upsert(kv(2 -> "B"))
    assert(asMap(t) == Map(1 -> "a", 2 -> "B"))
    // raw files untouched
    assert(spark.read.parquet(s"$dir/raw").count() == 2)
  }

  test("multi-op transaction commits atomically (W9, scoped)") {
    val t = newKv(1 -> "a", 2 -> "b", 3 -> "c")
    val v0 = t.currentVersion
    t.transaction { txn =>
      txn.insert(kv(4 -> "d"))
      txn.upsert(kv(1 -> "A"))
      txn.delete(Seq(2).toDF("k"))
    }
    assert(t.currentVersion == v0 + 1) // three ops, ONE snapshot version
    assert(asMap(t) == Map(1 -> "A", 3 -> "c", 4 -> "d"))
    // all-or-nothing: one failing strict op aborts every staged op
    intercept[PrimaryKeyException] {
      t.transaction { txn =>
        txn.upsert(kv(5 -> "never"))
        txn.insert(kv(1 -> "clash")) // key exists → whole txn aborts
      }
    }
    assert(asMap(t) == Map(1 -> "A", 3 -> "c", 4 -> "d"))
    assert(t.currentVersion == v0 + 1)
    // a transaction touches each key at most once
    intercept[PrimaryKeyException] {
      t.transaction { txn => txn.upsert(kv(6 -> "x")); txn.upsert(kv(6 -> "y")) }
    }
    // optimistic conflict detection: a racer committing mid-transaction
    // aborts the commit; the racer's write survives, the txn's does not
    intercept[IllegalStateException] {
      t.transaction { txn =>
        txn.upsert(kv(7 -> "stale"))
        t.upsert(kv(8 -> "racer"))
      }
    }
    assert(!asMap(t).contains(7) && asMap(t)(8) == "racer")
  }

  test("varchar length attribute enforced on write (and on set)") {
    val t = newKv(1 -> "a")
    t.setVarcharLength("v", 5)
    t.upsert(kv(2 -> "fits"))
    intercept[IllegalArgumentException] { t.upsert(kv(3 -> "waytoolong")) }
    assert(asMap(t) == Map(1 -> "a", 2 -> "fits"))
    // setting a length existing rows violate is rejected
    val t2 = newKv(1 -> "longvalue")
    intercept[IllegalArgumentException] { t2.setVarcharLength("v", 3) }
  }

  test("per-column encoding + table codec reach the parquet footer") {
    val t = newKv((1 to 50).map(i => i -> s"v${i % 3}"): _*)
    t.setColumnEncoding("v", "plain")
    t.setCompression("gzip")
    t.compact() // rewrites the base under the new attributes
    val file = t.meta.baseFiles.head.path
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      val vCol = cols.find(_.getPath.toDotString == "v").get
      assert(!vCol.getEncodings.asScala.exists(_.toString.contains("DICTIONARY")),
        vCol.getEncodings.toString)
      assert(vCol.getCodec.toString.toLowerCase == "gzip", vCol.getCodec.toString)
      val kCol = cols.find(_.getPath.toDotString == "k").get
      assert(kCol.getCodec.toString.toLowerCase == "gzip")
    } finally reader.close()
  }

  test("per-column compression attribute: strongest request wins the file") {
    val t = newKv((1 to 50).map(i => i -> s"value$i"): _*)
    t.setColumnCompression("v", Some("zstd"))
    t.setColumnCompression("k", Some("snappy"))
    assert(t.meta.column("v").compression.contains("zstd"))
    // mixed requests resolve to the strongest (parquet codecs are per file)
    t.compact()
    val file = t.meta.baseFiles.head.path
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      assert(cols.forall(_.getCodec.toString.toLowerCase == "zstd"),
        cols.map(_.getCodec).mkString(","))
    } finally reader.close()
    // deltas honor the resolved codec too: the commit's own files and the
    // output of every fold (tail merge, minor compaction, a tablet fold's
    // rest fileset)
    def codecs(files: Seq[graft.catalog.DataFileMeta]): Set[String] =
      files.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.path), conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .map(_.getCodec.toString.toLowerCase).toSet
        finally r.close()
      }.toSet
    t.upsert(kv(1 -> "changed"))
    assert(asMap(t)(1) == "changed")
    assert(codecs(t.meta.deltaFiles) == Set("zstd"), "commit delta")
    t.upsert(kv(2 -> "two"))
    assert(t.mergeTailDeltas())
    assert(codecs(t.meta.deltaFiles) == Set("zstd"), "mergeTailDeltas")
    t.upsert(kv(3 -> "three"))
    t.compactDeltas()
    assert(t.meta.deltaFiles.forall(_.bucket.isDefined))
    assert(codecs(t.meta.deltaFiles) == Set("zstd"), "compactDeltas")
    // one unrouted commit over both buckets: folding bucket 0 leaves the
    // bucket-1 rows in a rest fileset
    t.upsert(kv((4 to 20).map(i => i -> s"w$i"): _*))
    val before = t.meta.deltaFiles.toSet
    t.compactTablet(bucket = Some(0))
    val rest = t.meta.deltaFiles.filterNot(before.contains)
    assert(rest.nonEmpty, "compactTablet must leave a rest fileset")
    assert(codecs(rest) == Set("zstd"), "compactTablet rest")
    assert(asMap(t) == (1 to 50).map(i => i -> s"value$i").toMap ++
      Map(1 -> "changed", 2 -> "two", 3 -> "three") ++ (4 to 20).map(i => i -> s"w$i"))
    // clearing the attributes falls back to the table default
    t.setColumnCompression("v", None)
    t.setColumnCompression("k", None)
    t.setCompression("gzip")
    t.compact()
    val f2 = t.meta.baseFiles.head.path
    val r2 = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f2), conf))
    try {
      assert(r2.getFooter.getBlocks.get(0).getColumns.asScala
        .forall(_.getCodec.toString.toLowerCase == "gzip"))
    } finally r2.close()
    // validation: unknown codec / unknown column refuse
    intercept[IllegalArgumentException] { t.setColumnCompression("v", Some("brotli9")) }
    intercept[IllegalArgumentException] { t.setColumnCompression("nope", Some("zstd")) }
  }

  test("per-column bloom attribute: a non-key column gains a parquet bloom on rewrite") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft-bloom-").toString
    // high-entropy values + plain encoding: parquet-mr adaptively SKIPS a
    // bloom on fully-dictionary-encoded columns (the dictionary already
    // filters exactly), so the assertion needs a non-dict column
    val df = (1 to 4000)
      .map(i => (i, f"user-${i * 2654435761L}%x-$i", s"v$i"))
      .toDF("k", "u", "v")
    val t = GraftTable.create(spark, s"$wh/b1", "b1", df.schema, Seq("k"),
      Seq(graft.catalog.HashComponent(Seq("k"), 1)), data = Some(df))
    t.setColumnBloom("u", on = true)
    t.setColumnEncoding("u", "plain")
    t.compact() // attributes apply on the next base rewrite
    val m = t.meta
    def bloomOffset(col: String): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(m.baseFiles.head.path),
          new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == m.column(col).physName)
        .map(_.getBloomFilterOffset).getOrElse(-1L)
      finally r.close()
    }
    assert(bloomOffset("u") >= 0, "requested non-key bloom must be written")
    assert(bloomOffset("v") < 0, "no bloom was requested on v")
    // point lookups through the attribute'd column stay correct
    assert(t.scan().filter(col("u").startsWith("user-") &&
      col("k") === 7).count() == 1)
    intercept[IllegalArgumentException] { t.setColumnBloom("nope", on = true) }
  }

  test("soft-delete with reserve window: refuse load, recall, purge") {
    val t = newKv(1 -> "a")
    val loc = t.location
    GraftTable.softDrop(loc, reserveMs = 3600 * 1000)
    intercept[IllegalArgumentException] { GraftTable.load(spark, loc) }
    assert(!GraftTable.purgeIfExpired(loc)) // window not passed
    GraftTable.recall(loc)
    assert(asMap(GraftTable.load(spark, loc)) == Map(1 -> "a"))
    GraftTable.softDrop(loc, reserveMs = 10)
    assert(GraftTable.purgeIfExpired(loc, nowMs = System.currentTimeMillis() + 60 * 1000))
    assert(!GraftTable.exists(loc))
  }

  test("per-range custom hash schema: re-added range gets its own bucket count") {
    import graft.catalog.RangeComponent
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val data = (1 to 100).map(i => (i.toLong, ts(1995 + i % 2), s"v$i"))
      .toDF("id", "d", "v")
    val t = GraftTable.create(spark, tmp(), "prh", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), Some(RangeComponent("d", "year")),
      data = Some(data))
    t.dropRangePartition("1996")
    t.addRangePartition("1996", hashBuckets = Some(4))
    // reload 1996 under the new schema and materialize the layout
    t.upsert((1 to 100).filter(_ % 2 == 1).map(i => (i.toLong, ts(1996), s"n$i"))
      .toDF("id", "d", "v"))
    t.compact()
    val m = t.meta
    def bucketsOf(rk: String) =
      m.baseFiles.filter(_.rangeKey.contains(rk)).flatMap(_.bucket).distinct.sorted
    assert(bucketsOf("1995") == Seq(0, 1), bucketsOf("1995").toString)
    assert(bucketsOf("1996") == Seq(0, 1, 2, 3), bucketsOf("1996").toString)
    // point lookup prunes per-range with each range's own modulus:
    // one candidate file among 1995's two buckets + one among 1996's four
    val pruned = t.scanPruned(Seq(EqualTo("id", 7L))).filesRead
    assert(pruned.length == 2, pruned.mkString(","))
    assert(t.scanPruned(Seq(EqualTo("id", 7L))).filter(col("id") === 7L).count() == 1)
    // row content correct across mixed schemas
    assert(t.scan().count() == 100)
    assert(t.scan().filter(col("v").startsWith("n")).count() == 50)
  }

  test("range partition drop/add lifecycle (D2)") {
    import graft.catalog.RangeComponent
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    val data = Seq((1L, ts(1995), "a95"), (2L, ts(1996), "b96"),
      (3L, ts(1997), "c97"), (4L, ts(1996), "d96")).toDF("id", "d", "v")
    val t = GraftTable.create(spark, tmp(), "rp", data.schema, Seq("id"),
      Seq(HashComponent(Seq("id"), 2)), Some(RangeComponent("d", "year")),
      data = Some(data))
    val filesBefore = t.meta.baseFiles.length
    val v1 = t.currentVersion

    t.dropRangePartition("1996")
    // metadata-only: 1996 file group left the fileset, rows gone from scans
    assert(t.meta.baseFiles.length < filesBefore)
    assert(t.scan().select("id").as[Long].collect().toSet == Set(1L, 3L))
    // time travel to before the drop still sees 1996
    assert(t.scan(Some(v1)).count() == 4)
    // writes into the non-covered range error; other ranges still writable
    intercept[PrimaryKeyException] { t.upsert(Seq((5L, ts(1996), "x")).toDF("id", "d", "v")) }
    t.upsert(Seq((6L, ts(1997), "y")).toDF("id", "d", "v"))

    t.addRangePartition("1996")
    t.upsert(Seq((7L, ts(1996), "z")).toDF("id", "d", "v"))
    // re-added range accepts new rows; pre-drop 1996 rows stay dead
    assert(t.scan().select("id").as[Long].collect().toSet == Set(1L, 3L, 6L, 7L))

    // a drop inside a CDC window → changesSince falls back to the logical
    // diff, which emits the dropped-then-unrestored rows as deleted
    val afterAdd = t.currentVersion
    t.dropRangePartition("1997")
    val cdc = t.changesSince(afterAdd, t.currentVersion).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.length - 1)).toMap
    assert(cdc == Map(3L -> true, 6L -> true), cdc.toString)
    t.addRangePartition("1997")
    t.upsert(Seq((3L, ts(1997), "c97")).toDF("id", "d", "v"))
    t.upsert(Seq((6L, ts(1997), "y")).toDF("id", "d", "v"))

    // compaction materializes the drop and retires the mask records
    t.compact()
    assert(t.meta.rangeDrops.isEmpty)
    assert(t.scan().select("id").as[Long].collect().toSet == Set(1L, 3L, 6L, 7L))
    // a second drop of the same (re-added) range removes the new row too
    t.dropRangePartition("1996")
    assert(t.scan().select("id").as[Long].collect().toSet == Set(1L, 3L, 6L))
  }

  test("a key moved into a dropped range stays dead: its older rows do not come back") {
    import graft.catalog.RangeComponent
    def ts(y: Int) = java.sql.Timestamp.valueOf(s"$y-06-01 00:00:00")
    def ids(t: GraftTable) = t.scan().select("id").as[Long].collect().toSet
    // key 1 starts in 1995 (a base row), key 2 in 1995 as a delta; both
    // move to 1997 by upsert, and 1997 is dropped
    for (bound <- Seq(None, Some("1"))) {
      bound.foreach(spark.conf.set("graft.mor.broadcastBytes", _))
      try {
        val data = Seq((1L, ts(1995), "a"), (3L, ts(1996), "c")).toDF("id", "d", "v")
        val t = GraftTable.create(spark, tmp(), "mv", data.schema, Seq("id"),
          Seq(HashComponent(Seq("id"), 2)), Some(RangeComponent("d", "year")),
          data = Some(data))
        t.upsert(Seq((2L, ts(1995), "b")).toDF("id", "d", "v"))
        t.upsert(Seq((1L, ts(1997), "a7"), (2L, ts(1997), "b7")).toDF("id", "d", "v"))
        t.dropRangePartition("1997")
        val tag = s"bound=$bound"
        assert(ids(t) == Set(3L), tag)
        intercept[PrimaryKeyException](t.delete(Seq(1L).toDF("id")))
        t.insert(Seq((2L, ts(1996), "b6")).toDF("id", "d", "v"))
        assert(ids(t) == Set(2L, 3L), tag)
        assert(t.mergeTailDeltas(), tag) // the fold keeps the tombstones
        assert(ids(t) == Set(2L, 3L), tag)
        t.compact()
        assert(t.meta.rangeDrops.isEmpty && ids(t) == Set(2L, 3L), tag)
      } finally spark.conf.unset("graft.mor.broadcastBytes")
    }
  }
}
