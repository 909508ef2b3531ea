package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{HashComponent, RangeComponent, TableMeta}
import graft.table.GraftTable

/**
 * Bounded delta writes run without a Spark write job: a commit whose batch
 * fits `GraftTable.broadcastDeltaBytes` collects the batch and writes its
 * fileset on the driver, and a minor fold (`mergeTailDeltas`,
 * `compactDeltas`) within the bound reads, folds and writes its tail on
 * the driver. `graft.mor.broadcastBytes=1` puts every write over the bound,
 * onto the Spark-job path. Both paths must store the same rows under the
 * same manifest coordinates, and files that pass the same footer audit.
 */
class InlineWriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def jobPath[A](body: => A): A = {
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try body finally spark.conf.unset("graft.mor.broadcastBytes")
  }

  /** The (jobs, stages) `body` starts ([[TaggedJobs]]). */
  private def counted(body: => Any): (Int, Int) = TaggedJobs.count(spark)(body)._1

  private def ts(y: Int, i: Int) = Timestamp.valueOf(f"$y-06-01 00:00:${i % 60}%02d")

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("d", TimestampType),
    StructField("name", StringType)))

  private def rows(ids: Seq[Long], salt: String): DataFrame =
    spark.createDataFrame(ids.map(i => Row(i, ts(1995 + (i % 3).toInt, i.toInt),
      s"$salt$i")).asJava, schema)

  private def changes(up: Seq[Long], del: Seq[Long], salt: String): DataFrame =
    spark.createDataFrame((up.map(i => Row(i, ts(1995 + (i % 3).toInt, i.toInt),
      s"$salt$i", false)) ++ del.map(i => Row(i, null, null, true))).asJava,
      schema.add("_deleted", BooleanType))

  /** A 200-row table at `loc`: `hash` on id (4 buckets), hash + range (2
    * buckets, d by year) or a range on the non-key `d` alone (whose
    * flush routes upserts only). */
  private def table(loc: String, layout: String): GraftTable = {
    spark.conf.set("graft.maintain.auto", "false")
    try GraftTable.create(spark, loc, loc.split('/').last, schema, Seq("id"),
      hash = if (layout == "range") Nil else Seq(HashComponent(Seq("id"),
        if (layout == "hash") 4 else 2)),
      range = if (layout == "hash") None else Some(RangeComponent("d", "year")),
      data = Some(rows(1L to 200L, "b")))
    finally spark.conf.unset("graft.maintain.auto")
  }

  /** The writes a bounded table takes, each with its (jobs, stages). */
  private def writes(t: GraftTable): Seq[(String, (Int, Int))] = Seq(
    "upsert" -> counted(t.upsert(rows(101L to 1100L, "u"))),
    "applyChanges" -> counted(t.applyChanges(changes(Seq(5L, 1200L), Seq(6L, 7L), "c"))),
    "delete" -> counted(t.delete(Seq(8L, 9L, 9L).toDF("id"), ignore = true)),
    "mergeTailDeltas" -> counted(assert(t.mergeTailDeltas())),
    "upsert2" -> counted(t.upsert(rows(Seq(5L, 10L, 1300L), "w"))),
    "compactDeltas" -> counted(t.compactDeltas()))

  test("bounded writes run no Spark job; past the bound they keep the job path's jobs") {
    val wh = Files.createTempDirectory("graft-inw1-").toString
    for (layout <- Seq("hash", "hashrange")) {
      val driver = writes(table(s"$wh/d_$layout", layout))
      val job = jobPath(writes(table(s"$wh/j_$layout", layout)))
      info(s"$layout (jobs, stages): driver $driver; job path $job")
      driver.foreach { case (op, n) => assert(n == ((0, 0)), s"$layout $op") }
      // the job path's one 3-stage write job per write, as before the
      // driver path existed
      job.foreach { case (op, n) => assert(n == ((1, 3)), s"$layout $op past the bound") }
    }
  }

  /** The commands of the processes `body` starts that name `dir` (a
    * `chmod` per file, directory and checksum file when Hadoop sets
    * permissions by fork), on any thread: a write job's tasks fork on
    * executor threads. */
  private def processes(dir: String)(body: => Any): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft-inw0-", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).filter(_.contains(dir))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  test("bounded writes start no process and write Hadoop's file modes") {
    val dir = Files.createTempDirectory("graft-inw0-").toString
    // the job path: the created table's base write, then a compaction's
    var t: GraftTable = null
    val jobForks = processes(dir) {
      t = table(s"$dir/t", "hash")
      t.upsert(rows(Seq(1L, 500L), "j"))
      t.compact()
    }
    assert(jobForks.isEmpty, s"${jobForks.size} processes started: ${jobForks.take(3)}")
    val forks = processes(dir)(writes(t))
    assert(forks.isEmpty, s"${forks.size} processes started: ${forks.take(3)}")
    val files = (t.meta.deltaFiles ++ t.meta.baseFiles).map(f => java.nio.file.Paths.get(f.path))
    assert(t.meta.deltaFiles.nonEmpty && t.meta.baseFiles.nonEmpty)
    files.foreach { f =>
      val mode = java.nio.file.attribute.PosixFilePermissions.toString(
        Files.getPosixFilePermissions(f))
      assert(mode == "rw-r--r--", s"$f")
    }
  }

  /** Per version: the operation and, per (seq, bucket, rangeKey, fold
    * token), the rows, key interval and column ids of its non-empty delta
    * files — what a write decides, whatever its file count. */
  private def manifests(t: GraftTable) = (1L to t.currentVersion).map { v =>
    val m = TableMeta.read(t.location, v)
    v -> (m.operation, m.deltaFiles.filter(_.rows > 0)
      .groupBy(f => (f.seq, f.bucket, f.rangeKey, f.path.contains(s"_${GraftTable.FoldToken}_")))
      .map { case (k, fs) => k -> ((fs.map(_.rows).sum, fs.flatMap(_.keyLo).min,
        fs.flatMap(_.keyHi).max, fs.map(_.colIds).distinct)) })
  }

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("both paths store the same rows under the same manifest coordinates") {
    val wh = Files.createTempDirectory("graft-inw2-").toString
    spark.conf.set("spark.sql.catalog.ginw2", classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ginw2.warehouse", wh)
    // hash flushes Routed by bucket, hashrange by (bucket, range), range
    // (a non-key route column) routes upserts and leaves tombstones unrouted
    for (layout <- Seq("hash", "hashrange", "range")) {
      val d = table(s"$wh/d_$layout", layout)
      val j = table(s"$wh/j_$layout", layout)
      writes(d)
      jobPath(writes(j))
      assert(sorted(d.scan()) == sorted(j.scan()), layout)
      assert(sorted(spark.table(s"ginw2.d_$layout")) == sorted(spark.table(s"ginw2.j_$layout")),
        layout)
      assert(sorted(d.scan()).length == 1098, layout)
      assert(manifests(d) == manifests(j), layout)
      val flushed = d.meta.deltaFiles.filter(_.rows > 0)
      assert(flushed.nonEmpty && flushed.forall(f =>
        if (layout == "hash") f.bucket.isDefined
        else if (layout == "hashrange") f.bucket.isDefined && f.rangeKey.isDefined
        else f.rangeKey.isDefined || f.path.contains("/tomb/")), s"$layout: $flushed")
      assert(d.verifyFileSchemas().isEmpty && j.verifyFileSchemas().isEmpty, layout)
    }
  }

  /** A non-empty file's footer: codecs, the physical type of `t`, and
    * whether `n` and `g` carry a dictionary page. */
  private def footer(path: String): (Set[String], String, Boolean, Boolean) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
    try {
      val f = r.getFooter
      val chunks = f.getBlocks.asScala.flatMap(_.getColumns.asScala)
      def dict(c: String) = chunks.filter(_.getPath.toDotString == c).exists(_.hasDictionaryPage)
      (chunks.map(_.getCodec.name).toSet,
        f.getFileMetaData.getSchema.getType(Seq("t"): _*).toString, dict("n"), dict("g"))
    } finally r.close()
  }

  test("both paths write INT64-micros timestamp keys, the table codec and encoding attributes") {
    val wh = Files.createTempDirectory("graft-inw3-").toString
    val tsSchema = StructType(Seq(StructField("t", TimestampType, nullable = false),
      StructField("n", StringType), StructField("g", StringType)))
    def batch(from: Int, to: Int, salt: String) = spark.createDataFrame(
      (from until to).map(i => Row(ts(2000, i), s"$salt$i", s"g${i % 3}")).asJava, tsSchema)
    def run(loc: String): Seq[(Set[String], String, Boolean, Boolean)] = {
      val t = GraftTable.create(spark, loc, "tsk", tsSchema, Seq("t"),
        Seq(HashComponent(Seq("t"), 2)), data = Some(batch(0, 28, "b")))
      t.setCompression("zstd")
      t.setColumnEncoding("n", "plain")
      t.upsert(batch(20, 40, "u"))
      t.applyChanges(batch(1, 3, "c").withColumn("_deleted",
        org.apache.spark.sql.functions.lit(false)))
      assert(t.mergeTailDeltas())
      t.upsert(batch(50, 52, "w"))
      assert(t.verifyFileSchemas().isEmpty, t.verifyFileSchemas())
      assert(t.meta.deltaFiles.forall(f => f.keyLo.isDefined && f.keyHi.isDefined || f.rows == 0))
      t.meta.deltaFiles.filter(_.rows > 0).map(f => footer(f.path)).distinct
    }
    val driver = run(s"$wh/d")
    val job = jobPath(run(s"$wh/j"))
    assert(driver.toSet == job.toSet)
    assert(driver.forall(_._1 == Set("ZSTD")), driver)
    // every writer writes the non-null key optional
    assert(driver.forall(_._2 == "optional int64 t (TIMESTAMP(MICROS,true))"), driver)
    assert(!driver.exists(_._3) && driver.exists(_._4),
      s"plain `n` must carry no dictionary, `g` must: $driver")
  }

  test("a point upsert over a scan past the bound commits on the driver once pruned") {
    val t = table(Files.createTempDirectory("graft-inw4-").toString + "/t", "hash")
    // an UPDATE-shaped upsert: one key of a filtered scan of the table
    val upd = t.scan().filter(org.apache.spark.sql.functions.col("id") === 7L)
      .withColumn("name", org.apache.spark.sql.functions.lit("seven"))
    val analyzed = upd.queryExecution.analyzed.stats.sizeInBytes
    val optimized = upd.queryExecution.optimizedPlan.stats.sizeInBytes
    // a bound the whole table passes and the bucket the filter prunes to
    // fits
    val bound = (analyzed + optimized) / 2
    assert(optimized < bound && bound < analyzed, s"analyzed $analyzed, optimized $optimized")
    spark.conf.set("graft.mor.broadcastBytes", bound.toString)
    val n = try counted(t.upsert(upd)) finally spark.conf.unset("graft.mor.broadcastBytes")
    assert(n == ((0, 0)), s"(jobs, stages) $n: the upsert took the job path")
    assert(t.scan().filter("id = 7").collect().head.getString(2) == "seven")
  }
}
