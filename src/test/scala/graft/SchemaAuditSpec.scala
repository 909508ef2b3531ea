package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.table.GraftTable

/**
 * Footer-vs-manifest schema audit (`GraftTable.verifyFileSchemas`, surfaced
 * as `fsck(verifySchemas = true)`): scans read every committed file under
 * the PHYSICAL schema the manifest implies — the invariant holds for every
 * engine writer, but a foreign or hand-edited file whose footer disagrees
 * would otherwise surface as an opaque vectorized-reader type error (or
 * silent nulls) at scan time. The audit names the file and field instead.
 */
class SchemaAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("clean table audits clean; a foreign wrong-typed file is named") {
    val wh = Files.createTempDirectory("graft-schemaaudit-").toString
    val df = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/t", "sa1", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    t.upsert(Seq((1L, "u1")).toDF("k", "v")) // a delta file too
    assert(t.verifyFileSchemas().isEmpty,
      "an engine-written table must audit clean")
    assert(graft.tools.GraftTools.fsck(t.location, verifySchemas = true).isEmpty)

    // hand-swap one base file with a file whose 'v' column is an INT —
    // the manifest still records STRING. The physical column name is the
    // manifest's physName, so write the impostor under it.
    val physV = t.meta.column("v").physName
    val physK = t.meta.column("k").physName
    val victim = t.meta.baseFiles.head.path
    val impostorDir = Files.createTempDirectory("graft-schemaaudit-imp-").toString
    Seq((1L, 7)).toDF(physK, physV).coalesce(1)
      .write.mode("overwrite").parquet(impostorDir)
    val part = Files.list(Paths.get(impostorDir)).iterator()
    var impostor: java.nio.file.Path = null
    while (part.hasNext) {
      val p = part.next()
      if (p.toString.endsWith(".parquet")) impostor = p
    }
    // the local FS keeps a Hadoop checksum sibling (.<name>.crc) from the
    // original write — stale after the swap, it would fail the footer read
    // with a checksum error before the schema compare can run
    val victimPath = Paths.get(victim)
    Files.deleteIfExists(victimPath.resolveSibling(
      "." + victimPath.getFileName.toString + ".crc"))
    Files.copy(impostor, victimPath, StandardCopyOption.REPLACE_EXISTING)
    val issues = t.verifyFileSchemas()
    assert(issues.exists(i => i.contains(victim) && i.contains(physV)),
      s"the swapped file's wrong-typed column must be named, got: $issues")
  }

  test("every writer's footers agree on repetition; a null key is named") {
    val wh = Files.createTempDirectory("graft-schemaaudit-rep-").toString
    val df = (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val t = GraftTable.create(spark, s"$wh/t", "sa2", df.schema, Seq("k"),
      Seq(HashComponent(Seq("k"), 2)), data = Some(df))
    // a driver commit, a job-path commit and fold, and a driver fold
    t.upsert(Seq((1L, "u1")).toDF("k", "v"))
    spark.conf.set("graft.mor.broadcastBytes", "1")
    try {
      t.upsert(Seq((2L, "u2")).toDF("k", "v"))
      assert(t.mergeTailDeltas())
    } finally spark.conf.unset("graft.mor.broadcastBytes")
    t.upsert(Seq((3L, "u3")).toDF("k", "v"))
    assert(t.mergeTailDeltas())
    val physK = t.meta.column("k").physName
    def repetition(path: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
      try r.getFooter.getFileMetaData.getSchema.getType(Seq(physK): _*).getRepetition.toString
      finally r.close()
    }
    val files = t.meta.baseFiles ++ t.meta.deltaFiles
    assert(files.map(f => repetition(f.path)).toSet == Set("OPTIONAL"),
      files.map(f => f.path -> repetition(f.path)))
    assert(t.verifyFileSchemas().isEmpty, t.verifyFileSchemas())

    // swap one base file for one whose key column holds a null (same
    // types): the audit names the file and the column
    val physV = t.meta.column("v").physName
    val victim = t.meta.baseFiles.head.path
    val impostorDir = Files.createTempDirectory("graft-schemaaudit-null-").toString
    Seq((Some(1L), "x"), (None, "y")).toDF(physK, physV).coalesce(1)
      .write.mode("overwrite").parquet(impostorDir)
    val impostor = Files.list(Paths.get(impostorDir)).iterator()
    var file: java.nio.file.Path = null
    while (impostor.hasNext) {
      val p = impostor.next()
      if (p.toString.endsWith(".parquet")) file = p
    }
    val victimPath = Paths.get(victim)
    Files.deleteIfExists(victimPath.resolveSibling(
      "." + victimPath.getFileName.toString + ".crc"))
    Files.copy(file, victimPath, StandardCopyOption.REPLACE_EXISTING)
    assert(t.verifyFileSchemas() == Seq(s"manifest/file schema mismatch: key column " +
      s"'$physK' holds 1 null(s) in the footer's statistics: $victim"))
  }

  test("a registered foreign file with required columns audits clean") {
    val wh = Files.createTempDirectory("graft-schemaaudit-reg-").toString
    // spark.range's id is non-null: the write stores it `required`
    spark.range(0, 40).withColumn("v", col("id") * 2)
      .coalesce(1).write.parquet(s"$wh/raw")
    val t = GraftTable.register(spark, s"$wh/t", "sa3", s"$wh/raw", Seq("id"))
    t.upsert(Seq((1L, 7L)).toDF("id", "v"))
    assert(t.verifyFileSchemas().isEmpty, t.verifyFileSchemas())
    assert(graft.tools.GraftTools.fsck(t.location, verifySchemas = true).isEmpty)
  }
}
