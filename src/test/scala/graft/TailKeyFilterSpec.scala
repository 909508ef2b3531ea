package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.HashComponent
import graft.sources.v2.GraftV2Scan
import graft.table.GraftTable

/** The broadcast tail overlay folds only the delta rows whose keys the
  * scan's pushed key filters admit (GraftV2Scan.keyFilter). Reads through
  * it must return what the spill overlay (`graft.mor.broadcastBytes=1`,
  * which folds every delta row) and a model return. */
class TailKeyFilterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("g", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("v", StringType)))

  private def frame(rows: Seq[(Int, Long, String)]) = spark.createDataFrame(
    java.util.Arrays.asList(rows.map { case (g, i, v) => Row(g, i, v) }: _*), schema)

  private def table(): GraftTable = {
    val dir = Files.createTempDirectory("graft-tkf-").toString
    GraftTable.create(spark, s"$dir/t", "tkf", schema, Seq("g", "id"),
      hash = Seq(HashComponent(Seq("id"), 4)),
      data = Some(frame((0L until 200L).map(i => ((i % 3).toInt, i, s"b$i")))))
  }

  test("only filters on key columns whose values carry the column's type apply") {
    val m = table().meta
    def row(g: Int, id: Long, v: String) = InternalRow(g, id, UTF8String.fromString(v))
    def admits(fs: Filter*)(r: InternalRow) = GraftV2Scan.keyFilter(m, fs).get(r)
    assert(admits(EqualTo("id", 5L))(row(1, 5L, "a")))
    assert(!admits(EqualTo("id", 5L))(row(1, 6L, "a")))
    // the non-key conjunct is left out, the key one still applies
    assert(admits(And(EqualTo("id", 5L), EqualTo("v", "x")))(row(1, 5L, "a")))
    assert(!admits(EqualTo("id", 5L), EqualTo("v", "x"))(row(1, 6L, "x")))
    assert(!admits(In("g", Array(0, 2)))(row(1, 5L, "a")))
    assert(admits(GreaterThanOrEqual("id", 10L), LessThan("id", 20L))(row(0, 19L, "a")))
    assert(!admits(GreaterThanOrEqual("id", 10L), LessThan("id", 20L))(row(0, 20L, "a")))
    assert(GraftV2Scan.keyFilter(m, Seq(EqualTo("v", "a"))).isEmpty)
    assert(GraftV2Scan.keyFilter(m, Seq(EqualTo("id", 5))).isEmpty) // an int on a bigint
    assert(GraftV2Scan.keyFilter(m, Seq(In("id", Array(5L, null)))).isEmpty)
    assert(GraftV2Scan.keyFilter(m, Seq(Or(EqualTo("id", 5L), EqualTo("id", 6L)))).isEmpty)
    // a hash set's -0.0 is not Spark's 0.0: floating-point keys keep every row
    val dbl = StructType(Seq(StructField("d", DoubleType, nullable = false)))
    val dm = GraftTable.create(spark, Files.createTempDirectory("graft-tkf-d-").toString + "/t",
      "tkf_d", dbl, Seq("d"), data = None).meta
    assert(GraftV2Scan.keyFilter(dm, Seq(EqualTo("d", 0.0))).isEmpty)
  }

  test("reads over a key-filtered tail match the spill overlay and the model") {
    val t = table()
    val live = scala.collection.mutable.Map[(Int, Long), String]()
    (0L until 200L).foreach(i => live((i % 3).toInt -> i) = s"b$i")
    val ups = (Seq(5L, 6L, 50L, 51L) ++ (200L until 205L)).map(i => ((i % 3).toInt, i, s"u$i"))
    t.upsert(frame(ups))
    ups.foreach { case (g, i, v) => live(g -> i) = v }
    val dels = Seq(7L, 51L, 202L).map(i => ((i % 3).toInt, i, null))
    t.delete(frame(dels).select("g", "id"))
    dels.foreach { case (g, i, _) => live.remove(g -> i) }
    assert(t.meta.deltaFiles.nonEmpty)

    val queries: Seq[(String, Column, ((Int, Long, String)) => Boolean)] = Seq(
      ("updated key", col("id") === 5L, _._2 == 5L),
      ("deleted key", col("id") === 7L, _._2 == 7L),
      ("untouched key", col("id") === 8L, _._2 == 8L),
      ("in-list", col("id").isin(5L, 7L, 8L, 51L, 204L), r => Set(5L, 7L, 8L, 51L, 204L)(r._2)),
      ("range", col("id").between(45L, 60L), r => r._2 >= 45L && r._2 <= 60L),
      ("one key column of two", col("g") === 2, _._1 == 2),
      ("key and non-key", col("id") >= 50L && col("v").startsWith("u"),
        r => r._2 >= 50L && r._3.startsWith("u")),
      // 51's last upsert matches, its later tombstone carries no value
      ("non-key of a deleted key", col("v") === "u51", _._3 == "u51"),
      ("key or non-key", col("id") === 6L || col("v") === "b9",
        r => r._2 == 6L || r._3 == "b9"))
    def read(c: Column) =
      t.scan().where(c).collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    queries.foreach { case (what, c, keep) =>
      val got = read(c)
      val want = live.map { case ((g, i), v) => (g, i, v) }.filter(keep).toSet
      assert(got == want, what)
      spark.conf.set("graft.mor.broadcastBytes", "1")
      try assert(read(c) == want, s"$what (spill overlay)")
      finally spark.conf.unset("graft.mor.broadcastBytes")
    }
  }
}
