package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

import graft.catalog.{HashComponent, RangeComponent}
import graft.table.GraftTable
import graft.tools.SecondaryIndex

/** Deterministic data: a row's initial value is a hash of the seed and its
  * key, so the engine and the model derive the same table independently. */
object Gen {
  val VRange = 1000000000L

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def v0(seed: Long, x: Long): Long = java.lang.Math.floorMod(mix(seed * 1000003L + x), VRange)

  def cust(x: Long): Int = (x % 64).toInt

  /** `v0` as a column over a long key column, for parallel table loads. */
  def v0Col(seed: Long, c: String) = udf((x: Long) => v0(seed, x)).apply(col(c))
}

/**
 * One closed-loop operation.
 *  - cls: the op class latencies are pooled by (commit, get, scan, lookup,
 *    refresh, maintain); template: the finer kind (upsert, range, ...)
 *  - call: the engine call, the only part that is timed
 *  - check: whether the call's answer matches the model (run untimed)
 *  - applied: updates the model once the call has returned
 *  - rows: logical rows the op mutates (write amplification's base)
 */
final case class Op(cls: String, template: String, call: () => Any,
    check: Any => Boolean = _ => true, applied: () => Unit = () => (),
    rows: Long = 0L)

object Op {
  /** A query's collected rows as plain value sequences. */
  def rows(res: Any): Seq[Seq[Any]] = res.asInstanceOf[Array[Row]].map(_.toSeq).toSeq
}

/** What a workload gets from the harness: the session, its private
  * warehouse and catalog, the seeded generator, and the SQL entry point
  * that the traced run splits into plan and execution spans. */
final class Env(val spark: SparkSession, val catalog: String, val warehouse: String,
    val seed: Long, val cpus: Int, val tracer: Tracer) {
  val rng = new scala.util.Random(seed)
  /** Scan metrics of the last traced query (BatchScanExec custom metrics). */
  var lastScan: Map[String, Long] = Map.empty

  def sql(q: String): Array[Row] =
    if (!tracer.on) spark.sql(q).collect()
    else {
      val df = tracer.span("sources.v2.plan") {
        val d = spark.sql(q)
        d.queryExecution.executedPlan
        d
      }
      val rows = tracer.span("sources.v2.exec")(df.collect())
      lastScan = Plans.scanMetrics(df)
      rows
    }

  def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  def location(table: String): String = s"$warehouse/$table"

  /** The full-table check after the timed phase: count(*) and sum(v). */
  def countSumCheck(table: String, live: Long, sum: Long): Seq[String] = {
    val r = spark.sql(s"SELECT count(*), sum(v) FROM $table").head()
    if (r.getLong(0) == live && r.getLong(1) == sum) Nil
    else Seq(s"final count/sum ${r.getLong(0)}/${r.getLong(1)} != model $live/$sum")
  }

  /** `k` distinct values from [0, n). */
  def sample(n: Long, k: Int): Seq[Long] = {
    val out = scala.collection.mutable.LinkedHashSet[Long]()
    while (out.size < math.min(k.toLong, n)) out += (rng.nextDouble() * n).toLong
    out.toSeq
  }
}

/** A fixed interleaving of op kinds, `counts(k)` of kind k per unit,
  * spread evenly (smooth weighted round-robin). Every run replays the same
  * order; only the op parameters come from the seed, so the op sequence
  * adds no run-to-run spread. */
final class Mix(counts: Seq[Int]) {
  private val order: IndexedSeq[Int] = {
    val credit = Array.fill(counts.size)(0)
    IndexedSeq.fill(counts.sum) {
      counts.indices.foreach(k => credit(k) += counts(k))
      val k = counts.indices.maxBy(credit(_))
      credit(k) -= counts.sum
      k
    }
  }
  private var i = 0
  /** Whether the next draw starts a new unit. */
  def atStart: Boolean = i % order.size == 0
  def draw(): Int = { val k = order(i % order.size); i += 1; k }
}

trait Workload {
  /** Create and load the tables; returns the warm-up ops, which run
    * untimed (but checked) before the timed phase. Each is built only
    * when it is about to run, so it sees the model its predecessors left. */
  def setup(): Seq[() => Op]
  def next(): Op
  /** Whether the next op starts a new unit of the mix (a `Mix` unit or a cycle):
    * the timed phase ends only there, so every run holds whole units and
    * the declared mix exactly. */
  def atBoundary: Boolean
  /** Full-table checks after the timed phase: mismatches, empty if none. */
  def finalCheck(): Seq[String]
  /** Every table directory the workload owns. */
  def tableDirs: Seq[String]
  /** Bytes of one row of the (fixed-width) schema: the logical size of a
    * mutated row. */
  def rowWidth: Int
  /** The table whose manifest the traced run samples. */
  def main: GraftTable
  /** A PK point get through `GraftTable.scan()` (traced-run sample). */
  def scanApiGet(): Op
}

object Workload {
  val names = Seq("oltp_ts", "olap_clean", "olap_mor", "htap_indexed")

  def apply(name: String, env: Env, tiny: Boolean): Workload = name match {
    case "oltp_ts" =>
      if (tiny) new OltpTs(env, days = 4, buckets = 2, perDay = 200, batch = 20, maintainEvery = 4)
      else new OltpTs(env, days = 16, buckets = 8, perDay = 1000, batch = 500, maintainEvery = 10)
    case "olap_clean" =>
      if (tiny) new Olap(env, rows = 5000, buckets = 2, backlog = 0, backlogKeys = 0)
      else new Olap(env, rows = 200000, buckets = 8, backlog = 0, backlogKeys = 0)
    case "olap_mor" =>
      if (tiny) new Olap(env, rows = 5000, buckets = 2, backlog = 4, backlogKeys = 50)
      else new Olap(env, rows = 200000, buckets = 8, backlog = 5, backlogKeys = 1000)
    case "htap_indexed" =>
      if (tiny) new Htap(env, rows = 5000, buckets = 2, batch = 50)
      else new Htap(env, rows = 100000, buckets = 8, batch = 1000)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Key → value model over dense ids [0, n): `Dead` marks a deleted key. */
final class Dense(n: Int, init: Int => Long) {
  val v: ArrayBuffer[Long] = ArrayBuffer.tabulate(n)(init)
  var live: Long = n.toLong
  var sum: Long = v.sum

  def size: Int = v.length
  def get(i: Long): Option[Long] =
    if (i < 0 || i >= v.length || v(i.toInt) == Dense.Dead) None else Some(v(i.toInt))

  def put(i: Long, x: Long): Unit = {
    while (v.length <= i) v += Dense.Dead
    val old = v(i.toInt)
    if (old == Dense.Dead) live += 1 else sum -= old
    v(i.toInt) = x
    sum += x
  }

  def remove(i: Long): Unit = {
    val old = v(i.toInt)
    if (old != Dense.Dead) { live -= 1; sum -= old; v(i.toInt) = Dense.Dead }
  }
}

object Dense { val Dead = -1L }

/**
 * oltp_ts — YCSB-A-like point traffic on a time-series table keyed
 * (day, id), range-partitioned by day and hashed by id, so the manifest
 * tracks days × buckets base files and every commit reads and rewrites it.
 * Mix, as a unit of 20: 10 upserts of `batch` rows within one day, 1 insert
 * of `batch` new keys into the newest day, 1 delete of batch/2 keys, 8 PK
 * point gets through SQL. Commits draw their day skewed toward recent ones;
 * a get reads a random key of the day the latest commit wrote, so it reads
 * through that day's live deltas. `maintain` runs after every
 * `maintainEvery` commits.
 */
final class OltpTs(env: Env, days: Int, buckets: Int, perDay: Int, batch: Int,
    maintainEvery: Int) extends Workload {
  import env._

  private val schema = StructType(Seq(StructField("day", IntegerType, false),
    StructField("id", LongType, false), StructField("v", LongType, false),
    StructField("cust", IntegerType, false)))
  private val model = Array.tabulate(days)(d => new Dense(perDay, i => Gen.v0(seed, d.toLong * perDay + i)))
  private var table: GraftTable = _
  private val loc = location("ts")
  private val name = s"$catalog.ts"
  private var sinceMaintain = 0
  // the day the latest commit wrote: gets read it back
  private var lastDay = days - 1
  private val mix = new Mix(Seq(10, 1, 1, 8))
  val ioBudget: Long = 8L << 20

  def main: GraftTable = table
  def tableDirs: Seq[String] = Seq(loc)
  def rowWidth: Int = 4 + 8 + 8 + 4
  def atBoundary: Boolean = mix.atStart

  def setup(): Seq[() => Op] = {
    val data = spark.range(0L, days.toLong * perDay, 1L, cpus).select(
      (col("id") / perDay).cast(IntegerType).as("day"), (col("id") % perDay).as("id"),
      Gen.v0Col(seed, "id").as("v"), (col("id") % perDay % 64).cast(IntegerType).as("cust"))
    table = GraftTable.create(spark, loc, "ts", schema, Seq("day", "id"),
      Seq(HashComponent(Seq("id"), buckets)), Some(RangeComponent("day", "value")),
      data = Some(data))
    Seq(() => upsert(), () => get(), () => maintain())
  }

  /** Skewed toward recent days: P(day >= days - k) grows like (k/days)^(1/3). */
  private def day(): Int = days - 1 - math.min(days - 1, (days * math.pow(rng.nextDouble(), 3)).toInt)

  private def row(d: Int, id: Long, v: Long) = Row(d, id, v, Gen.cust(id))

  def next(): Op =
    if (sinceMaintain >= maintainEvery) maintain()
    else mix.draw() match {
      case 0 => upsert()
      case 1 => insert()
      case 2 => delete()
      case _ => get()
    }

  private def upsert(): Op = {
    val d = day()
    val kv = sample(model(d).size, batch).map(i => (i, rng.nextLong(Gen.VRange)))
    val df = frame(schema, kv.map { case (i, v) => row(d, i, v) })
    Op("commit", "upsert", () => table.upsert(df),
      applied = () => { sinceMaintain += 1; lastDay = d; kv.foreach { case (i, v) => model(d).put(i, v) } },
      rows = kv.size)
  }

  private def insert(): Op = {
    val d = days - 1
    val n0 = model(d).size.toLong
    val kv = (0 until batch).map(j => (n0 + j, rng.nextLong(Gen.VRange)))
    val df = frame(schema, kv.map { case (i, v) => row(d, i, v) })
    Op("commit", "insert", () => table.insert(df),
      applied = () => { sinceMaintain += 1; lastDay = d; kv.foreach { case (i, v) => model(d).put(i, v) } },
      rows = kv.size)
  }

  private def delete(): Op = {
    val d = day()
    val m = model(d)
    val ids = sample(m.size, batch).filter(m.get(_).isDefined).take(batch / 2)
    val df = frame(StructType(schema.take(2)), ids.map(i => Row(d, i)))
    Op("commit", "delete", () => table.delete(df),
      applied = () => { sinceMaintain += 1; lastDay = d; ids.foreach(m.remove) }, rows = ids.size)
  }

  private def get(): Op = {
    val d = lastDay
    val id = (rng.nextDouble() * model(d).size).toLong
    val want = model(d).get(id).map(v => Seq(d, id, v, Gen.cust(id)))
    Op("get", "get", () => env.sql(s"SELECT day, id, v, cust FROM $name WHERE day = $d AND id = $id"),
      check = res => Op.rows(res) == want.toSeq)
  }

  private def maintain(): Op =
    Op("maintain", "maintain", () => table.maintain(ioBudget), applied = () => sinceMaintain = 0)

  def scanApiGet(): Op = {
    val d = day()
    val id = (rng.nextDouble() * model(d).size).toLong
    val want = model(d).get(id).map(v => Seq(d, id, v, Gen.cust(id)))
    Op("get", "scan_api", () => table.scan().where(col("day") === d && col("id") === id)
        .select("day", "id", "v", "cust").collect(),
      check = res => Op.rows(res) == want.toSeq)
  }

  def finalCheck(): Seq[String] = countSumCheck(name, model.map(_.live).sum, model.map(_.sum).sum)
}

/**
 * A table keyed by a dense id, hash-partitioned, with a value `v` and a
 * group column `cust` — the shape `olap_*` and `htap_indexed` share, with
 * its model, load, PK get and final check.
 */
abstract class IdTable(env: Env, rows: Int, buckets: Int, tableName: String) extends Workload {
  import env._

  protected val schema = StructType(Seq(StructField("id", LongType, false),
    StructField("v", LongType, false), StructField("cust", IntegerType, false)))
  protected val model = new Dense(rows, i => Gen.v0(seed, i.toLong))
  protected var table: GraftTable = _
  protected val loc: String = location(tableName)
  protected val name = s"$catalog.$tableName"

  def main: GraftTable = table
  def rowWidth: Int = 8 + 8 + 4

  protected def load(): Unit = {
    val data = spark.range(0L, rows.toLong, 1L, cpus).select(col("id"),
      Gen.v0Col(seed, "id").as("v"), (col("id") % 64).cast(IntegerType).as("cust"))
    table = GraftTable.create(spark, loc, tableName, schema, Seq("id"),
      Seq(HashComponent(Seq("id"), buckets)), data = Some(data))
  }

  protected def row(id: Long, v: Long): Row = Row(id, v, Gen.cust(id))

  private def want(id: Long): Seq[Seq[Any]] = model.get(id).map(v => Seq(v, Gen.cust(id))).toSeq

  protected def get(id: Long): Op =
    Op("get", "get", () => env.sql(s"SELECT v, cust FROM $name WHERE id = $id"),
      check = res => Op.rows(res) == want(id))

  def scanApiGet(): Op = {
    val id = (rng.nextDouble() * rows).toLong
    Op("get", "scan_api", () => table.scan().where(col("id") === id).select("v", "cust").collect(),
      check = res => Op.rows(res) == want(id))
  }

  def finalCheck(): Seq[String] = countSumCheck(name, model.live, model.sum)
}

/**
 * olap_clean / olap_mor — a hash-partitioned table read through SQL by a
 * unit of 40: 16 PK gets, 8 sums over 1,000 consecutive PKs, 6
 * ~0.1%-selective counts on a non-key column, 6 group-bys, 4 count(*).
 * With `backlog` > 0 the set-up leaves that many commits of `backlogKeys`
 * keys (every fifth a delete, the rest upserts) uncompacted, so every read
 * pays the merge-on-read overlay. Read-only while timed.
 */
final class Olap(env: Env, rows: Int, buckets: Int, backlog: Int, backlogKeys: Int)
    extends IdTable(env, rows, buckets, "facts") {
  import env._

  private val mix = new Mix(Seq(16, 8, 6, 6, 4))

  def tableDirs: Seq[String] = Seq(loc)
  def atBoundary: Boolean = mix.atStart

  def setup(): Seq[() => Op] = {
    load()
    (0 until backlog).foreach { c =>
      val ids = sample(rows, backlogKeys)
      if (c % 5 == 4) {
        val live = ids.filter(model.get(_).isDefined)
        table.delete(frame(StructType(schema.take(1)), live.map(Row(_))))
        live.foreach(model.remove)
      } else {
        val kv = ids.map(i => (i, rng.nextLong(Gen.VRange)))
        table.upsert(frame(schema, kv.map { case (i, v) => row(i, v) }))
        kv.foreach { case (i, v) => model.put(i, v) }
      }
    }
    Seq(() => get(), () => range(), () => agg())
  }

  private def get(): Op = get((rng.nextDouble() * rows).toLong)

  def next(): Op = mix.draw() match {
    case 0 => get()
    case 1 => range()
    case 2 => filter()
    case 3 => agg()
    case _ => count()
  }

  private def range(): Op = {
    val a = (rng.nextDouble() * (rows - 1000)).toLong
    val vs = (a to a + 999).flatMap(model.get)
    val want = Seq(Seq(vs.size.toLong, if (vs.isEmpty) null else vs.sum))
    Op("scan", "range", () => env.sql(s"SELECT count(*), sum(v) FROM $name WHERE id BETWEEN $a AND ${a + 999}"),
      check = res => Op.rows(res) == want)
  }

  private def filter(): Op = {
    val x = (Gen.VRange / 1000 * (0.5 + rng.nextDouble())).toLong
    Op("scan", "filter", () => env.sql(s"SELECT count(*) FROM $name WHERE v < $x"),
      check = res => Op.rows(res) == Seq(Seq(model.v.count(v => v != Dense.Dead && v < x).toLong)))
  }

  private def agg(): Op = {
    val x = rng.nextLong(Gen.VRange / 100)
    Op("scan", "agg", () => env.sql(
        s"SELECT cust, count(*), sum(v) FROM $name WHERE v >= $x GROUP BY cust"),
      check = { res =>
        val got = Op.rows(res).map(r => r.head.asInstanceOf[Int] -> (r(1), r(2))).toMap
        val cnt = new Array[Long](64)
        val sum = new Array[Long](64)
        var i = 0
        while (i < model.size) {
          val v = model.v(i)
          if (v != Dense.Dead && v >= x) { cnt(i % 64) += 1; sum(i % 64) += v }
          i += 1
        }
        val want = (0 until 64).filter(cnt(_) > 0).map(c => c -> (cnt(c), sum(c))).toMap
        got == want
      })
  }

  private def count(): Op =
    Op("scan", "count", () => env.sql(s"SELECT count(*) FROM $name"),
      check = res => Op.rows(res) == Seq(Seq(model.live)))
}

/**
 * htap_indexed — writes beside reads, plus a derived table: a
 * hash-partitioned table carries a SecondaryIndex on its non-key column
 * `v`. Each cycle upserts `batch` rows with fresh, unique `v`, refreshes
 * the index, looks one just-written value up through SQL (served by the
 * index rewrite), reads two just-written keys back by PK, and ends with
 * `maintain` on the base and the index. Each cycle is one unit of the mix
 * and starts with both tables compacted, so all units read alike.
 */
final class Htap(env: Env, rows: Int, buckets: Int, batch: Int)
    extends IdTable(env, rows, buckets, "orders") {
  import env._

  private var index: GraftTable = _
  private val idxLoc = location("orders_v_idx")
  // fresh values sit above every initial value, so each is unique
  private var fresh = Gen.VRange
  private var written: Seq[(Long, Long)] = Nil
  private var step = 0
  private val Cycle = 6 // upsert, refresh, lookup, get, get, maintain
  val ioBudget: Long = 64L << 20

  def tableDirs: Seq[String] = Seq(loc, idxLoc)

  def setup(): Seq[() => Op] = {
    load()
    index = SecondaryIndex.build(spark, table, "v", idxLoc, buckets)
    // two units: the refresh path is the slowest to warm up
    Seq.fill(2 * Cycle)(() => next())
  }

  def atBoundary: Boolean = step == 0

  def next(): Op = {
    val op = step match {
      case 0 => upsert()
      case 1 => refresh()
      case 2 => lookup()
      case 5 => maintain()
      case _ => get(pick()._1)
    }
    step = (step + 1) % Cycle
    op
  }

  private def upsert(): Op = {
    val kv = sample(rows, batch).map { i => fresh += 1; (i, fresh) }
    written = kv
    val df = frame(schema, kv.map { case (i, v) => row(i, v) })
    Op("commit", "upsert", () => table.upsert(df),
      applied = () => kv.foreach { case (i, v) => model.put(i, v) }, rows = kv.size)
  }

  private def refresh(): Op =
    Op("refresh", "refresh", () => SecondaryIndex.refresh(spark, index),
      check = _ == true)

  private def pick(): (Long, Long) = written((rng.nextDouble() * written.size).toInt)

  private def lookup(): Op = {
    val (id, v) = pick()
    Op("lookup", "lookup", () => env.sql(s"SELECT id, v FROM $name WHERE v = $v"),
      check = res => Op.rows(res) == Seq(Seq(id, v)))
  }

  private def maintain(): Op =
    Op("maintain", "maintain", () => { table.maintain(ioBudget); index.maintain(ioBudget) })

  override def finalCheck(): Seq[String] = {
    val idx = index.scan().count()
    super.finalCheck() ++
      (if (idx == model.live) Nil else Seq(s"index entries $idx != live rows ${model.live}"))
  }
}
