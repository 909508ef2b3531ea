package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.catalog.TableMeta
import graft.plans.ServingStats
import graft.table.MaintenanceScheduler

/** The graft scan's custom metrics, read off an executed plan. */
object Plans {
  val Keys = Seq("graftBaseFilesRead", "graftBaseFilesPruned", "graftDeltaFilesBroadcast",
    "graftDeltaFilesAttached", "graftDeltaFilesSpilled")

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  def scanMetrics(df: DataFrame): Map[String, Long] = {
    val ms = scans(df.queryExecution.executedPlan).map(_.metrics)
    Keys.map(k => k -> ms.flatMap(_.get(k)).map(_.value).sum).toMap
  }
}

/** One timed op as the harness saw it. `bytes`: bytes of files the op
  * added under the workload's table directories. */
final case class Rec(cls: String, template: String, traced: Boolean, ms: Double,
    gcMs: Long, rows: Long, bytes: Long, scan: Map[String, Long], served: Option[Boolean])

/**
 * Runs one workload: starts Spark, sets the workload up several times
 * (set-up time is their median), runs the closed-loop timed phase on the
 * last set-up, checks every answer against the workload's model, and
 * prints a report whose last line is the JSON result.
 *
 *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                   --work <dir> [--tiny] [--commit <sha>]
 *
 * With --trace 0 the result carries the end-to-end metrics. With --trace 1
 * every other op runs traced (spans around each layer call), the result
 * carries the per-layer metrics, and the two halves give the tracing
 * overhead.
 */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, work: String = "", tiny: Boolean = false,
      commit: String = "unknown")

  /** Set-ups in an untraced run; `setup_s` is their median (the first is JVM-cold). */
  val Setups = 3

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case "--tiny" :: t => parse(t, acc.copy(tiny = true))
    case "--commit" :: v :: t => parse(t, acc.copy(commit = v))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** Op classes that add files under the table directories. */
  val Writers = Set("commit", "refresh", "maintain")

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** (steal, total) CPU jiffies of the machine from /proc/stat; (0, 0)
    * where there is none. Steal is time the hypervisor gave this VM's
    * vCPUs to others: a run with a high share was slowed from outside. */
  def cpuJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: java.io.IOException => (0L, 0L) }

  def loadAvg: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toList)
    require(Workload.names.contains(args.workload),
      s"--workload must be one of ${Workload.names.mkString(", ")}")
    require(args.work.nonEmpty, "--work <dir> is required")
    val ok = new Main(args).run()
    sys.exit(if (ok) 0 else 1)
  }
}

final class Main(args: Main.Args) {
  import Main._

  // two task slots: on a 4-vCPU VM, local[4] left no core for the driver
  // thread, the JIT and GC, and its latencies spread twice as wide
  private val cpus = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors))
  private val work = Paths.get(args.work).toAbsolutePath
  private val load0 = loadAvg
  private val gc0 = gcMs
  private val started = System.nanoTime()

  private val spark = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName(s"graftbench-${args.workload}")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark").toString)
    .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
    // maintenance runs only where the workload calls it, at fixed op counts
    .config("graft.maintain.auto", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val sparkStartS = (System.nanoTime() - started) / 1e9
  private val tracer = new Tracer(spark)
  private val recs = ArrayBuffer[Rec]()
  private val manifestSamples = ArrayBuffer[(Double, Long, Int, Int)]() // ms, bytes, files, deltas
  private val problems = ArrayBuffer[String]()
  private var attempted = 0
  private var failed = 0
  private var aborted = false

  /** Path → size of every file under the workload's tables, as last seen. */
  private val known = mutable.Map[String, Long]()

  private def walk(dirs: Seq[String]): Map[String, Long] =
    dirs.filter(d => Files.exists(Paths.get(d))).flatMap { d =>
      val s = Files.walk(Paths.get(d))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }.toMap

  /** Bytes of files that appeared since the last call. It runs after
    * each timed op that writes, so each op is charged its own files. */
  private def newBytes(dirs: Seq[String]): Long = {
    val now = walk(dirs)
    val added = now.iterator.filterNot(kv => known.contains(kv._1)).map(_._2).sum
    known.clear()
    known ++= now
    added
  }

  private def servedCount: Long = ServingStats.snapshot(spark).map(_._2.serves).sum

  /** Run one op; `timed` ops are recorded and counted, all ops are checked
    * (a failed warm-up op still makes the run incorrect). */
  private def exec(wl: Workload, env: Env, op: Op, timed: Boolean, traced: Boolean): Unit = {
    if (timed) attempted += 1
    val served0 = if (traced && op.cls == "lookup") servedCount else 0L
    env.lastScan = Map.empty
    tracer.on = traced
    val g0 = gcMs
    val t0 = System.nanoTime()
    val result =
      try Right(tracer.op(op.cls)(op.call()))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val gc = gcMs - g0
    tracer.on = false
    result match {
      case Left(e) =>
        if (timed) failed += 1
        problems += s"${op.template} threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        // a mutation that threw leaves the table state unknown to the model
        if (op.cls == "commit" || op.cls == "maintain") aborted = true
      case Right(r) =>
        op.applied()
        if (!op.check(r)) {
          if (timed) failed += 1
          problems += s"${op.template} returned a wrong answer"
        } else if (timed) {
          val bytes = if (Writers(op.cls)) newBytes(wl.tableDirs) else 0L
          val served = if (traced && op.cls == "lookup") Some(servedCount > served0) else None
          recs += Rec(op.cls, op.template, traced, ms, gc, op.rows, bytes, env.lastScan, served)
          System.err.println(f"op ${recs.size}%d ${op.template}%s traced=$traced%s ${ms}%.1f ms gc=$gc%d")
          if (traced) sampleManifest(wl)
        }
    }
  }

  /** Traced runs time a manifest read of the main table after each op. */
  private def sampleManifest(wl: Workload): Unit = {
    tracer.on = true
    val t0 = System.nanoTime()
    val m = tracer.span("catalog.manifest_read")(TableMeta.readCurrent(wl.main.location))
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.on = false
    val bytes = Files.size(Paths.get(wl.main.location, "_graft", s"v${m.version}.json"))
    manifestSamples += ((ms, bytes, m.baseFiles.size + m.deltaFiles.size, m.deltaFiles.size))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def run(): Boolean = {
    val setupSecs = ArrayBuffer[Double]()
    val loadSecs = ArrayBuffer[Double]()
    var wl: Workload = null
    var env: Env = null
    val nSetups = if (args.trace) 1 else Setups
    try {
      for (k <- 0 until nSetups) {
        if (wl != null) {
          MaintenanceScheduler.clearAuto()
          deleteTree(Paths.get(env.warehouse))
        }
        val wh = work.resolve(s"wh-$k")
        Files.createDirectories(wh)
        val catalog = s"gb$k"
        spark.conf.set(s"spark.sql.catalog.$catalog", classOf[graft.sources.v2.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", wh.toString)
        env = new Env(spark, catalog, wh.toString, args.seed, cpus, tracer)
        wl = Workload(args.workload, env, args.tiny)
        val t0 = System.nanoTime()
        val warmups = wl.setup()
        loadSecs += (System.nanoTime() - t0) / 1e9
        warmups.foreach(mk => exec(wl, env, mk(), timed = false, traced = false))
        setupSecs += (System.nanoTime() - t0) / 1e9
      }
      newBytes(wl.tableDirs)
      val bytesAfterSetup = known.values.sum

      // timed phase: one closed-loop client. A traced run traces every
      // other op and flips the phase at each unit, so that each op kind of
      // an even-length unit (htap_indexed's cycle) is traced in some units.
      val cpu0 = cpuJiffies
      val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
      var i = 0
      var unit = 0
      while ((System.nanoTime() < deadline || !wl.atBoundary) && !aborted) {
        if (i > 0 && wl.atBoundary) unit += 1
        exec(wl, env, wl.next(), timed = true, traced = args.trace && (i + unit) % 2 == 0)
        i += 1
      }
      val timedS = (System.nanoTime() - deadline) / 1e9 + args.seconds
      val cpu1 = cpuJiffies
      val stealPct = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)
      newBytes(wl.tableDirs)
      val bytesAtEnd = known.values.sum

      val scanApiMs = ArrayBuffer[Double]()
      if (args.trace) (0 until 3).foreach { _ =>
        val op = wl.scanApiGet()
        tracer.on = true
        val t0 = System.nanoTime()
        val r = tracer.span("table.scan_api")(op.call())
        scanApiMs += (System.nanoTime() - t0) / 1e6
        tracer.on = false
        if (!op.check(r)) problems += "scan_api get returned a wrong answer"
      }
      if (!aborted) problems ++= wl.finalCheck()
      tracer.finish()

      val load1 = loadAvg
      val report = new Report(recs.toSeq, tracer, manifestSamples.toSeq, scanApiMs.toSeq,
        bytesAfterSetup, bytesAtEnd, wl)
      val stamps = Seq("workload" -> Stats.str(args.workload), "seed" -> args.seed.toString,
        "trace" -> (if (args.trace) "1" else "0"), "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "spark_cpus" -> cpus.toString, "max_heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
        "loadavg_start" -> Stats.num(load0), "loadavg_end" -> Stats.num(load1),
        "gc_ms" -> (gcMs - gc0).toString, "commit" -> Stats.str(args.commit),
        "spark_start_s" -> Stats.num(sparkStartS),
        "setups_s" -> setupSecs.map(Stats.num).mkString("[", ", ", "]"),
        "setup_loads_s" -> loadSecs.map(Stats.num).mkString("[", ", ", "]"),
        "timed_s" -> Stats.num(timedS), "steal_pct_timed" -> Stats.num(stealPct),
        "bytes_after_setup" -> bytesAfterSetup.toString)
      println("stamps " + Stats.obj(stamps))
      problems.take(20).foreach(p => println(s"problem $p"))
      if (args.trace) {
        val f = work.getParent.resolve(s"spans-${args.workload}-${args.seed}.jsonl")
        Files.write(f, (Stats.obj(stamps) +: tracer.lines).asJava)
        println(s"spans ${tracer.spans.size} written to $f")
      }
      val metrics =
        if (args.trace) report.perLayer
        else {
          report.print(Stats.median(setupSecs.toSeq), attempted, failed)
          report.endToEnd(Stats.median(setupSecs.toSeq))
        }
      val correct = problems.isEmpty && !aborted && attempted > 0 && recs.nonEmpty
      println(Stats.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Stats.obj(metrics.map { case (k, (v, unit)) =>
          k -> Stats.obj(Seq("value" -> Stats.num(v), "unit" -> Stats.str(unit))) }))))
      correct
    } finally {
      MaintenanceScheduler.clearAuto()
      spark.stop()
      (0 until nSetups).foreach(k => deleteTree(work.resolve(s"wh-$k")))
    }
  }
}
