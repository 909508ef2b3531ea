package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. Times are epoch milliseconds (fractional),
  * on the same clock as the scheduler's job events. Job, stage, task and
  * shuffle counts are this span's own: work started while it was the
  * innermost span. */
final class Span(val id: Long, val name: String, val parent: Long,
    val opId: Long, val start: Double) {
  var end: Double = start
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  /** [start, end] of each job this span started, epoch ms. */
  val jobIntervals = ArrayBuffer[(Double, Double)]()
  def ms: Double = end - start
}

/**
 * Spans around the benchmark's calls into each engine layer. The client
 * thread tags every call with a Spark local property carrying the span id;
 * a listener attributes each job (and its stages and tasks) to the span
 * that was innermost when the job was submitted. Spans stay in memory and
 * are aggregated and written out when the run ends. When `on` is false a
 * span is just its body.
 */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  private def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val stack = scala.collection.mutable.Stack[Span]()
  private var nextId = 0L
  private var opId = 0L

  // job/stage → span, filled asynchronously by the listener
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStartMs = new ConcurrentHashMap[Int, Double]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .flatMap(id => Option(byId.get(id.toLong))).foreach { s =>
          s.synchronized(s.jobs += 1)
          jobSpan.put(e.jobId, s)
          jobStartMs.put(e.jobId, e.time.toDouble)
          e.stageIds.foreach(stageSpan.put(_, s))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { s =>
        s.synchronized(s.jobIntervals += ((jobStartMs.get(e.jobId), e.time.toDouble)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => s.synchronized(s.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.synchronized {
          s.tasks += 1
          s.taskMs += e.taskInfo.duration
          Option(e.taskMetrics).foreach(m => s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten)
        }
      }
  }
  sc.addSparkListener(listener)

  /** Start a new op: its root span is `op.<cls>`, and every span inside
    * shares its op id. */
  def op[T](cls: String)(body: => T): T = {
    opId += 1
    span(s"op.$cls")(body)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val s = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L), opId, nowMs)
      byId.put(s.id, s)
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack.pop()
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listener has seen every event, then stop listening. */
  def finish(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** The span and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Span time not covered by its direct children. */
  def selfMs(s: Span): Double =
    s.ms - coveredMs(s, children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))

  /** Span time during which none of its (or its descendants') jobs ran:
    * the driver-side share of the call. */
  def driverMs(s: Span): Double =
    s.ms - coveredMs(s, subtree(s).flatMap(_.jobIntervals))

  def jobs(s: Span): Int = subtree(s).map(_.jobs).sum
  def stages(s: Span): Int = subtree(s).map(_.stages).sum
  def tasks(s: Span): Int = subtree(s).map(_.tasks).sum
  def taskMs(s: Span): Long = subtree(s).map(_.taskMs).sum
  def shuffleBytes(s: Span): Long = subtree(s).map(_.shuffleBytes).sum

  /** Spans as JSON lines. */
  def lines: Seq[String] = spans.toSeq.map { s =>
    Stats.obj(Seq("id" -> s.id.toString, "name" -> Stats.str(s.name),
      "parent" -> s.parent.toString, "op" -> s.opId.toString,
      "start_ms" -> Stats.num(s.start), "end_ms" -> Stats.num(s.end),
      "self_ms" -> Stats.num(selfMs(s)), "jobs" -> s.jobs.toString,
      "stages" -> s.stages.toString, "tasks" -> s.tasks.toString,
      "task_ms" -> s.taskMs.toString, "shuffle_bytes" -> s.shuffleBytes.toString))
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  /** Length of the union of `intervals`, clipped to the span. */
  def coveredMs(s: Span, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
