package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, IntegerLiteral, InterpretedUnsafeProjection, Predicate, SubqueryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, ReturnAnswer, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.metric.SQLMetrics

import graft.sources.v2.GraftV2Scan
import graft.table.GraftTable

/**
 * Point reads with no Spark job. Kudu answers a point lookup inside the
 * tablet, with no distributed job (the presence check `BulkCheckPresence`,
 * tablet/tablet.cc:1148); here a query that one task would answer is read
 * on the driver. [[InlineReads]] wraps an eligible optimized root in the
 * [[InlineRead]] marker, [[InlineReadStrategy]] plans the marker as
 * [[InlineReadExec]] over the unchanged physical plan, and the exec's
 * `executeCollect`/`executeTake` read the scan's splits through the
 * scan's own reader factory, then apply the root's filter, projection and
 * limit. Every other action (`doExecute`: `rdd`, writes, caching, local
 * iterators) runs the child's job exactly as without the marker, and the
 * scan node stays in the executed plan with its driver metrics and output
 * row count. Data is read only at execution, never by the optimizer or an
 * EXPLAIN.
 *
 * Eligible, all observable from the plan and the manifest:
 *  - the root is a chain of Project, Filter and Limit over ONE
 *    `DataSourceV2ScanRelation` of a [[GraftV2Scan]];
 *  - its expressions are deterministic and evaluate on the driver (no
 *    subquery, no Python UDF);
 *  - at most one of the scan's input partitions holds files — the job
 *    would read in at most one task, so no parallelism is lost (a key
 *    grouping's other buckets only emit delta rows the driver already
 *    holds);
 *  - the scan's pruned base and delta bytes are at most
 *    `GraftTable.broadcastDeltaBytes`, the bound under which the engine
 *    already holds delta rows on the driver (`graft.mor.broadcastBytes`
 *    overrides it).
 * Aggregates, joins, multi-split and over-bound scans plan as before.
 */
case class InlineRead(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): InlineRead = copy(child = c)
}

object InlineReads extends Rule[LogicalPlan] {

  /** Inject the rule and its strategy into `spark` once; every read face
    * calls this (a catalog open, `GraftTable.read`). */
  def inject(spark: SparkSession): Unit =
    ServingRewrites.inject(spark, this, Seq(InlineReadStrategy))

  /** Runs after the serving rewrites (ServingRewrites keeps it last), so an
    * index or rollup serve is never pre-empted; a marker whose chain a
    * later rewrite changed into an ineligible one is dropped again. */
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case InlineRead(c) => if (eligible(c)) plan else c
    case p if eligible(p) => InlineRead(p)
    case p => p
  }

  private def eligible(p: LogicalPlan): Boolean =
    !p.isStreaming && scanOf(p).exists(s =>
      s.opensAtMost(GraftTable.broadcastDeltaBytes) &&
        s.planInputPartitions().count {
          case f: FilePartition => f.files.nonEmpty
          case _ => true
        } <= 1)

  /** The graft scan under a Project/Filter/Limit chain whose expressions
    * all evaluate on the driver. */
  private def scanOf(p: LogicalPlan): Option[GraftV2Scan] = p match {
    case Project(list, c) if list.forall(driverEvaluable) => scanOf(c)
    case Filter(cond, c) if driverEvaluable(cond) => scanOf(c)
    case GlobalLimit(IntegerLiteral(_), c) => scanOf(c)
    case LocalLimit(IntegerLiteral(_), c) => scanOf(c)
    case DataSourceV2ScanRelation(_, s: GraftV2Scan, _, _, _) => Some(s)
    case _ => None
  }

  private[graft] def driverEvaluable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case _: Attribute => false
      case _: SubqueryExpression | _: Unevaluable => true // Python UDFs are unevaluable
      case _ => false
    }

  /** `chain`'s rows over the rows its scan reads (in the scan's output
    * order). Projections reuse their output row: consume each row before
    * the next, and copy what is kept. Evaluation is interpreted — a point
    * read's few rows never pay a code compile per literal. */
  private[plans] def evaluate(chain: LogicalPlan,
      scanRows: Iterator[InternalRow]): Iterator[InternalRow] = chain match {
    case Project(list, c) =>
      val project = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(list, c.output))
      evaluate(c, scanRows).map(project)
    case Filter(cond, c) =>
      val keep = Predicate.createInterpreted(BindReferences.bindReference(cond, c.output))
      keep.initialize(0)
      evaluate(c, scanRows).filter(keep.eval)
    case GlobalLimit(IntegerLiteral(n), c) => evaluate(c, scanRows).take(n)
    case LocalLimit(IntegerLiteral(n), c) => evaluate(c, scanRows).take(n)
    case _: DataSourceV2ScanRelation => scanRows
  }

  /** The rows of `splits`, read through `factory` on the driver one split
    * after another (columnar where `columnar` says so), as one iterator
    * handed to `consume`; every reader opened is closed when `consume`
    * returns. `counted` sees the number of rows read. Rows may reuse
    * buffers: consume each before the next, and copy what is kept. The
    * one driver reader of a V2 scan: point reads ([[InlineReadExec]]) and
    * keyed reads (GraftTable.readByKeys) both read through it. */
  private[graft] def readSplits[A](factory: PartitionReaderFactory,
      splits: Seq[InputPartition], columnar: InputPartition => Boolean,
      counted: Long => Unit = _ => ())(consume: Iterator[InternalRow] => A): A = {
    val open = scala.collection.mutable.ArrayBuffer[PartitionReader[_]]()
    val rows = splits.iterator.flatMap { p =>
      if (columnar(p)) {
        val r = factory.createColumnarReader(p)
        open += r
        Iterator.continually(r).takeWhile(_.next()).flatMap { x =>
          val b = x.get()
          counted(b.numRows())
          b.rowIterator().asScala
        }
      } else {
        val r = factory.createReader(p)
        open += r
        Iterator.continually(r).takeWhile(_.next()).map { x => counted(1); x.get() }
      }
    }
    try consume(rows) finally open.foreach(_.close())
  }
}

/** Plans the marker at the root as [[InlineReadExec]] over exactly the
  * plan Spark would have made for its child at the root (a root LIMIT
  * still plans as a collect limit); anywhere else the marker is
  * transparent. */
object InlineReadStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(InlineRead(c)) => InlineReadExec(c, planLater(ReturnAnswer(c))) :: Nil
    case InlineRead(c) => planLater(c) :: Nil
    case _ => Nil
  }
}

/** Collects `chain` on the driver; executes as `child`. */
case class InlineReadExec(chain: LogicalPlan, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override def simpleString(maxFields: Int): String = nodeName
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def executeCollect(): Array[InternalRow] = read(Int.MaxValue)
  override def executeTake(n: Int): Array[InternalRow] = read(n)
  override protected def withNewChildInternal(c: SparkPlan): InlineReadExec = copy(child = c)

  /** At most `n` result rows, read from the scan's splits on the
    * driver ([[InlineReads.readSplits]]). Building the scan node's input
    * RDD (no job) posts the scan's driver metrics as the job path does;
    * its partitions are the splits a task would read. The rows read are
    * counted on the node's output row metric. */
  private def read(n: Int): Array[InternalRow] = {
    val scan = child.collectFirst { case b: BatchScanExec => b }.get
    val splits = scan.inputRDD.partitions.toSeq.flatMap {
      case p: DataSourceRDDPartition => p.inputPartitions
      case _ => Nil // runtime filtering removed every split
    }
    val numOut = scan.metrics("numOutputRows")
    val toUnsafe = InterpretedUnsafeProjection.createProjection(
      BindReferences.bindReferences(chain.output, chain.output))
    InlineReads.readSplits(scan.readerFactory, splits, _ => scan.supportsColumnar,
        numOut.add) { rows =>
      val out = InlineReads.evaluate(chain, rows).take(n)
        .map(r => toUnsafe(r).copy(): InternalRow).toArray
      SQLMetrics.postDriverMetricUpdates(sparkContext,
        sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(numOut))
      out
    }
  }
}
