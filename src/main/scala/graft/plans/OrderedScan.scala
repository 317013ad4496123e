package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, OrderedDistribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftshim.PlanDataFrame
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** What an [[OrderedScan]] runs over each non-empty partition of its
  * ordered child. A kernel reads the child's columns by position and
  * writes each output row with `out` (the returned row is reused). A
  * plain `ScanKernel` is a single pass whose carry is `()`. */
trait ScanKernel[C] extends Serializable {
  def emit(carry: C, rows: Iterator[InternalRow], out: UnsafeRowWriter): Iterator[InternalRow]
}

/** A two-pass kernel: pass 1 reduces each non-empty partition to a
  * bounded summary; `compose` turns the summaries, in scan order, into
  * one carry each. It runs on the driver before any pass-2 task, so a
  * bound it checks fails the query before a task buffers anything. */
trait TwoPassKernel[S, C] extends ScanKernel[C] {
  def summarize(rows: Iterator[InternalRow]): S
  def compose(summaries: IndexedSeq[S]): IndexedSeq[C]
}

/** An ordered scan as a plan node (custom-operator ladder (c), like
  * [[AsOfMergeLogical]] and [[DecodeFrames]]): the child's rows in
  * `ordering`, range-partitioned on it (partition order = scan order),
  * or hash-clustered on `clustering` when that is non-empty.
  * `EnsureRequirements` plans the exchange and the sort. The exec runs
  * pass 1 as one driver-synchronous job, composes on the driver, and
  * runs pass 2 over the same child RDD: the shuffle is written once and
  * read twice, the in-partition sort runs once per pass, driver state is
  * one summary per partition, and nothing is broadcast or cached.
  * `input` (the child's output) is a field so that column pruning
  * cannot drop a column the kernel reads by position. */
case class OrderedScan(
    input: Seq[Attribute],
    ordering: Seq[SortOrder],
    clustering: Seq[Attribute],
    kernel: ScanKernel[_],
    output: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): OrderedScan =
    copy(child = newChild)
}

object OrderedScan {
  /** `kernel` over the columns of `rows`, in ascending `orderBy`;
    * hash-clustered on `clusterBy` when non-empty, else
    * range-partitioned. The result has `schema`. */
  def over(rows: DataFrame, orderBy: Seq[String], kernel: ScanKernel[_], schema: StructType,
           clusterBy: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftExtensions.ensureStrategy(rows.sparkSession, OrderedScanStrategy)
    val child = rows.queryExecution.analyzed
    def attr(name: String): Attribute = child.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"OrderedScan input lacks column $name"))
    PlanDataFrame.ofRows(rows.sparkSession, OrderedScan(child.output,
      orderBy.map(n => SortOrder(attr(n), Ascending)), clusterBy.map(attr),
      kernel, DataTypeUtils.toAttributes(schema), child))
  }

  /** A schema of non-null long columns. */
  def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** Writes one row of long columns. */
  def row(out: UnsafeRowWriter, values: Long*): InternalRow = {
    out.reset()
    var i = 0
    while (i < values.length) { out.write(i, values(i)); i += 1 }
    out.getRow
  }
}

/** Plans [[OrderedScan]]; registered through GraftExtensions and
  * self-healed by [[OrderedScan.over]]. */
object OrderedScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case o: OrderedScan =>
      OrderedScanExec(o.input, o.ordering, o.clustering, o.kernel, o.output,
        planLater(o.child)) :: Nil
    case _ => Nil
  }
}

private[graft] case class OrderedScanExec(
    input: Seq[Attribute],
    ordering: Seq[SortOrder],
    clustering: Seq[Attribute],
    kernel: ScanKernel[_],
    output: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "pass1Time" -> SQLMetrics.createTimingMetric(sparkContext, "pass 1 and compose time"),
    "numComposed" -> SQLMetrics.createMetric(sparkContext, "partitions composed"))

  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def requiredChildDistribution: Seq[Distribution] =
    (if (clustering.isEmpty) OrderedDistribution(ordering)
     else ClusteredDistribution(clustering)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(ordering)
  override def outputPartitioning: Partitioning =
    UnknownPartitioning(child.outputPartitioning.numPartitions)

  protected override def doExecute(): RDD[InternalRow] = {
    // physical rules may drop a column-reordering projection below
    val rows = if (child.output == input) child.execute() else {
      val (in, childOut) = (input, child.output)
      child.execute().mapPartitions(it => it.map(UnsafeProjection.create(in, childOut)))
    }
    val carries: Map[Int, Any] = kernel match {
      case k: TwoPassKernel[_, _] => composeCarries(k, rows)
      case _ => null
    }
    val (k, width) = (kernel.asInstanceOf[ScanKernel[Any]], output.length)
    val (numIn, numOut) = (longMetric("numInputRows"), longMetric("numOutputRows"))
    rows.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else k.emit(if (carries == null) () else carries(pid),
        it.map { r => numIn += 1; r }, new UnsafeRowWriter(width)).map { r => numOut += 1; r }
    }
  }

  /** Pass 1 and the driver composition: each non-empty partition's carry. */
  private def composeCarries[S, C](k: TwoPassKernel[S, C], rows: RDD[InternalRow])
      : Map[Int, Any] = {
    val t0 = System.nanoTime()
    val summaries = rows.mapPartitionsWithIndex { (pid, it) =>
      if (it.hasNext) Iterator.single(pid -> k.summarize(it)) else Iterator.empty
    }.collect() // in partition order = scan order
    val carries = k.compose(summaries.toIndexedSeq.map(_._2))
    val (time, composed) = (longMetric("pass1Time"), longMetric("numComposed"))
    time += (System.nanoTime() - t0) / 1000000L
    composed += summaries.length.toLong
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(time, composed))
    summaries.iterator.map(_._1).zip(carries).toMap
  }

  override protected def withNewChildInternal(newChild: SparkPlan): OrderedScanExec =
    copy(child = newChild)
}
