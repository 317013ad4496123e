package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's observers, registered from outside the engine:
  *
  *  - a `SparkListener` attributes jobs, stages and task metrics to the
  *    layer that submitted them, read from the `perfbench.layer` local
  *    property the benchmark sets around its own calls;
  *  - a `StreamingQueryListener` keeps every `StreamingQueryProgress`;
  *  - a `QueryExecutionListener` on the dashboard session sums Catalyst
  *    phase time per executed panel query.
  *
  * Only work that starts inside the measured window counts. */
final class Trace {
  @volatile var windowStartMs: Long = Long.MaxValue
  @volatile var windowEndMs: Long = Long.MaxValue
  private def inWindow(t: Long) = t >= windowStartMs && t < windowEndMs

  final class Acc {
    var jobs = 0L
    var stages = 0L
    var taskMs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var peakExecBytes = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
  }
  val byLayer = new ConcurrentHashMap[String, Acc]()
  private def acc(layer: String): Acc = byLayer.computeIfAbsent(layer, _ => new Acc)
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  /** numTasks of every source-scan stage (a stage over a DataSourceRDD). */
  val sourceScanTasks = mutable.ArrayBuffer.empty[Int]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  var planMs = 0L
  var queryExecutions = 0L

  private def layerOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("perfbench.layer"))).getOrElse("other")

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (inWindow(e.time)) {
      val l = layerOf(e.properties)
      acc(l).synchronized(acc(l).jobs += 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      if (inWindow(t)) {
        val l = layerOf(e.properties)
        stageLayer.put(e.stageInfo.stageId, l)
        acc(l).synchronized(acc(l).stages += 1)
        if (e.stageInfo.rddInfos.exists(_.name.contains("DataSourceRDD")))
          sourceScanTasks.synchronized(sourceScanTasks += e.stageInfo.numTasks)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val l = stageLayer.get(e.stageId)
      val m = e.taskMetrics
      if (l != null && m != null) {
        val a = acc(l)
        a.synchronized {
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakExecBytes = math.max(a.peakExecBytes, m.peakExecutionMemory)
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val t = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      if (inWindow(t) && e.progress.numInputRows > 0) progress.synchronized(progress += e)
    }
  }

  def queryListener(dashboard: SparkSession): QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if ((qe.sparkSession eq dashboard) && inWindow(System.currentTimeMillis())) synchronized {
        queryExecutions += 1
        planMs += qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.streams.removeListener(streamingListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def totals: Acc = {
    val t = new Acc
    byLayer.values.asScala.foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.taskMs += a.taskMs; t.gcMs += a.gcMs
      t.spillBytes += a.spillBytes; t.peakExecBytes = math.max(t.peakExecBytes, a.peakExecBytes)
      t.inputBytes += a.inputBytes; t.shuffleBytes += a.shuffleBytes
    }
    t
  }
}
