package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only measurement harness (guide §1): for each named query,
  * dump `.explain("formatted")` to plans/<tag>/<name>_<suffix>.txt and
  * time the noop-sink run with a per-job/stage breakdown on stderr.
  * Never part of the driver contract; Bench stays the only metric
  * surface. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Profiler <tag> <suffix> q1,q2,..."
  */
object Profiler {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 3) args(3).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // dev bisection knobs: PROF_CONF="key=value;key=value"
    sys.env.get("PROF_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    val dir = new java.io.File(s"plans/$tag")
    dir.mkdirs()
    // per-job timing listener
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (Option(js.properties.getProperty("spark.job.description")).getOrElse(""), System.nanoTime()))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val v = jobs.get(je.jobId)
        if (v != null)
          System.err.println(f"[prof-job] id=${je.jobId}%3d ${(System.nanoTime() - v._2) / 1e9}%7.3fs  ${v._1}")
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val d = (for { s <- si.submissionTime; c <- si.completionTime } yield (c - s) / 1e3).getOrElse(-1.0)
        val det = if (d > 2.0) " :: " + si.rddInfos.map(r => s"${r.id}:${r.name}").mkString(" | ") else ""
        stages.add(f"[prof-stage] ${si.stageId}%3d ${d}%7.3fs tasks=${si.numTasks}%3d ${si.name.take(90)}$det")
      }
    })
    // streaming-twin breakdown: per-micro-batch durationMs from the
    // StreamingQueryProgress (triggerExecution = wall per batch;
    // addBatch/queryPlanning/walCommit/commitOffsets/latestOffset/
    // getBatch are its components) — tells machinery latency apart
    // from job time for the replay gates
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs
          System.err.println(s"[prof-batch] id=${p.batchId} rows=${p.numInputRows} " +
            s"durationMs=${new java.util.TreeMap[String, java.lang.Long](d)}")
        }
      })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        stages.clear()
        spark.sparkContext.setJobDescription(s"$name rep$rep")
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        if (rep == 1) {
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"plans/$tag/${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
        }
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t1) / 1e9
        println(f"[prof] $name rep$rep build=$tBuild%.3f write=$dt%.3f total=${tBuild + dt}%.3f s")
        spark.sparkContext.setJobDescription(null)
        spark.sharedState.cacheManager.clearCache()
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.foreach(System.err.println)
      }
    }
    spark.stop()
  }
}
