package graft.streaming

import graft.etl.{RawChunk, RtcmPipeline, SparkTestSession, SyntheticRtcm}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{lit, timestamp_micros}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming landing: chunk stream → stateful framing →
  * decode → foreachBatch parquet sink (packages + constellation-
  * partitioned observations + coordinate log), across several
  * micro-batches with checkpointing.
  */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("startParquetSink lands all three tables across micro-batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString

    val corpus = SyntheticRtcm.corpus(2, 64)
    val input = MemoryStream[RawChunk]
    val q = RtcmStreaming.startParquetSink(
      RtcmStreaming.decodeStream(input.toDS()), out, ckpt)
    try {
      corpus.grouped(corpus.size / 3 + 1).foreach { part =>
        input.addData(part)
        q.processAllAvailable()
      }
    } finally q.stop()

    val pkgs = spark.read.parquet(s"$out/rtcm_packages")
    assert(pkgs.count() == 128) // 2 mounts × 64 frames, across batches
    val obs = spark.read.parquet(s"$out/observations")
    assert(obs.count() > 0)
    // constellation is a physical partition column of the landed table
    assert(obs.schema.fieldNames.contains("constellation"))
    val dirs = new java.io.File(s"$out/observations").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.exists(_.startsWith("constellation=")))
    val coords = spark.read.parquet(s"$out/coordinates_log")
    assert(coords.count() > 0)

    // landed packages match the batch pipeline on the same corpus
    val batch = RtcmPipeline.packages(
      RtcmPipeline.decode(RtcmPipeline.frameChunks(spark.createDataset(corpus))))
    assert(pkgs.select("rtcm_package_id").collect().map(_.getLong(0)).sorted.toSeq ==
      batch.select("rtcm_package_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("startJdbcSink executes batched inserts and the coordinates upsert") {
    import graft.etl.{RecordingJdbc, Sinks}
    import graft.rtcm.{ArpMessage, RtcmEncoder}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    RecordingJdbc.clear()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_jdbc_ckpt").toString

    // one extra chunk carries two ARP fixes of MNT03 that share a
    // receive time (the tie latestCoordinates breaks by package id) and
    // is that mountpoint's latest chunk; the larger id comes first, so
    // "last fix in the stream wins" would pick the wrong one
    val base = SyntheticRtcm.corpus(3, 160)
    val last = base.filter(_.mountPoint == "MNT03").maxBy(_.seq)
    val tieMicros = last.receiveMicros + 500000L
    val tieFrames = Seq(
      RtcmEncoder.arpFrame(ArpMessage(1005, 102, 35000000001L, 9000000001L, 52000000001L, None)),
      RtcmEncoder.arpFrame(ArpMessage(1006, 102, 35000000002L, 9000000002L, 52000000002L,
        Some(15000L))))
      .sortBy(f => RtcmPipeline.packageId("MNT03", tieMicros, f))(Ordering[Long].reverse)
    val tie = RawChunk("MNT03", tieMicros, last.seq + 1, tieFrames.reduce(_ ++ _))
    val corpus = base :+ tie

    // Spark jobs per micro-batch, keyed by the batch id the stream
    // thread sets as a local property on every job it submits
    val jobsPerBatch = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val marker = s"sinkspec-${java.util.UUID.randomUUID()}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => jobsPerBatch.merge(b, Integer.valueOf(1),
            (a: Integer, c: Integer) => Integer.valueOf(a.intValue + c.intValue)))
        if (props.exists(p => p.getProperty("spark.job.description") == marker)) markerSeen = true
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val input = MemoryStream[RawChunk]
    val q = RtcmStreaming.startJdbcSink(
      RtcmStreaming.decodeStream(input.toDS()), new RecordingJdbc.Factory, ckpt)
    try {
      corpus.grouped(corpus.size / 2 + 1).foreach { part =>
        input.addData(part)
        q.processAllAvailable()
      }
    } finally q.stop()
    // listener events arrive in order: once a job submitted after the
    // query stopped is seen, every micro-batch job has been counted
    try {
      spark.sparkContext.setJobDescription(marker)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val batches = q.recentProgress.map(_.batchId.toString).toSet
    assert(batches.size >= 2)
    assert(jobsPerBatch.asScala.toMap == batches.map(_ -> Integer.valueOf(1)).toMap,
      "exactly one Spark job per writeDecodedBatchJdbc call")

    val execs = RecordingJdbc.execs.toArray(Array.empty[RecordingJdbc.Exec])
    val pkgSql = Sinks.insertSql("rtcm_packages", Sinks.PackagesColumns, 1)
    val obsSql = Sinks.insertSql("observations", Sinks.ObservationsColumns, 1)
    def rowsFor(table: String) =
      execs.filter(_.sql.startsWith(s"INSERT INTO $table ")).map(_.rows).sum

    // the executed inserts use EXACTLY the declared landed-table
    // schemas (the fake endpoint accepts any SQL, so column drift vs
    // the reference schema must be caught here)
    assert(execs.filter(_.sql.startsWith("INSERT INTO rtcm_packages ")).forall(_.sql == pkgSql))
    assert(execs.filter(_.sql.startsWith("INSERT INTO observations ")).forall(_.sql == obsSql))
    assert(execs.forall(_.rows <= 500))

    // every decoded frame landed exactly once as a package row
    val expected = RtcmPipeline.decode(
      RtcmPipeline.frameChunks(spark.createDataset(corpus)))
    assert(rowsFor("rtcm_packages") == expected.count())
    assert(rowsFor("observations") ==
      RtcmPipeline.observations(expected).count())

    // bound parameters are the values, and the value types, that
    // Spark's Row conversion of the table projections yields
    def typed(rows: Seq[Seq[Any]]): Seq[String] =
      rows.map(_.map(v => if (v == null) "null" else s"${v.getClass.getName}:$v").mkString("|"))
        .sorted
    def bound(sql: String) = typed(execs.filter(_.sql == sql).flatMap(_.params).toSeq)
    def projected(df: org.apache.spark.sql.DataFrame, cols: Seq[String]) =
      typed(df.selectExpr(cols: _*).collect().map(_.toSeq).toSeq)
    assert(bound(pkgSql) ==
      projected(RtcmPipeline.packages(expected), Sinks.PackagesColumns))
    assert(bound(obsSql) ==
      projected(RtcmPipeline.observations(expected), Sinks.ObservationsColumns))

    // on each connection, no observation row executes before the
    // package row it references
    execs.groupBy(_.conn).values.foreach { onConn =>
      val sent = scala.collection.mutable.Set.empty[Any]
      onConn.foreach { e =>
        if (e.sql == pkgSql) sent ++= e.params.map(_.head)
        else if (e.sql == obsSql) assert(e.params.forall(r => sent.contains(r.head)))
      }
    }

    // the upsert ran with the reference's ON CONFLICT shape, at most
    // once per micro-batch, and the upserted state (last write per mountpoint)
    // is latestCoordinates over the same frames — including the tie
    val upserts = execs.filter(_.sql.contains("ON CONFLICT (mountpoint) DO UPDATE"))
    assert(upserts.forall(_.sql ==
      Sinks.upsertSql("coordinates", Sinks.CoordinatesColumns, Seq("mountpoint"))))
    assert(upserts.nonEmpty && upserts.length <= batches.size)
    val upserted = upserts.flatMap(_.params).map(r => r.head -> r).toMap.values.toSeq
    val latest = RtcmPipeline.latestCoordinates(expected)
    assert(typed(upserted) == projected(latest, Sinks.CoordinatesColumns))
    val tieIds = RtcmPipeline.coordinates(expected)
      .filter($"mountpoint" === "MNT03" && $"receive_time" === timestamp_micros(lit(tieMicros)))
      .select("rtcm_package_id").as[Long].collect()
    assert(tieIds.length == 2)
    assert(latest.filter($"mountpoint" === "MNT03").select("rtcm_package_id").as[Long]
      .collect().toSeq == Seq(tieIds.max))
  }
}
