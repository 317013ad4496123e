package graft.streaming

import graft.etl.{RawChunk, RtcmPipeline, SparkTestSession, SyntheticRtcm}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{lit, timestamp_micros}
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end streaming landing: stream of framed chunks → decode →
  * foreachBatch parquet sink (packages + constellation-
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
    val framed = StreamingReplay.framed(corpus)
    val input = MemoryStream[RawChunk]
    val q = RtcmStreaming.startParquetSink(
      RtcmStreaming.decodeStream(input.toDS()), out, ckpt)
    try {
      framed.grouped(framed.size / 3 + 1).foreach { part =>
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
    val framed = StreamingReplay.framed(corpus)
    val input = MemoryStream[RawChunk]
    val q = RtcmStreaming.startJdbcSink(
      RtcmStreaming.decodeStream(input.toDS()), new RecordingJdbc.Factory, ckpt)
    try {
      framed.grouped(framed.size / 2 + 1).foreach { part =>
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

  test("writeDecodedBatchJdbc executes each package before its observations, 500 rows at most") {
    import graft.etl.{RecordingJdbc, Sinks}
    import spark.implicits._
    // one partition of 1200 frames: many package and observation
    // batches on one connection, with observation batches filling up
    // while a package batch is still pending
    val decoded = RtcmPipeline.decode(
      RtcmPipeline.frameChunks(spark.createDataset(SyntheticRtcm.corpus(2, 600)))).coalesce(1)
      .persist()
    try {
      RecordingJdbc.clear()
      Sinks.writeDecodedBatchJdbc(decoded, new RecordingJdbc.Factory)
      val execs = RecordingJdbc.execs.toArray(Array.empty[RecordingJdbc.Exec]).toSeq
      val pkgSql = Sinks.insertSql("rtcm_packages", Sinks.PackagesColumns, 1)
      val obsSql = Sinks.insertSql("observations", Sinks.ObservationsColumns, 1)
      val appends = execs.filter(e => e.sql == pkgSql || e.sql == obsSql)
      assert(appends.map(_.conn).distinct.size == 1)
      assert(appends.count(_.sql == pkgSql) >= 3 && appends.count(_.sql == obsSql) >= 3)
      assert(appends.forall(e => e.rows >= 1 && e.rows <= 500), appends.map(_.rows))
      // at every observation executeBatch, each package it references
      // was executed earlier
      val sent = scala.collection.mutable.Set.empty[Any]
      appends.foreach { e =>
        if (e.sql == pkgSql) sent ++= e.params.map(_.head)
        else e.params.foreach(r => assert(sent.contains(r.head), s"observation of ${r.head} first"))
      }
      assert(appends.filter(_.sql == pkgSql).map(_.rows).sum == decoded.count())
      assert(appends.filter(_.sql == obsSql).map(_.rows).sum ==
        RtcmPipeline.observations(decoded).count())
    } finally decoded.unpersist()
  }

  test("writeDecodedBatchJdbc binds the same rows whatever the batch's column order") {
    import graft.etl.{DecodedFrame, RecordingJdbc, Sinks}
    import spark.implicits._
    val decoded = RtcmPipeline.decode(
      RtcmPipeline.frameChunks(spark.createDataset(SyntheticRtcm.corpus(2, 64)))).persist()
    try {
      // top-level columns reversed, nested struct fields reversed too
      val reordered = decoded.selectExpr(
        "error",
        """CASE WHEN coordinates IS NULL THEN NULL ELSE named_struct(
          |  'antenna_height', coordinates.antenna_height, 'ecef_z', coordinates.ecef_z,
          |  'ecef_y', coordinates.ecef_y, 'ecef_x', coordinates.ecef_x) END AS coordinates""".stripMargin,
        """transform(observations, o -> named_struct(
          |  'obs_lock_time_indicator', o.obs_lock_time_indicator, 'obs_snr', o.obs_snr,
          |  'obs_doppler', o.obs_doppler, 'obs_phase', o.obs_phase, 'obs_code', o.obs_code,
          |  'sat_signal', o.sat_signal, 'sat_id', o.sat_id,
          |  'obs_epoch_micros', o.obs_epoch_micros)) AS observations""".stripMargin,
        "constellation", "rtcm_obs_epoch_micros", "rtcm_sat_count", "rtcm_msg_size",
        "rtcm_msg_type", "receive_micros", "mountpoint", "rtcm_package_id")
        .as[DecodedFrame]
      assert(reordered.schema.fieldNames.toSeq == decoded.schema.fieldNames.toSeq.reverse)
      // executes of concurrent partitions interleave: compare as multisets
      def landed(batch: org.apache.spark.sql.Dataset[DecodedFrame]): Seq[String] = {
        RecordingJdbc.clear()
        Sinks.writeDecodedBatchJdbc(batch, new RecordingJdbc.Factory)
        RecordingJdbc.execs.toArray(Array.empty[RecordingJdbc.Exec]).toSeq.flatMap(e =>
          e.params.map(r => e.sql + " <- " + r.map(v =>
            if (v == null) "null" else s"${v.getClass.getName}:$v").mkString("|"))).sorted
      }
      val straight = landed(decoded)
      assert(straight.exists(_.startsWith("INSERT INTO observations ")))
      assert(straight.exists(_.contains("ON CONFLICT")))
      assert(landed(reordered) == straight)
    } finally decoded.unpersist()
  }
}
