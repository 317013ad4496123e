package graft.etl

import graft.rtcm._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The specs' shared session. Unlike `graft.GraftSession` it loads no
  * `GraftExtensions`, on purpose: `TopKRewriteSpec` builds its reference
  * window plan with the rewrite rule absent, and `AsOfJoinSpec`'s
  * "column pruning shrinks the merge node" is the only test of
  * `AsOfJoin.ensureStrategy`'s self-heal path, which an extensions
  * session would never take. */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def decodedCorpus = {
    import spark.implicits._
    val chunks = spark.createDataset(SyntheticRtcm.corpus(2, 64))
    RtcmPipeline.decode(RtcmPipeline.frameChunks(chunks)).persist()
  }

  test("end-to-end: chunked corpus → frames → packages/observations/coordinates") {
    val d = decodedCorpus
    try {
      val pkgs = RtcmPipeline.packages(d)
      // every generated frame survives framing + decode (2 mounts × 64)
      assert(pkgs.count() == 128)
      assert(pkgs.filter("rtcm_msg_type = -1").count() == 0) // no dead letters
      // distributed framing matches a single-threaded reference fold
      val local = SyntheticRtcm.corpus(2, 64).groupBy(_.mountPoint).map { case (m, cs) =>
        var st = RtcmFraming.emptyState
        var n = 0
        cs.sortBy(_.seq).foreach { c =>
          val (s2, fs) = RtcmFraming.feed(st, c.data); st = s2; n += fs.size
        }
        m -> n
      }
      assert(local.values.sum == 128)

      val obs = RtcmPipeline.observations(d)
      assert(obs.count() > 0)
      // only MSM5/MSM7 expand; constellations routed correctly
      val types = obs.select("rtcm_msg_type").distinct().collect().map(_.getInt(0)).toSet
      assert(types.forall(t => t % 10 == 5 || t % 10 == 7))
      val consts = obs.select("constellation").distinct().collect().map(_.getString(0)).toSet
      assert(consts == Set("GPS", "GLONASS", "GALILEO"))
      // sat ids carry the constellation prefix
      val badIds = obs.filter(
        "(constellation = 'GPS' AND substring(sat_id,1,1) <> 'G') OR " +
        "(constellation = 'GLONASS' AND substring(sat_id,1,1) <> 'R') OR " +
        "(constellation = 'GALILEO' AND substring(sat_id,1,1) <> 'E')").count()
      assert(badIds == 0)

      // coordinates: latest-per-mountpoint dedup leaves one row per mount
      val latest = RtcmPipeline.latestCoordinates(d)
      assert(latest.count() == 2)
    } finally d.unpersist()
  }

  test("decodeOne produces a dead-letter row for a valid-CRC junk payload") {
    // CRC-valid frame whose payload decodes to a message type with
    // structural junk: claim MSM 1077 with truncated body
    val w = new BitWriter
    w.uint(1077, 12).uint(1, 12).uint(5, 8) // far too short for an MSM header
    val frame = RtcmEncoder.frame(w.toBytes)
    val out = RtcmPipeline.decodeOne(EncodedFrame("M", 0L, frame))
    assert(out.error.isDefined)
    assert(out.rtcm_msg_type == -1)
  }

  test("package ids are deterministic and distinct across frames") {
    val d = decodedCorpus
    try {
      val ids = d.select("rtcm_package_id").collect().map(_.getLong(0))
      assert(ids.distinct.length == ids.length)
      val d2 = {
        import spark.implicits._
        val chunks = spark.createDataset(SyntheticRtcm.corpus(2, 64))
        RtcmPipeline.decode(RtcmPipeline.frameChunks(chunks))
      }
      val ids2 = d2.select("rtcm_package_id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq == ids2.sorted.toSeq)
    } finally d.unpersist()
  }
}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("watermarked streaming window aggregates equal the batch dashboard queries") {
    import graft.queries.Q
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    import spark.implicits._
    // live path: reader-side framing -> decode -> watermarked
    // event-time windows, replayed across four micro-batch boundaries;
    // batch path: the same corpus through the batch pipeline + Q.bucket.
    // 400 frames/mount ≈ 150 s of 0.5 s-cadence chunk time — several
    // 30 s/60 s windows per mount, so window close is exercised both
    // mid-stream and at the flush
    val corpus = SyntheticRtcm.corpus(3, 400)
    val batchPkgs = RtcmPipeline.packages(
      RtcmPipeline.decode(RtcmPipeline.frameChunks(spark.createDataset(corpus)))).persist()
    try {
      def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq).toSet

      val gapStream = graft.streaming.StreamingReplay.run(spark, corpus, 4)(in =>
        graft.streaming.DashboardStreams.gapHeatmap(
          graft.streaming.RtcmStreaming.decodeStream(in)))
        .filter(col("mountpoint") =!= graft.streaming.StreamingReplay.FlushMount)
      val gapBatch = batchPkgs.filter(col("rtcm_obs_epoch").isNotNull)
        .groupBy(Q.bucket(col("receive_time"), 30).as("bucket"), col("mountpoint"))
        .agg(count(lit(1)).as("n"))
      assert(canon(gapStream) == canon(gapBatch))
      // real multi-window output: ≥3 closed 30 s windows per mountpoint
      assert(gapStream.count() >= 9)

      val rateStream = graft.streaming.StreamingReplay.run(spark, corpus, 4)(in =>
        graft.streaming.DashboardStreams.rateTimeseries(
          graft.streaming.RtcmStreaming.decodeStream(in)))
        .filter(col("mountpoint") =!= graft.streaming.StreamingReplay.FlushMount)
      val rateBatch = batchPkgs.filter(col("rtcm_sat_count").isNotNull)
        .groupBy(Q.bucket(col("receive_time"), 60).as("bucket"), col("mountpoint"))
        .agg(round(sum(col("rtcm_sat_count")).cast(DoubleType) / 60, 6)
          .cast(DecimalType(18, 6)).cast(DoubleType).as("rate"))
      assert(canon(rateStream) == canon(rateBatch))

      val flowStream = graft.streaming.StreamingReplay.run(spark, corpus, 4)(in =>
        graft.streaming.DashboardStreams.flowTimeseries(
          graft.streaming.RtcmStreaming.decodeStream(in)))
        .filter(col("mountpoint") =!= graft.streaming.StreamingReplay.FlushMount)
      val flowBatch = batchPkgs
        .groupBy(Q.bucket(col("receive_time"), 30).as("bucket"), col("mountpoint"))
        .agg(sum(col("rtcm_msg_size")).cast("long").as("bytes"),
          round(sum(col("rtcm_msg_size")).cast(DoubleType) / 30 / 8 / 1024, 9)
            .cast(DecimalType(18, 9)).cast(DoubleType).as("kbps"))
      assert(canon(flowStream) == canon(flowBatch))
    } finally batchPkgs.unpersist()
  }

  test("streaming window aggregates DROP data later than the watermark (stated policy)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = SyntheticRtcm.corpus(2, 64)
    val input = MemoryStream[RawChunk]
    val out = graft.streaming.DashboardStreams.gapHeatmap(
      graft.streaming.RtcmStreaming.decodeStream(input.toDS()), watermark = "2 minutes")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-late-ckpt")
    val q = out.writeStream.format("memory").queryName("late_drop_out")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      val maxT = corpus.map(_.receiveMicros).max
      // batch 1: the whole in-order corpus -> watermark = maxT - 2 min
      input.addData(graft.streaming.StreamingReplay.framed(corpus)
        .sortBy(c => (c.receiveMicros, c.mountPoint)))
      q.processAllAvailable()
      // batch 2: a frame 10 minutes OLDER than the watermark, on its
      // own mountpoint — its window closed long ago
      val (_, lateFrame) = SyntheticRtcm.framesFor("LATE01", 998, 1, 5L).head
      input.addData(RawChunk("LATE01", maxT - 600000000L - 120000000L, 0L, lateFrame))
      q.processAllAvailable()
      // flush: advance the watermark past every open window
      val (_, flushFrame) = SyntheticRtcm.framesFor("ZZFLUSH", 999, 1, 7L).head
      input.addData(RawChunk("ZZFLUSH", maxT + 600000000L, 0L, flushFrame))
      q.processAllAvailable()
      val got = spark.table("late_drop_out")
      // the late mountpoint's rows were dropped, not emitted late
      assert(got.filter(col("mountpoint") === "LATE01").count() == 0)
      // while the in-watermark corpus emitted normally
      assert(got.filter(col("mountpoint").startsWith("MNT")).count() > 0)
    } finally {
      q.stop()
      spark.catalog.dropTempView("late_drop_out")
    }
  }

  test("batch framing is order-restoring and streams per partition (no group buffering)") {
    import spark.implicits._
    // shuffled arrival order + byte-split chunks across many mounts:
    // the external secondary sort must restore per-mount seq order and
    // the lazy per-partition fold must produce exactly the sequential
    // reference result
    val corpus = SyntheticRtcm.corpus(6, 64)
    val shuffled = new scala.util.Random(13L).shuffle(corpus)
    val got = RtcmPipeline.frameChunks(spark.createDataset(shuffled).repartition(16))
      .collect()
      .map(f => (f.mountPoint, f.frame.toSeq))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = corpus.groupBy(_.mountPoint).map { case (m, cs) =>
      var st = graft.rtcm.RtcmFraming.emptyState
      val frames = cs.sortBy(_.seq).flatMap { c =>
        val (s2, fs) = graft.rtcm.RtcmFraming.feed(st, c.data)
        st = s2
        fs
      }
      m -> frames.map(_.toSeq).toSet
    }
    assert(got == expected)
    assert(got.values.map(_.size).sum == 6 * 64)
  }
}
