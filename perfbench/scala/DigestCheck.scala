package perfbench

import graft.etl.{RawChunk, RtcmPipeline, Sinks, SyntheticRtcm}

/** Self-check of the landed-row digest and the counting endpoint; run
  * by perfbench/tests/test_digest.py. Exits non-zero on the first
  * failed check. */
object DigestCheck {
  private def check(ok: Boolean, what: String): Unit =
    if (!ok) { System.err.println(s"FAIL: $what"); sys.exit(1) }
    else println(s"ok: $what")

  private def ts(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  def main(args: Array[String]): Unit = {
    val day = Digest.DayMicros
    val t = 1704067200L * 1000000L + 3723456789L
    def obs(epoch: Long, sat: String, code: Double): Map[String, Any] = Map(
      "rtcm_package_id" -> 42L, "mountpoint" -> "MNT01", "constellation" -> "GPS",
      "obs_epoch" -> ts(epoch), "sat_id" -> sat, "sat_signal" -> "1C", "obs_code" -> code,
      "obs_phase" -> 1.5, "obs_doppler" -> null, "obs_snr" -> 40.0,
      "obs_lock_time_indicator" -> 7)
    def h(row: Map[String, Any]) = Digest.row(Digest.ObservationFields, row)

    check(h(obs(t, "G01", 2.0)) == h(obs(t + 3 * day, "G01", 2.0)),
      "an epoch enters modulo one day (the date comes from the receive clock)")
    check(h(obs(t, "G01", 2.0)) == h(obs(t, "G01", 2.0) + ("rtcm_package_id" -> 7L)),
      "the package id does not enter")
    check(h(obs(t, "G01", 2.0)) != h(obs(t + 1, "G01", 2.0)), "a 1 µs epoch change is seen")
    check(h(obs(t, "G01", 2.0)) != h(obs(t, "G02", 2.0)), "a satellite change is seen")
    check(h(obs(t, "G01", 2.0)) != h(obs(t, "G01", 2.0000000001)), "a last-bit value change is seen")
    val rows = Seq(obs(t, "G01", 1.0), obs(t, "G02", 2.0), obs(t, "G03", 3.0))
    check(rows.map(h).sum == rows.reverse.map(h).sum, "the digest ignores row order")
    check(rows.map(h).sum != (rows :+ rows.head).map(h).sum, "the digest counts a duplicate")

    // the endpoint folds exactly these hashes and logs cumulative acks
    Endpoint.reset()
    val cols = Sinks.ObservationsColumns
    val conn = Endpoint.Factory.connect()
    val st = conn.prepareStatement(Sinks.insertSql("observations", cols, 1))
    rows.foreach { r => cols.zipWithIndex.foreach { case (c, i) => st.setObject(i + 1, r(c)) }; st.addBatch() }
    st.executeBatch()
    val s = Endpoint.store
    check(s.observations == 3 && s.observationDigest == rows.map(h).sum,
      "the endpoint's observation digest equals the row hashes")
    val pk = conn.prepareStatement(Sinks.insertSql("rtcm_packages", Sinks.PackagesColumns, 1))
    def pkg(id: Long, mount: String) = Map[String, Any]("rtcm_package_id" -> id,
      "receive_time" -> ts(t), "mountpoint" -> mount, "rtcm_obs_epoch" -> ts(t),
      "rtcm_msg_type" -> 1077, "rtcm_msg_size" -> 120, "rtcm_sat_count" -> 6)
    Seq(pkg(1, "A"), pkg(2, "A"), pkg(3, "B")).foreach { r =>
      Sinks.PackagesColumns.zipWithIndex.foreach { case (c, i) => pk.setObject(i + 1, r(c)) }
      pk.addBatch()
    }
    pk.executeBatch()
    Seq(pkg(2, "A")).foreach { r =>
      Sinks.PackagesColumns.zipWithIndex.foreach { case (c, i) => pk.setObject(i + 1, r(c)) }
      pk.addBatch()
    }
    pk.executeBatch()
    check(s.duplicates == 1 && s.packageIds.size == 3, "a re-sent package id is a duplicate")
    check(s.ackLog.map(e => (e._2, e._3)) == Seq(("A", 2L), ("B", 1L), ("A", 3L)),
      "the ack log holds per-mount cumulative counts")

    // end to end: the streaming sink's digest of a corpus equals the
    // batch decode's, whatever the receive times
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val dir = java.nio.file.Files.createTempDirectory("digest-check")
      val chunks = SyntheticRtcm.chunksFor("MNT01", 101, 400, 5L)
      java.nio.file.Files.write(dir.resolve("MNT01.bin"), chunks.flatMap(_.data).toArray)
      Endpoint.reset()
      val shifted = chunks.map(c => c.copy(receiveMicros = c.receiveMicros + 17 * day + 12345))
      val decoded = RtcmPipeline.decode(RtcmPipeline.frameChunks(spark.createDataset(shifted)))
      Sinks.writeDecodedBatchJdbc(decoded, Endpoint.Factory)
      val landed = Endpoint.store
      val oracle = Engine.oracleJson(spark, dir, Seq("MNT01"))
      def field(k: String) = s""""$k": "([0-9a-f]+)"""".r.findFirstMatchIn(oracle).get.group(1)
      check(java.lang.Long.toHexString(landed.packageDigest) == field("package_digest"),
        "landed package digest equals the batch decode's")
      check(java.lang.Long.toHexString(landed.observationDigest) == field("observation_digest"),
        "landed observation digest equals the batch decode's")
      check(landed.packages == 400 && landed.duplicates == 0, "every frame landed once")
    } finally spark.stop()
  }
}
