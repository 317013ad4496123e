package graft

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Queries are forced through the noop sink — a bare count() would let
  * Catalyst prune the projections being measured (window/aggregate
  * columns the count doesn't need).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // measured path = the engine's default session
    val spark = GraftSession.local(cpus)

    // Warm the JVM/session (codegen, parquet footer reads) outside the
    // measured section — and RECORD the corpus row counts in the detail
    // artifact: a partially-regenerated SF dir (e.g. an only=events
    // gen_sf.py rerun leaving stale 100×-small fact tables) would
    // otherwise produce numbers that read as engine wins/regressions.
    // Round-9's committed t05/t11/t12/c02 sf10 re-measures were exactly
    // that artifact (documents was 5 k rows, not 500 k).
    val tableRows: Seq[(String, Long)] =
      Tables.names.map(n => n -> Tables.load(spark, sfDir, n).count())

    // SPARK_GRAFT_SKIP: comma-separated names excluded from this run
    // (used for queries whose CONTRACT is quadratic — d05 all-pairs —
    // at SFs where that's hours). Skips are reported, never silent.
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    // SPARK_GRAFT_ONLY: comma-separated allowlist for targeted scale
    // measurements (e.g. re-timing one query at sf10) — empty = all.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    // SPARK_GRAFT_WARM=1: run each query twice, report the second
    // (steady-state) time — separates per-query data work from one-off
    // scan-cache/JIT effects when analyzing data-bound SFs. Default
    // (driver runs) stays single-shot.
    val warm = sys.env.get("SPARK_GRAFT_WARM").contains("1")
    // SPARK_GRAFT_BEST=N: run each query N times, report the MINIMUM —
    // the warm best-of-N protocol the sf10 symmetric tables use (both
    // engines warm, best-of-3, ratios being the statistic that
    // transfers on this noisy VM). Overrides SPARK_GRAFT_WARM.
    val best = sys.env.get("SPARK_GRAFT_BEST").map(_.trim.toInt).filter(_ > 1)
    // Build-once artifacts (indexes, trained models): each one that a
    // query of this run reads is built fresh into its keyed dir and
    // charged to its own line, so the query lines below measure the
    // per-query work over the persisted artifact. Both count toward
    // the total: the session did both.
    val builds: Seq[(String, Double)] = SparkEntry.builds
      .filter(_.users.exists(n => !skip(n) && only.forall(_(n))))
      .map { b =>
        val t0 = System.nanoTime()
        b.build(spark, sfDir)
        b.metric -> (System.nanoTime() - t0) / 1e9
      }
    // Streaming-fold throughput (verdict r8 item 8): replay the events
    // table in event-time order through StreamingFunnel and
    // StreamingRetention (the WatermarkOrderedFold twins) and record
    // sustained events/s in the detail artifact — NOT in the seconds
    // totals (different unit; regressions are caught by the committed
    // per-round BENCH_DETAIL diff). Runs BEFORE the query loop so the
    // state-store/session is fresh. Bounded replay: ≤200k events
    // driver-side, the same memory-sink harness the specs use.
    val foldMetrics: Option[String] =
      if (skip("streaming_fold") || only.nonEmpty) None
      else try {
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val events = Tables.load(spark, sfDir, "events")
          .selectExpr("cast(ts as timestamp) as ts", "user_id", "event_type")
          .orderBy("ts").limit(200000)
          .as[(java.sql.Timestamp, Long, String)].collect()
        if (events.isEmpty) None else {
          def drive(run: org.apache.spark.sql.DataFrame =>
              org.apache.spark.sql.Dataset[_]): Double = {
            val input = org.apache.spark.sql.execution.streaming.runtime
              .MemoryStream[(java.sql.Timestamp, Long, String)]
            val q = run(input.toDF().toDF("ts", "user_id", "event_type"))
              .writeStream.outputMode("append").format("noop").start()
            val t0 = System.nanoTime()
            try {
              events.grouped(50000).foreach { chunk =>
                input.addData(chunk.toSeq)
                q.processAllAvailable()
              }
              val last = events.last._1.getTime
              input.addData((new java.sql.Timestamp(last + 86400000L), -1L, "flush"))
              q.processAllAvailable()
            } finally q.stop()
            events.length / ((System.nanoTime() - t0) / 1e9)
          }
          val f = drive(df => graft.streaming.StreamingFunnel.run(
            df, "ts", "10 minutes", 3600000L))
          val r = drive(df => graft.streaming.StreamingRetention.run(
            df, "ts", "10 minutes", 3600000L))
          Some(f"""{"funnel_events_per_sec":$f%.0f,"retention_events_per_sec":$r%.0f,"n_events":${events.length}}""")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming_fold failed: ${e.getMessage}")
        None
      }
    // Contention sentinel: a FIXED calibration action (pure codegen
    // range-sum, no IO, ~constant work) timed at suite start, middle
    // and end. On an idle host the three times agree to ~10%; when the
    // VM is contended (round-9's driver record was a uniform 2.7×
    // inflation of untouched queries) they inflate with it, so a
    // polluted recording is SELF-LABELING: consumers compare
    // calibration_s against the committed history instead of guessing
    // from per-query diffs.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 6400000000L, 1L, numPartitions = cpus)
        .selectExpr("sum(id % 9973)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // warm the sentinel's own codegen/JIT outside the samples
    val cal0 = calibrate()
    // *_bigpath gate twins re-run a query with its big-input plan
    // branch pinned on — a CORRECTNESS artifact (the branch is
    // oracle-hashed at gate SF where the cost probe would never take
    // it). Benching them would double-count the underlying queries in
    // every total, so they're excluded by default (still reachable via
    // SPARK_GRAFT_ONLY for targeted runs) and reported as skipped.
    val bigpathSkipped = SparkEntry.queries.keys
      .filter(n => n.endsWith("_bigpath") && only.isEmpty).toSet
    val toRun = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
      .filterNot { case (name, _) => skip(name) || bigpathSkipped(name) }
    var calMid = 0.0
    val failedRuns = scala.collection.mutable.Map.empty[String, Int]
    val timed = toRun.zipWithIndex.map { case ((name, fn), idx) =>
        if (idx == toRun.size / 2) calMid = calibrate()
        // A failed run returns None — it must NEVER enter the
        // best-of-N min: time-to-abort reads as a fast SUCCESS (the
        // round-12 t17 "13.4 s" artifact was exactly this — two of
        // three runs died in SparkOutOfMemoryError and the min kept
        // the time-to-failure). Failures surface in the "failed"
        // field; a query with zero successful runs is excluded from
        // the totals entirely.
        def once(): Option[Double] = {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failedRuns(name) = failedRuns.getOrElse(name, 0) + 1
            None
          }
        }
        val first = once()
        val runs = best match {
          case Some(n) => first +: Seq.fill(n - 1)(once())
          case None => if (warm) Seq(once()) else Seq(first)
        }
        val t = runs.flatten.minOption.getOrElse(Double.NaN)
        // Each query's caches are its OWN (built in run 1, warm for
        // runs 2..n — the warm-best-of-N contract); letting them
        // accumulate across a full-suite sweep crowds the heap until
        // an unrelated later query OOMs the executor (observed: the
        // round-12 109-query sf10 sweep died inside t17's external
        // sort with ~80 cached relations resident). Dropping them
        // between queries keeps every measurement self-contained and
        // equal to its targeted-run number.
        spark.sharedState.cacheManager.clearCache()
        name -> t
      }
    val calEnd = calibrate()
    val cals = Seq(cal0, calMid, calEnd)
    // contended := the slowest sentinel ran ≥1.5× the fastest — the
    // suite saw materially different machine conditions across its run
    val contended = cals.max / math.max(cals.min, 1e-9) >= 1.5
    val calJson = cals.map(c => f"$c%.3f").mkString("[", ",", "]")
    // queries whose every run failed carry NaN — reported under
    // "failed", never as a seconds row
    val results = (builds ++ timed)
      .filterNot(_._2.isNaN).sortBy(_._1)
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val skipped = (skip ++ bigpathSkipped).toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failedRuns.toSeq.sorted
      .map { case (k, n) => "\"" + k + s"""":$n""" }.mkString("{", ",", "}")
    // Baseline comparison column: scripts/bench_duck.py records the
    // DuckDB oracle-side per-query seconds for an SF dir into
    // DUCK_<sfname>.json (committed); embed it so the round artifact
    // carries BOTH engines' numbers, not just ours. (DuckDB is a
    // driver-side python tool — the library itself has no such
    // dependency, so the record rides in as data.)
    val duckRaw: Option[String] = {
      val f = new java.io.File(s"DUCK_${new java.io.File(sfDir).getName}.json")
      if (f.exists) {
        val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
        if (s.startsWith("{")) Some(s) else None
      } else None
    }
    // Full artifact — every query, engine + DuckDB — goes to a file
    // (and one stdout line): the consumer that wants per-query depth
    // reads BENCH_DETAIL.json from the repo.
    val rowsJson = tableRows
      .map { case (k, v) => "\"" + k + s"""":$v""" }.mkString("{", ",", "}")
    val detail =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","calibration_s":$calJson,"contended":$contended,"table_rows":$rowsJson,"queries":${jmap(results)},"skipped":$skipped,"failed":$failedJson,"sf":"$sfDir"${foldMetrics.map(m => s""","streaming_fold":$m""").getOrElse("")}${duckRaw.map(d => s""","duckdb":$d""").getOrElse("")}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes("UTF-8"))
    println(detail)
    // The FINAL stdout line is the driver's machine-readable metric. It
    // is parsed from a bounded tail window of the run log, so it must
    // stay well under 2 kB: headline = the 17 reference dashboard
    // queries (Q1-Q16 with Q16 split a/b; BASELINE.md's BENCH plan
    // compares exactly these vs DuckDB at the same SF), plus both
    // engines' totals. Printed after
    // spark.stop() so no executor log line can interleave with it.
    val dash = results.filter(_._1.matches("q\\d.*"))
    val duckDash: String = duckRaw.flatMap { s =>
      // minimal extraction: DUCK json is flat {"queries":{...}} written
      // by our own script — pull the dashboard keys + total without a
      // JSON library (none on the unmanaged classpath).
      val qre = """"(q\d[^"]*)":\s*([0-9.eE+-]+)""".r
      val pairs = qre.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toDouble).toSeq
      // the suite total must be the TOP-LEVEL "value", not some
      // per-query key: only search the prefix before the "queries" map
      val prefix = s.indexOf("\"queries\"") match {
        case -1 => s
        case i => s.substring(0, i)
      }
      val tre = """"value":\s*([0-9.eE+-]+)""".r
      val tot = tre.findFirstMatchIn(prefix).map(_.group(1).toDouble)
      // a missing total is a malformed record — report null rather
      // than a fabricated 0.000 s DuckDB suite time
      if (pairs.isEmpty || tot.isEmpty) None
      else Some(f"""{"value":${tot.get}%.3f,"queries":${jmap(pairs)}}""")
    }.getOrElse("null")
    spark.stop()
    System.out.flush()
    // Driver's tail window is 2000 bytes: keep this line ≤ ~1.6 kB even
    // with the DuckDB column embedded (skipped list lives in the detail
    // file; only its size rides here).
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"queries":${jmap(dash)},"dashboard_sec":${dash.map(_._2).sum}%.3f,"calibration_s":$calJson,"contended":$contended,"duckdb":$duckDash,"n_skipped":${skip.size},"detail":"BENCH_DETAIL.json","sf":"$sfDir"}""")
    System.out.flush()
  }
}
