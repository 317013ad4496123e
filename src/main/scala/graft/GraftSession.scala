package graft

import org.apache.spark.sql.SparkSession

/** The engine's session: every `src/main` entry point (Bench, Verify,
  * PlanAudit, Profiler, LayoutMain) builds it here, so the session that
  * is measured, the one that is verified and the one that is audited
  * are the same but for their core count. */
object GraftSession {
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // local[32] wants scan splits ≈ cores: the map side of every
      // exchange runs in the scan stage, and the default 128 MB
      // splits give a 200 MB file only 2 map tasks (measured: a05's
      // 10 M-row shuffle write serialized on 2 of 32 cores, +0.3 s).
      // 16 MB ≈ 13 splits for that file; sub-16 MB files (all of
      // sf0.1) stay single-split, so the sf0.1 headline bench is
      // unchanged. On a real cluster this maps to the same rule of
      // thumb: size splits so every core of every executor has work.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      // the engine's SQL functions and optimizer rules (TopKRewrite),
      // so user-written window top-k hits the rewrite
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
