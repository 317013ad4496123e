package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quality gating — the t20 Gopher-rule report over a LIVE
  * document feed: quality filtering runs AT INGEST (tag/divert failing
  * docs as they arrive) instead of as a post-hoc corpus pass — the
  * operating mode of a continuously-fed training-data pipeline.
  *
  * Plan shape: the per-doc gate flags are a STATELESS projection
  * (TextAnalysis.gateFlags — RepetitionStats kernel + substring
  * probes, shared verbatim with batch t20); the only STATE is the
  * per-(window, source) counter row — docs are row-atomic, each group
  * completes within its micro-batch, and the event-time watermark
  * evicts it after the horizon, so state is bounded by (arrival rate ×
  * horizon) × |sources|, never corpus-sized. Every t20 output column
  * is a SUM of per-doc indicators, so the per-window Append emissions
  * re-aggregate to EXACTLY the batch report (sums distribute over the
  * disjoint windows) — which is why batch t20's SQL oracle checks this
  * query too.
  */
object StreamingQualityGates {

  /** Windowed per-source gate counters of a streaming (source, text,
    * `eventTimeCol`) feed; emits on watermark close (Append). */
  def gateReport(stream: DataFrame, eventTimeCol: String,
                 watermark: String, windowLen: String = "1 hour"): DataFrame = {
    val flagged = graft.queries.TextAnalysis.gateFlags(
      stream.withWatermark(eventTimeCol, watermark), carry = Seq(eventTimeCol))
    flagged
      .groupBy(window(col(eventTimeCol), windowLen), col("source"))
      .agg(graft.queries.TextAnalysis.gateAggs.head,
        graft.queries.TextAnalysis.gateAggs.tail: _*)
      .select("source", "n_docs", "f_words", "f_wordlen", "f_stopword",
        "f_lexdiv", "n_pass_all", "n_pass_3of4")
  }

  /** Driver-gate replay (the t16 file-source convention): the sf
    * documents table split into `nBatches` doc_id-ranged parquet
    * chunks fed through a file-source stream (event time = epoch +
    * doc_id seconds, arrival order = event-time order), one far-future
    * flush doc closing the last window; the flush doc flows THROUGH
    * the stream (filtering it pre-watermark would stall the clock —
    * the t16 lesson) and its `_flush` source row is dropped only in
    * the batch read-back. Final report = per-source SUM of the
    * window emissions = batch t20 exactly. */
  def replayGate(s: SparkSession, sfDir: String, nBatches: Int = 3): DataFrame = {
    val all = graft.Tables.load(s, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    ReplayHarness.runDocGate(s, "graft-t20-replay", nBatches, all,
      stream => gateReport(stream, "evt", "1 hour"),
      (sp, out) => sp.read.parquet(out)
        .filter(col("source") =!= "_flush")
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("f_words")).as("f_words"),
          sum(col("f_wordlen")).as("f_wordlen"),
          sum(col("f_stopword")).as("f_stopword"),
          sum(col("f_lexdiv")).as("f_lexdiv"),
          sum(col("n_pass_all")).as("n_pass_all"),
          sum(col("n_pass_3of4")).as("n_pass_3of4"))
        .orderBy("source"))
  }
}
