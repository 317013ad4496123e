package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming BPE tokenization — t22's apply pass over a LIVE document
  * feed against the PERSISTED tokenizer (operators.BpeTokenizer):
  * the tokenizer is trained once, then every arriving corpus batch is
  * tokenized at ingest — train-once / tokenize-many composed with the
  * streaming operating mode, the full 100 TB ingest shape.
  *
  * Plan: the per-doc (word, tf) pairs come from the codegen'd
  * WordTfPairs kernel (stateless projection; explode_OUTER so the
  * zero-word flush row keeps the event-time clock visible — the t16
  * lesson); the vocab lookup is a STREAM-STATIC inner join against
  * the persisted (word → n_tok) parquet — stateless, null/unknown
  * words drop out ABOVE the watermark node; the only STATE is the
  * per-(window, doc) token accumulator — docs are row-atomic, each
  * group completes within its micro-batch, watermark-evicted. The
  * per-doc Append emissions re-aggregate per source to EXACTLY the
  * batch t22 report (count/sum/max over disjoint doc sets), which is
  * why t22's full-chain SQL oracle checks this query too.
  */
object StreamingBpeTokenize {

  /** Per-doc token rows (source, doc_id, tokens, chars) of a streaming
    * (doc_id, source, text, `eventTimeCol`) feed against a static
    * (word, n_tok) vocabulary; emits on watermark close (Append). */
  def tokenRows(stream: DataFrame, vocab: DataFrame, eventTimeCol: String,
                watermark: String, windowLen: String = "1 hour"): DataFrame = {
    import graft.functions.GraftFunctions.wordTfPairs
    stream
      .withWatermark(eventTimeCol, watermark)
      .select(col(eventTimeCol).as("evt"), col("doc_id"), col("source"),
        explode_outer(wordTfPairs(col("text"))).as("p"))
      .select(col("evt"), col("doc_id"), col("source"),
        col("p.t").as("word"), col("p.c").as("tf"))
      .join(vocab, Seq("word")) // stream-static, stateless
      .groupBy(window(col("evt"), windowLen), col("doc_id"), col("source"))
      .agg(sum(col("tf") * col("n_tok")).as("tokens"),
        sum(col("tf") * length(col("word")).cast(LongType)).as("chars"))
      .select("source", "doc_id", "tokens", "chars")
  }

  /** Driver-gate replay (the t16/t20 file-source convention); the
    * final report = per-source re-aggregation of the per-doc
    * emissions = batch t22 exactly. */
  def replayGate(s: SparkSession, sfDir: String, nBatches: Int = 3): DataFrame = {
    import graft.queries.Q._
    val tokDir = graft.operators.BpeTokenizer.ensureBuilt(s, sfDir)
    val vocab = graft.operators.BpeTokenizer.vocab(s, tokDir)
    val all = graft.Tables.load(s, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    // the zero-word flush doc never joins the vocab, so it cannot reach
    // the per-doc rows; its only job is advancing the watermark
    ReplayHarness.runDocGate(s, "graft-t22-replay", nBatches, all,
      stream => tokenRows(stream, vocab, "evt", "1 hour"),
      (sp, out) => sp.read.parquet(out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tokens")).as("total_bpe_tokens"),
          max(col("tokens")).as("max_doc_tokens"),
          fixedDec(rhu(sum(col("chars")), sum(col("tokens")), 1000000L), 6)
            .as("chars_per_token"))
        .orderBy("source"))
  }
}
