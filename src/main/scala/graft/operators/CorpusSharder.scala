package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus shuffle + shard emission — the terminal stage of a
  * pretraining-data pipeline (after gates → dedup → decontamination →
  * mixture → packing → tokenize): put the corpus in a DETERMINISTIC
  * pseudorandom total order and cut it into fixed-size shards, each
  * written as one sorted file plus a manifest row, so training jobs
  * stream shards sequentially while reading an unbiased sample of the
  * whole mixture from shard 0 onward.
  *
  * Reference scope: the reference (NTRIPmonitor) has no corpus
  * assembly at all — this operator extends the engine's LLM-pipeline
  * surface (SURVEY §2 extension family, like c01–c08).
  *
  * Determinism without an RNG (the c01 idiom): order key = Knuth
  * multiplicative hash of doc_id, skey = (doc_id·2654435761) mod 2³²
  * — pseudorandom, reproducible, engine-independent pure-integer
  * arithmetic; ties (possible only past 2³² docs) break by doc_id.
  *
  * Global rank without a global sort (the w04 idiom, made cheaper):
  * skey is uniform on [0, 2³²) BY CONSTRUCTION (odd multiplier → a
  * bijection mod 2³²), so the range split needs no sampling pass at
  * all — pid = skey >> 27 gives 32 hash-uniform ranges, a 32-row
  * count collect gives exclusive prefix offsets (bounded driver
  * state, the a07/KCore class), and rank = per-pid row_number +
  * offset is EXACT for any split. No single-partition window
  * anywhere; shard_id = (rank−1) div shardSize (integer division —
  * exact at any rank).
  *
  * 100 TB shape: one pass for the 32 range counts, one for the
  * ranked/sharded rows; the writer's one exchange clusters by
  * shard_id so each shard lands as ONE sorted file. Shard size is the
  * operator's knob — fix docs/shard so manifest size = n/S stays
  * driver-irrelevant (the manifest is an output table, never
  * collected).
  */
object CorpusSharder {

  /** (input columns…, n_tok, skey, rank, shard_id) for every doc: the
    * deterministic total order and its shard assignment. Payload
    * columns ride through the one ranked pass — no second join. */
  def assignments(docs: DataFrame, shardSize: Long): DataFrame = {
    val keyed = docs
      // non-empty whitespace token count (the t01 convention, via the
      // codegen byte-scan kernel — the interpreted filter-lambda form
      // pays per-element lambda evaluation in the scan projection)
      .withColumn("n_tok",
        graft.functions.GraftFunctions.wordCount(col("text")).cast(LongType))
      .withColumn("skey", graft.queries.Q.knuth32(col("doc_id")))
      .withColumn("pid", shiftright(col("skey"), 27).cast("int"))
    // exclusive prefix offsets from the 32 range counts — the only
    // driver-side state, bounded by construction
    val perPid = keyed.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val pids = perPid.keys.toSeq.sorted
    val offsets = pids.zip(
      pids.scanLeft(0L)((acc, pid) => acc + perPid(pid)).dropRight(1)).toMap
    val offExpr = offsets.foldLeft(lit(0L)) { case (e, (pid, off)) =>
      when(col("pid") === pid, lit(off)).otherwise(e)
    }
    val w = Window.partitionBy(col("pid")).orderBy(col("skey"), col("doc_id"))
    keyed
      .withColumn("rank", row_number().over(w).cast(LongType) + offExpr)
      .withColumn("shard_id",
        expr(s"cast((rank - 1) div ${shardSize}L as bigint)"))
      .drop("pid")
  }

  /** Curriculum variant: total order by (score ascending, then the
    * Knuth-hash pseudorandom order within a score, then doc_id) — the
    * curriculum-learning data ordering (easy→hard or typical→atypical
    * by a per-doc difficulty score), still WITHOUT a global sort.
    *
    * The c09 static-range trick needs a uniform key; a difficulty
    * score isn't. The generalization: the score domain is BOUNDED by
    * construction (scores are quantized — here per-mille 0..1000, the
    * t23 convention; quantizing is WHY curriculum buckets are usable),
    * so the exact prefix offsets come from ONE bounded count pass over
    * the (score, skey>>27) grid — ≤ |scores|·32 cells, broadcast-joined
    * back (a 32k-entry CASE chain would not codegen) — and rank =
    * per-cell row_number + offset, exact for any split. Skew knob: a
    * score holding most of the corpus still splits over its 32 hash
    * ranges; widen the shift for more.
    *
    * `docs` must carry doc_id, text, and the integer score column
    * `qs`. */
  def curriculumAssignments(docs: DataFrame, shardSize: Long): DataFrame = {
    val keyed = docs
      .withColumn("n_tok",
        graft.functions.GraftFunctions.wordCount(col("text")).cast(LongType))
      .withColumn("skey", graft.queries.Q.knuth32(col("doc_id")))
      .withColumn("pid", shiftright(col("skey"), 27).cast("int"))
    val cells = keyed.groupBy(col("qs"), col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val order = cells.keys.toSeq.sorted
    val offsets = order.zip(
      order.scanLeft(0L)((acc, k) => acc + cells(k)).dropRight(1))
    val offDf = docs.sparkSession.createDataFrame(
      offsets.map { case ((qs, pid), off) => (qs, pid, off) })
      .toDF("o_qs", "o_pid", "off")
    val w = Window.partitionBy(col("qs"), col("pid"))
      .orderBy(col("skey"), col("doc_id"))
    keyed
      .join(broadcast(offDf),
        col("qs") === col("o_qs") && col("pid") === col("o_pid"))
      .withColumn("rank", row_number().over(w).cast(LongType) + col("off"))
      .withColumn("shard_id",
        expr(s"cast((rank - 1) div ${shardSize}L as bigint)"))
      .drop("pid", "o_qs", "o_pid", "off")
  }

  /** Manifest rows of an assignment frame. */
  def manifest(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        min(col("rank")).as("first_rank"),
        max(col("rank")).as("last_rank"))
      .orderBy("shard_id")

  /** Write the sharded corpus: one sorted parquet file per shard
    * under `out/shards/shard_id=K/` plus `out/manifest` — the
    * training-consumable artifact. The one exchange clusters rows by
    * shard so each shard is exactly one writer task's sorted output. */
  def write(docs: DataFrame, shardSize: Long, out: String): Unit = {
    // pin the ranked assignment so the shards write and the manifest
    // write share ONE ranked pass (uncached, each write re-runs the
    // scan + pid window — the most expensive stage, silently doubled)
    val assigned = assignments(docs, shardSize).cache()
    try {
      assigned
        .repartition(col("shard_id"))
        // shard_id FIRST: the partitionBy writer REQUIRES ordering by
        // its partition columns and inserts its own (not
        // stability-guaranteed) sort when the incoming order isn't a
        // prefix match — a rank-only sort here produced rank-shuffled
        // shard files once the cached relation changed the planner's
        // view (caught by CorpusSharderSpec)
        .sortWithinPartitions(col("shard_id"), col("rank"))
        .write.mode("overwrite").partitionBy("shard_id")
        .parquet(s"$out/shards")
      manifest(assigned).write.mode("overwrite").parquet(s"$out/manifest")
    } finally assigned.unpersist()
  }
}
