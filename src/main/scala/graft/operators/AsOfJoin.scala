package graft.operators

import graft.plans.{AsOfMergeLogical, AsOfMergeStrategy}
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanDataFrame
import org.apache.spark.sql.types.LongType

/** As-of join: for each left row, attach the most recent right row
  * with `right.ts <= left.ts` (backward) within the same key — the
  * time-series join behind "state at time of event" queries
  * (e.g. pairing observations with the station's last reported
  * coordinates, or events with the last disconnect).
  *
  * Composition: tag and union both sides declaratively, then hand the
  * union to [[graft.plans.AsOfMergeExec]] — a whole-operator physical
  * node (custom-operator ladder (c); the built-in expressions of the
  * same semantics measured structurally slower, see the scaladoc
  * there). ONE shuffle on (key), in-partition sort by (key, ts, tag),
  * one forward merge pass. No join explosion, no range-join quadratic
  * blowup; state per task is a single carried payload row.
  *
  * At 100 TB: identical shape to sessionization — shuffle bounded by
  * the key cardinality split, AQE handles skewed keys, and the sort
  * is the same per-partition sort a sort-merge join would need
  * anyway. The merge is O(rows) time and O(1) memory per task.
  */
object AsOfJoin {

  /** Make [[AsOfMergeLogical]] plannable in `spark`'s session even if
    * GraftExtensions wasn't installed. */
  private def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.synchronized {
      graft.functions.GraftExtensions.ensureStrategy(spark, AsOfMergeStrategy)
      // best-effort pruning for extension-less sessions too: in the
      // post-hoc batch it still shrinks the shuffle/sort width (the
      // scan-level pushdown needs the injectOptimizerRule path)
      if (!spark.experimental.extraOptimizations.contains(graft.plans.AsOfMergePruning))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ graft.plans.AsOfMergePruning
    }

  /** @param left       left (probe) rows
    * @param right      right (reference) rows
    * @param key        equi-key column name present on both sides
    * @param leftTs     left timestamp column name
    * @param rightTs    right timestamp column name
    * @param payload    right columns to carry onto left rows
    * @param tolerance  max allowed left.ts - right.ts in seconds
    *                   (None = unbounded)
    */
  def backward(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String, payload: Seq[String],
               tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)

    // Small right side → broadcast fast path (no shuffle, no sort of
    // the left side). Chosen like Spark's broadcast joins: an explicit
    // `broadcast(right)` hint wins; otherwise the optimizer's size
    // estimate against spark.sql.autoBroadcastJoinThreshold (which is
    // conservative — a filter over a big fact table keeps the table's
    // estimate, so auto only fires for genuinely small relations).
    val hinted = right.queryExecution.analyzed.exists {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case _ => false
    }
    val rawThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val threshold = // "-1" (plain long) disables; size suffixes allowed
      scala.util.Try(rawThreshold.toLong)
        .getOrElse(JavaUtils.byteStringAsBytes(rawThreshold.toLowerCase))
    // stats only consulted when unhinted (optimizing the hinted plan
    // here would make EliminateResolvedHint log a spurious warning)
    def statsSmall = threshold > 0 &&
      right.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold
    if (hinted || statsSmall)
      broadcastBackward(left, right, key, leftTs, rightTs, payload, tolerance)
    else
      mergeBackward(left, right, key, leftTs, rightTs, payload, tolerance)
  }

  /** Broadcast path — entirely built-in operators plus ONE scalar
    * codegen expression: the right side is grouped DISTRIBUTED into
    * per-key ts-sorted arrays (O(keys) rows), broadcast through
    * Spark's own BroadcastHashJoin (null-safe equality so NULL keys
    * group together, matching the merge path's window semantics), and
    * each left row binary-searches its key's array via
    * [[graft.functions.AsOfSearch]]. The left side is never shuffled
    * or sorted, and scan → join → probe → downstream stays inside one
    * WholeStageCodegen span — Catalyst prunes/pushes through it like
    * any other join, no custom physical node involved.
    */
  private def broadcastBackward(left: DataFrame, right: DataFrame, key: String,
                                leftTs: String, rightTs: String, payload: Seq[String],
                                tolerance: Option[Long]): DataFrame = {
    // cast("timestamp") first: parquet written without UTC adjustment
    // loads as TIMESTAMP_NTZ, which the strict unix_micros rejects;
    // under the session's UTC zone the NTZ→LTZ cast is the identity
    val l = left.withColumn("__lts", unix_micros(col(leftTs).cast("timestamp")))
    val payloadCols = payload.distinct
    val rightAgg = broadcast(right
      .select((key +: rightTs +: payload).distinct.map(col): _*)
      .withColumn("__rts", unix_micros(col(rightTs).cast("timestamp")))
      .filter(col("__rts").isNotNull) // a NULL-ts right row can never match
      .groupBy(col(key).as("__rkey"))
      .agg(sort_array(collect_list(struct((col("__rts") +: payloadCols.map(col)): _*)))
        .as("__sorted")))
    val joined = l.join(rightAgg, l.col(key) <=> rightAgg.col("__rkey"), "left_outer")
    val hit = graft.functions.GraftFunctions.asofSearch(col("__sorted"), col("__lts"))
    // age in whole seconds (floor(epoch) difference); search and
    // sort order stay at full microsecond precision
    val age = floor(col("__lts") / 1000000L).cast(LongType) -
      floor(col("__hit").getField("__rts") / 1000000L).cast(LongType)
    val okAge = tolerance.map(t => col("__age") <= t).getOrElse(lit(true))
    joined
      .withColumn("__hit", hit)
      .withColumn("__age", age)
      .withColumn("__ok", col("__hit").isNotNull && okAge)
      .select(left.columns.map(col) ++
        payload.map(p => when(col("__ok"), col("__hit").getField(p)).as(s"asof_$p")) :+
        when(col("__ok"), col("__age")).as("asof_age_s"): _*)
  }

  /** Self-as-of: join a table's rows against a SUBSET of itself —
    * each non-marker row picks up the most recent marker row at or
    * before it (events vs their own error markers, observations vs
    * their own gap markers). Semantically identical to
    * `backward(df.filter(!rightPred), df.filter(rightPred), …)` but
    * ONE scan instead of two: the tag IS the predicate, so the union
    * never materializes and the source is read once. Marker rows act
    * only as the reference side (they don't appear in the output).
    *
    * At 100 TB the doubled scan this avoids is a real cost: the
    * two-sided form reads the fact table twice (Spark has no
    * scan-sharing across a union's branches).
    */
  def backwardSelf(df: DataFrame, rightPred: org.apache.spark.sql.Column,
                   key: String, ts: String, payload: Seq[String],
                   tolerance: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val leftCols = df.columns.toSeq
    val tagged = df
      .withColumn("__ts", unix_micros(col(ts).cast("timestamp")))
      .withColumn("__tag", when(rightPred, 0).otherwise(1))
    // payload columns double as left columns here (same row schema);
    // the merge node carries them once under the payload alias
    val withPay = payload.foldLeft(tagged)((d, p) => d.withColumn(s"__p_$p", col(p)))
    finishMerge(spark, withPay, df, leftCols, key, payload, tolerance)
  }

  /** Shuffle-merge path: tagged union, one shuffle on the key,
    * in-partition sort, forward merge. See AsOfMergeExec. */
  private def mergeBackward(left: DataFrame, right: DataFrame, key: String,
                            leftTs: String, rightTs: String, payload: Seq[String],
                            tolerance: Option[Long]): DataFrame = {
    // cast("timestamp") first: parquet written without UTC adjustment
    // loads as TIMESTAMP_NTZ, which the strict unix_micros rejects;
    // under the session's UTC zone the NTZ→LTZ cast is the identity
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__ts", unix_micros(col(leftTs).cast("timestamp")))
      .withColumn("__tag", lit(1))
    val lWithNullPayload = payload.foldLeft(l)((df, p) =>
      df.withColumn(s"__p_$p", lit(null).cast(right.schema(p).dataType)))
    val r = right
      .select((key +: rightTs +: payload).distinct.map(col): _*)
      .withColumn("__ts", unix_micros(col(rightTs).cast("timestamp")))
      .withColumn("__tag", lit(0))
    // rename payload BEFORE aligning: a payload column may share its
    // name with a left column (both sides carrying event_id etc.)
    val rRenamed = payload.foldLeft(r)((df, p) => df.withColumnRenamed(p, s"__p_$p"))
    val rFinal = leftCols.foldLeft(rRenamed)((df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(left.schema(c).dataType)))

    val unionCols = (leftCols ++ Seq("__ts", "__tag") ++ payload.map(p => s"__p_$p")).distinct
    val unioned = lWithNullPayload.select(unionCols.map(col): _*)
      .unionByName(rFinal.select(unionCols.map(col): _*))

    finishMerge(left.sparkSession, unioned, right, leftCols, key, payload, tolerance)
  }

  /** Wrap the tagged (and payload-aliased) child in the merge node. */
  private def finishMerge(spark: org.apache.spark.sql.SparkSession,
                          tagged: DataFrame, payloadSchemaSource: DataFrame,
                          leftCols: Seq[String], key: String,
                          payload: Seq[String], tolerance: Option[Long]): DataFrame = {
    val child = tagged.queryExecution.analyzed
    val byName = child.output.map(a => a.name -> a).toMap
    val payloadOut = payload.map(p =>
      AttributeReference(s"asof_$p", payloadSchemaSource.schema(p).dataType, nullable = true)())
    val ageAttr = AttributeReference("asof_age_s", LongType, nullable = true)()
    PlanDataFrame.ofRows(spark, AsOfMergeLogical(
      key = byName(key), ts = byName("__ts"), tag = byName("__tag"),
      leftAttrs = leftCols.map(byName),
      payloadAttrs = payload.map(p => byName(s"__p_$p")),
      payloadOut = payloadOut, ageAttr = ageAttr,
      tolerance = tolerance, child = child))
  }
}
