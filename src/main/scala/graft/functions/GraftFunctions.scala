package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column-level API + SQL registration for the graft native
  * expressions. Use `withExtensions(new GraftExtensions)` at session
  * build, or `GraftFunctions.register(spark)` on an existing session.
  */
object GraftFunctions {
  // Spark 4: Column is a ColumnNode facade; the bridge exposes the
  // package-private converters to Catalyst Expressions.
  import org.apache.spark.sql.GraftColumnBridge.{column => c, expression => ex}

  def vectorDot(a: Column, b: Column): Column = c(VectorDot(ex(a), ex(b)))
  def vectorNorm(a: Column): Column = c(VectorNorm(ex(a)))

  /** cosine(a, b) = dot/(‖a‖·‖b‖) — composed from the two codegen'd
    * primitives so the numeric order matches the oracle formula. */
  def cosineSimilarity(a: Column, b: Column): Column =
    vectorDot(a, b) / (vectorNorm(a) * vectorNorm(b))

  def crc24q(bin: Column): Column = c(Crc24qExpr(ex(bin)))

  /** Backward as-of probe into a ts-sorted array<struct<ts,payload…>>:
    * the greatest element with ts ≤ the probe ts, else NULL. */
  def asofSearch(sorted: Column, ts: Column): Column = c(AsOfSearch(ex(sorted), ex(ts)))
  def rollingHash64(s: Column): Column = c(RollingHash64(ex(s)))
  def minhash64(shingles: Column): Column = c(MinHash64(ex(shingles)))
  def bpeTokenCount(s: Column): Column = c(BpeTokenCount(ex(s)))

  /** Argmax-cosine codebook assignment (k-means kernel); value-
    * identical to transform+array_position over cosineSimilarity. */
  def argMaxCosine(v: Column, cents: Array[Array[Double]]): Column =
    c(ArgMaxCosine(ex(v), cents))

  /** One-pass PQ code assignment over all subspaces; value-identical
    * to the per-subspace transform+array_position argmin-L2² form. */
  def pqAssignCodes(v: Column, cents: Array[Array[Array[Double]]], subDim: Int): Column =
    c(PqAssignCodes(ex(v), cents, subDim))

  /** Fused element-wise scaled-long vector sum (aggregate):
    * array<long>[dims] of Σ round(v[i]·10^scale) per group. */
  def vectorScaledSum(v: Column, dims: Int, scale: Int): Column =
    c(VectorScaledLongSum(ex(v), dims, scale).toAggregateExpression())

  /** round(x·10^scale) as LONG — codegen'd fixed-point conversion,
    * value-identical to round(x*10^scale, 0).cast(long). */
  def scaledLong(x: Column, scale: Int): Column = c(ScaledLong(ex(x), scale))

  /** Top-level JSON key probe as LONG — value-identical to
    * TRY_CAST(get_json_object(j, '$.key') AS BIGINT), at byte-scan
    * speed (no per-row parser allocation). */
  def jsonGetLong(j: Column, key: String): Column = c(JsonGetLong(ex(j), key))

  /** Longest common prefix of two strings, in characters (the d14
    * suffix-array LCP kernel). */
  def commonPrefixLen(a: Column, b: Column): Column =
    c(CommonPrefixLen(ex(a), ex(b)))

  /** Per-document repetition counters [w, dw, topw, b, db] in one
    * scan-side pass — the kernel behind t11/c02 (value-identical to
    * the exploded (doc, token) double-aggregate it replaces). */
  def repetitionStats(text: Column): Column = c(RepetitionStats(ex(text)))

  /** Per-doc term-frequency pairs array<struct<t,c>> (non-empty
    * words) — the inverted-index scan kernel behind t12. */
  def wordTfPairs(text: Column): Column = c(WordTfPairs(ex(text)))

  /** Per-doc bigram-frequency pairs (adjacent raw-token pairs) — the
    * scan kernel behind t05. */
  def bigramTfPairs(text: Column): Column = c(BigramTfPairs(ex(text)))

  /** Per-doc trigram-frequency pairs (adjacent raw-token triples) —
    * the scan kernel behind t15's novelty profile. */
  def trigramTfPairs(text: Column): Column = c(TrigramTfPairs(ex(text)))

  /** Per-doc 5-gram-frequency pairs — the scan kernel behind the
    * t08/c05 contamination core. */
  def fivegramTfPairs(text: Column): Column = c(FivegramTfPairs(ex(text)))

  /** Per-doc adjacent code-point pair counts — the char-bigram LM
    * scan kernel behind the t23 perplexity filter. */
  def charBigramTfPairs(text: Column): Column = c(CharBigramTfPairs(ex(text)))

  /** Unicode NFC normalization (UAX #15) — value-identical to DuckDB's
    * nfc_normalize; ASCII strings return unchanged with zero
    * allocation (the c12 scrub's first stage). */
  def nfcNormalize(s: Column): Column = c(NfcNormalize(ex(s)))

  /** The c12 redaction pipeline (emails/phones/IPv4 + whitespace
    * hygiene) as one byte-scan expression: struct<scrubbed, n_emails,
    * n_phones, n_ips>, value-identical to the sequential regex form
    * (property-specced). */
  def piiScrub(s: Column): Column = c(PiiScrubExpr(ex(s)))

  /** Non-empty word count (the tf-pair tokenizer's token count) —
    * codegen'd; value-identical to folding word_tf_pairs with a
    * higher-order aggregate, without the CodegenFallback break. */
  def wordCount(text: Column): Column = c(WordCount(ex(text)))

  /** Grouped top-k aggregate: best-first array<struct<score, tiebreak,
    * payload>> of the k highest-score rows per group — the map-side-
    * combining alternative to a rank window (shuffle is bounded by
    * groups × k, not the table size). */
  def topKByScore(score: Column, tiebreak: Column, payload: Column, k: Int): Column =
    c(TopKByScore(ex(score), ex(tiebreak), ex(payload), k).toAggregateExpression())

  /** Distributed Bloom-filter build over XXH64-hashed values — the
    * same `BloomFilterAggregate` Spark's runtime-filter join pruning
    * plants (partials merge executor-side; the driver receives ONE
    * sketch of `numBits/8` bytes, never the values). Feed it
    * `xxhash64(col)` and probe with [[bloomMightContain]] on the same
    * hash — build and probe must share the hashing. */
  def bloomAgg(hashed: Column, expectedItems: Long, numBits: Long): Column =
    c(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      ex(hashed),
      org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits)).toAggregateExpression())

  /** Codegen'd Bloom probe (`might_contain`) of a prebuilt sketch —
    * false positives possible, false negatives impossible, so a
    * downstream exact join sees every true hit. The sketch literal
    * ships in the task closure (bounded by the build's numBits). */
  def bloomMightContain(sketch: Column, hashed: Column): Column =
    c(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      ex(sketch), ex(hashed)))

  private[functions] val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vector_dot" -> (es => VectorDot(es(0), es(1))),
    "vector_norm" -> (es => VectorNorm(es.head)),
    "crc24q" -> (es => Crc24qExpr(es.head)),
    "rolling_hash64" -> (es => RollingHash64(es.head)),
    "minhash64" -> (es => MinHash64(es.head)),
    "bpe_token_count" -> (es => BpeTokenCount(es.head)),
    "repetition_stats" -> (es => RepetitionStats(es.head)),
    "word_tf_pairs" -> (es => WordTfPairs(es.head)),
    "bigram_tf_pairs" -> (es => BigramTfPairs(es.head)),
    "trigram_tf_pairs" -> (es => TrigramTfPairs(es.head)),
    "fivegram_tf_pairs" -> (es => FivegramTfPairs(es.head)),
    "word_count" -> (es => WordCount(es.head)),
    "nfc_normalize" -> (es => NfcNormalize(es.head)),
    "pii_scrub" -> (es => PiiScrubExpr(es.head)),
    "json_get_long" -> (es => es(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(k: org.apache.spark.unsafe.types.UTF8String, _) =>
        JsonGetLong(es(0), k.toString)
      case other => throw new IllegalArgumentException(
        s"json_get_long: key must be a string literal, got $other")
    }))

  /** Imperative registration (temp functions on this session). */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** Injection-based registration for
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`.
  * Derived from the SAME function list as GraftFunctions.register, so
  * the SQL surface cannot diverge between the two registration paths. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    GraftFunctions.sqlFunctions.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
    // grouped-top-k plan rewrite (see plans.TopKRewrite for the
    // guarded applicability conditions)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
    // whole-operator as-of merge (operators.AsOfJoin also self-heals
    // this into extraStrategies for extension-less sessions)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfMergeStrategy)
    // column pruning THROUGH the merge node (same fixed-point batch
    // as the built-in ColumnPruning, which then pushes the pruned
    // projection into the scans)
    ext.injectOptimizerRule(_ => graft.plans.AsOfMergePruning)
    // per-frame RTCM decode node (etl.RtcmPipeline.decode also
    // self-heals this into extraStrategies)
    ext.injectPlannerStrategy(_ => graft.plans.DecodeFramesStrategy)
    // two-pass ordered scan node (plans.OrderedScan.over also
    // self-heals this into extraStrategies)
    ext.injectPlannerStrategy(_ => graft.plans.OrderedScanStrategy)
  }
}

object GraftExtensions {
  /** Make `strategy` plannable in `spark`'s session even if
    * GraftExtensions wasn't installed (extraStrategies is the public
    * per-session hook). */
  def ensureStrategy(spark: SparkSession, strategy: org.apache.spark.sql.execution.SparkStrategy)
      : Unit = spark.synchronized {
    if (!spark.experimental.extraStrategies.contains(strategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy
  }
}
