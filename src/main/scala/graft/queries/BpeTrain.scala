package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** t21: BPE merge-rule induction — tokenizer vocabulary training, the
  * one pretraining-pipeline stage the corpus operators didn't cover
  * (counting t01/t07, quality t02/t20, dedup d01–d11, mixture
  * c01–c08, decontamination t08/t16–t19 … and now vocabulary
  * induction). Learns the first R = 6 byte-pair-encoding merges of
  * the corpus (Sennrich et al. 2016; the GPT-2 trainer is the same
  * loop word-internally): start from characters, repeatedly take the
  * globally most frequent adjacent symbol pair — weighted by word
  * frequency, ties broken (count DESC, left ASC, right ASC) — and
  * merge it greedily left-to-right non-overlapping in every word.
  * Output: one row per learned rule (round, l, r, pair_n).
  *
  * Distributed shape (the standard trainer decomposition): ONE corpus
  * aggregate builds the word-frequency table; every round after runs
  * on VOCAB-sized data — a pair explode (Σ|syms| rows, word-keyed,
  * map-side combined) into a (l, r)-keyed aggregate, a bounded
  * TakeOrdered(1) argmax, and a per-row greedy-fold rewrite (a
  * higher-order `aggregate` — no shuffle at all). The per-round
  * driver materialization is exactly ONE row (the argmax), the
  * KCore/a07 bounded-action precedent; lineage is truncated per round
  * the way KCore does. At 100 TB the corpus pass dominates once and
  * the rounds cost O(vocab·avg_len) each — the real BPE-at-scale
  * profile.
  *
  * BOUNDED-ROUNDS CONTRACT (the KCore convention): exactly R rounds
  * are attempted; a round with no remaining pair emits nothing and
  * leaves the vocabulary unchanged, and the DuckDB oracle unrolls the
  * same R rounds as no-op-tolerant CTEs, so both sides always compute
  * the identical rule list.
  *
  * Cross-engine exactness: all counts are integers; the greedy
  * left-to-right non-overlapping merge is realized engine-side as the
  * fold (merge iff last(acc) = l ∧ x = r) and oracle-side as the
  * match-run parity rule (keep match positions at even offset within
  * each maximal run of consecutive matches) — equivalent by
  * construction: runs of consecutive matches require l = r, and both
  * rules then take every other position from the left.
  */
object BpeTrain extends QueryModule {

  private[queries] val rounds = 6

  private def sq(s: String): String = s.replace("'", "''")

  /** One round's candidate ranking as a pure plan: adjacent-pair
    * explode (word-local, no shuffle) into a (l, r)-keyed aggregate
    * and a bounded TakeOrdered(1) argmax. Exposed so PlanAudit can
    * assert the per-round physical shape that t21's checkpoint-
    * truncated loop would otherwise hide (the KCore.peelRound
    * convention). */
  def pairArgmax(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))"))
          .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("n"))
      .orderBy(desc("n"), col("l"), col("r"))
      .limit(1)

  /** The corpus-pass word-frequency vocabulary (the one non-vocab-
    * sized stage). */
  def initVocab(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
          .as("syms"))

  /** Adjacent-pair explode of a vocabulary slice → (l, r, n = freq)
    * candidate rows (pre-aggregation; word-local, no shuffle). */
  private[graft] def pairsOf(v: DataFrame): DataFrame =
    v.filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))"))
          .as("p"))
      .select(col("p.l").as("l"), col("p.r").as("r"), col("freq").as("n"))

  /** Words whose symbol array contains the ADJACENT (l, r) pair —
    * exactly the words the round's greedy merge changes (the fold
    * merges iff an adjacent occurrence exists: within one round the
    * merged symbol l+r can never string-equal l, so the fold's
    * last(acc)=l test fires only where the ORIGINAL sequence had l
    * immediately before r — the module-scaladoc equivalence). */
  private[graft] def containsPair(l: String, r: String): Column =
    // the size guard must stay: sequence(1, 0) DESCENDS in Spark, so
    // an unguarded exists would probe syms[-1] on single-symbol words
    expr(s"size(syms) >= 2 AND exists(sequence(1, size(syms) - 1), " +
      s"i -> syms[i-1] = '${sq(l)}' AND syms[i] = '${sq(r)}')")

  /** The greedy left-to-right non-overlapping merge of (l, r) as a
    * shuffle-free higher-order fold over `syms`. */
  private[graft] def mergeFold(l: String, r: String): String =
    s"""aggregate(syms, cast(array() as array<string>),
       |  (acc, x) -> CASE
       |    WHEN size(acc) > 0 AND element_at(acc, -1) = '${sq(l)}'
       |         AND x = '${sq(r)}'
       |    THEN concat(slice(acc, 1, size(acc) - 1),
       |                array(concat('${sq(l)}', '${sq(r)}')))
       |    ELSE concat(acc, array(x)) END)""".stripMargin

  /** Run the R-round trainer: returns the post-merge vocabulary
    * (word, freq, syms) and the learned rule list.
    *
    * INCREMENTAL rounds (the classical scalable-trainer form): the
    * full pair aggregate runs ONCE; each round then (a) takes the
    * argmax from the MAINTAINED (l, r) count table — a bounded
    * TakeOrdered over distinct-pair-sized data, (b) rewrites ONLY the
    * words containing the chosen pair (containsPair — provably the
    * exact affected set), and (c) updates the count table by DELTA:
    * subtract the affected words' old pairs, add their new ones, drop
    * zeros. Round cost is therefore proportional to the AFFECTED
    * words' symbols (plus a vectorized vocab-sized predicate scan and
    * a distinct-pair-sized re-aggregation), not to Σ|syms| — the
    * property that lets real trainers run 30k+ merges. A full
    * re-aggregation recomputes identical integers, so the oracle's
    * per-round full-recount CTEs check this maintenance exactly.
    * Per-round driver materialization stays ONE row (the argmax);
    * lineage is truncated per round the KCore way. */
  def train(s: SparkSession, d: String,
            r: Int = rounds): (DataFrame, Seq[(Long, String, String, Long)]) =
    trainFrom(initVocab(s, d), r)

  /** Run the incremental trainer from an EXPLICIT initial vocabulary
    * (word, freq, syms). The sf corpora's ~30-word vocabulary
    * exhausts after a few hundred merges, so credible-R
    * demonstrations (the compound-bigram vocabulary of the R = 1024
    * spec) supply a wider vocabulary here while the t21/t22 gates
    * keep the corpus form via [[train]]. */
  def trainFrom(initial: DataFrame,
                r: Int): (DataFrame, Seq[(Long, String, String, Long)]) = {
    var vocab = initial.localCheckpoint(true)
    // union concatenates partitions, so the per-round
    // unaffected ∪ rewritten would DOUBLE vocab's partition count
    // every round (2^R tasks by round R) — coalesce back to the
    // initial width each round (narrow, no shuffle)
    val vocabParts = vocab.rdd.getNumPartitions
    var pairCounts = pairsOf(vocab)
      .groupBy(col("l"), col("r")).agg(sum(col("n")).as("n"))
      .localCheckpoint(true)
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= r && !exhausted) {
      val best = pairCounts
        .orderBy(desc("n"), col("l"), col("r"))
        .limit(1)
        .collect() // bounded: exactly one row per round
      if (best.isEmpty) exhausted = true
      else {
        val (bl, br, bn) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((round.toLong, bl, br, bn))
        val hit = containsPair(bl, br)
        // rewrite ONLY the affected words; checkpoint so the delta
        // and the vocab union both read the materialized result
        val rewritten = vocab.filter(hit)
          .withColumn("syms", expr(mergeFold(bl, br)))
          .localCheckpoint(true)
        val delta = pairsOf(vocab.filter(hit))
          .select(col("l"), col("r"), (-col("n")).as("n"))
          .union(pairsOf(rewritten))
        pairCounts = pairCounts.union(delta)
          .groupBy(col("l"), col("r")).agg(sum(col("n")).as("n"))
          .filter(col("n") > 0) // exact counts are ≥ 0; drop dead pairs
          .localCheckpoint(true)
        vocab = vocab.filter(!hit).union(rewritten)
          .coalesce(vocabParts).localCheckpoint(true)
        round += 1
      }
    }
    (vocab, learned.toSeq)
  }

  private def t21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    train(s, d)._2.toDF("round", "l", "r", "pair_n").orderBy("round")
  }

  // t22: APPLY the learned tokenizer — segment every document with the
  // R trained merges and report per-source BPE token totals plus the
  // exact compression ratio (chars per token), the acceptance metric a
  // tokenizer rollout is judged by. Operating mode is train-once /
  // tokenize-many (operators.BpeTokenizer, the t19/s06 persisted-
  // artifact pattern): the gate query builds the persisted tokenizer
  // if absent and the apply pass reads its vocab parquet — the
  // training pass is never repeated across corpus batches. The key
  // scale property of the word-level decomposition: tokenization
  // joins the per-doc (word, tf) pairs — from the codegen'd
  // WordTfPairs scan kernel — against the VOCAB-sized (word → token
  // count) table instead of re-walking every document character
  // (tokens(doc) = Σ tf(w)·tokens(w)); the vocab join stays unhinted
  // (AQE broadcasts while it is small; a 100 TB corpus vocabulary
  // must not be force-broadcast — the t18 rule). Ratio is one sum/sum
  // division through the Q fixed-point helpers, exact cross-engine.
  private def t22(s: SparkSession, d: String): DataFrame = {
    val dir = graft.operators.BpeTokenizer.ensureBuilt(s, d)
    tokenStats(s, d, graft.operators.BpeTokenizer.vocab(s, dir))
  }

  /** The apply pass against an explicit (word → n_tok) vocabulary —
    * shared by the persisted-tokenizer gate query and the
    * inline-equivalence spec. */
  def tokenStats(s: SparkSession, d: String, tok: DataFrame): DataFrame = {
    import Q._
    val pairs = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"),
        explode(graft.functions.GraftFunctions.wordTfPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("source"), col("p.t").as("word"), col("p.c").as("tf"))
    val perDoc = pairs.join(tok, Seq("word"))
      .groupBy(col("source"), col("doc_id"))
      .agg(sum(col("tf") * col("n_tok")).as("tokens"),
        sum(col("tf") * length(col("word")).cast(LongType)).as("chars"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("total_bpe_tokens"),
        max(col("tokens")).as("max_doc_tokens"),
        fixedDec(rhu(sum(col("chars")), sum(col("tokens")), 1000000L), 6)
          .as("chars_per_token"))
      .orderBy("source")
  }

  /** One oracle round: pair counts → argmax → parity-kept match
    * positions → rebuilt symbol lists. All CTEs MATERIALIZED — v/b are
    * referenced more than once per round and an inlined chain of R
    * rounds re-executes its prefix exponentially (the s07 lesson). */
  private def roundSql(k: Int): String =
    s"""p$k AS MATERIALIZED (
       |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(freq) AS BIGINT) AS n
       |  FROM (SELECT freq, syms, UNNEST(range(1, len(syms))) AS i FROM v$k)
       |  GROUP BY 1, 2),
       |b$k AS MATERIALIZED (
       |  SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
       |e$k AS MATERIALIZED (
       |  SELECT word, freq, i, syms[i] AS s, syms[i+1] AS s2,
       |    CASE WHEN i < len(syms) AND syms[i] = (SELECT l FROM b$k)
       |          AND syms[i+1] = (SELECT r FROM b$k) THEN 1 ELSE 0 END AS m
       |  FROM (SELECT word, freq, syms, UNNEST(range(1, len(syms)+1)) AS i
       |        FROM v$k)),
       |k$k AS MATERIALIZED (
       |  SELECT word, i FROM (
       |    SELECT word, i, MIN(i) OVER (PARTITION BY word, isl) AS i0
       |    FROM (SELECT word, i,
       |            i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS isl
       |          FROM e$k WHERE m = 1))
       |  WHERE (i - i0) % 2 = 0),
       |v${k + 1} AS MATERIALIZED (
       |  SELECT word, ANY_VALUE(freq) AS freq,
       |    LIST(CASE WHEN kept THEN s || s2 ELSE s END ORDER BY i) AS syms
       |  FROM (SELECT e.word, e.freq, e.i, e.s, e.s2,
       |          (ke.i IS NOT NULL) AS kept, (kd.i IS NOT NULL) AS dropped
       |        FROM e$k e
       |        LEFT JOIN k$k ke ON e.word = ke.word AND e.i = ke.i
       |        LEFT JOIN k$k kd ON e.word = kd.word AND e.i = kd.i + 1)
       |  WHERE NOT dropped GROUP BY word)""".stripMargin

  /** The shared R-round CTE chain (v1 … v{R+1}, p/b/e/k per round) —
    * the WITH body both oracles build on. */
  /** Shared with c11's full-chain oracle (the tokenize stage embeds
    * the same R-round trained vocab). */
  private[queries] val chainSql = {
    val roundCtes = (1 to rounds).map(roundSql).mkString(",\n")
    s"""v1 AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |    list_transform(range(1, length(word)+1), i -> word[i]) AS syms
       |  FROM (SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |$roundCtes""".stripMargin
  }

  private val t21Sql = {
    val unionRows = (1 to rounds)
      .map(k => s"SELECT CAST($k AS BIGINT) AS round, l, r, n AS pair_n FROM b$k")
      .mkString("\n UNION ALL ")
    s"""WITH $chainSql
       |SELECT * FROM ($unionRows) ORDER BY round""".stripMargin
  }

  private val t22Sql = {
    import Q._
    s"""WITH $chainSql,
       |tok AS MATERIALIZED (
       |  SELECT word, CAST(len(syms) AS BIGINT) AS n_tok FROM v${rounds + 1}),
       |wc AS (SELECT doc_id, source, word, CAST(COUNT(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, source,
       |               UNNEST(string_split(text, ' ')) AS word FROM documents) x
       |       WHERE word <> '' GROUP BY 1, 2, 3),
       |per AS (SELECT source, doc_id,
       |          CAST(SUM(tf * n_tok) AS BIGINT) AS tokens,
       |          CAST(SUM(tf * length(word)) AS BIGINT) AS chars
       |        FROM wc JOIN tok USING (word) GROUP BY 1, 2)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(tokens) AS BIGINT) AS total_bpe_tokens,
       |  CAST(MAX(tokens) AS BIGINT) AS max_doc_tokens,
       |  ${fixedDecSql(rhuSql("CAST(SUM(chars) AS BIGINT)", "CAST(SUM(tokens) AS BIGINT)", 1000000L), 6)} AS chars_per_token
       |FROM per GROUP BY 1 ORDER BY 1""".stripMargin
  }

  override def defs: Map[String, (SparkSession, String) => DataFrame] =
    Map("t21_bpe_merges" -> t21, "t22_bpe_tokenize" -> t22,
      // streaming twin: tokenize-at-ingest against the persisted
      // tokenizer; per-doc Append emissions re-aggregate to the batch
      // report exactly, so the same full-chain oracle checks it
      "t22_tokenize_stream" ->
        ((s, d) => graft.streaming.StreamingBpeTokenize.replayGate(s, d)))

  override def oracle: Map[String, String] =
    Map("t21_bpe_merges" -> t21Sql, "t22_bpe_tokenize" -> t22Sql,
      "t22_tokenize_stream" -> t22Sql)

  // t22 is train-once/tokenize-many: the tokenizer train is charged
  // separately; the t22 line measures the apply join over the persisted
  // vocab — the per-corpus-batch cost a user actually pays
  override def builds: Seq[ArtifactBuild] = Seq(
    ArtifactBuild("t22_bpe_tokenize_build", Seq("t22_bpe_tokenize"),
      (s, d) => graft.operators.BpeTokenizer.build(s, d,
        graft.operators.BpeTokenizer.tokenizerDirFor(d))))
}
