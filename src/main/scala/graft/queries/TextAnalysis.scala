package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for a large-scale training-data pipeline
  * over the `documents` table: token counting, quality scoring,
  * language-ID heuristics, word frequency. Every query here is a
  * single partial+final hash aggregate (or a map-side explode + agg)
  * — no driver-side loops, linear in corpus size, shuffle only on the
  * small grouping key.
  */
object TextAnalysis extends QueryModule {
  import Q._

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Whitespace token count, engine-portable: texts are single-space
    * separated, so tokens = spaces + 1. (The BPE-style pre-tokenizer
    * path is t07 via functions.BpeTokenCount — its lookahead regex is
    * not expressible in DuckDB SQL, so t07 is checked by the
    * Python-side oracle in scripts/py_oracles.py.) */
  private def tokenCount(c: Column): Column =
    (length(c) - length(regexp_replace(c, " ", "")) + 1).cast(LongType)
  private def tokenCountSql(c: String): String =
    s"CAST(length($c) - length(replace($c, ' ', '')) + 1 AS BIGINT)"

  // t01: corpus token statistics per language.
  private def t01(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text"))).as("total_tokens"),
        davg(tokenCount(col("text"))).as("avg_tokens"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("lang")

  private val t01Sql =
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(${tokenCountSql("text")}) AS BIGINT) AS total_tokens,
       |  ${davgSql(tokenCountSql("text"))} AS avg_tokens,
       |  MAX(n_chars) AS max_chars
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // t02: quality scoring per source — mean token length, short/long
  // flags, stopword density (the quality heuristics of C4-style
  // pipelines, expressed engine-portably).
  // Ratios are aggregate-level (sum/sum of exact ints → one double
  // division), never per-row: a per-row int/int can land exactly on a
  // decimal rounding tie (dyadic rationals), which the two engines
  // break differently.
  private def t02(s: SparkSession, d: String): DataFrame = {
    val toks = tokenCount(col("text"))
    val stopHits = ((length(col("text")) -
      length(regexp_replace(col("text"), " the ", ""))) / lit(5)).cast(LongType)
    docs(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        fixedDec(rhu(sum(col("n_chars")), sum(toks), 1000000L), 6).as("avg_token_len"),
        sum(when(toks < 20, 1L).otherwise(0L)).as("n_short"),
        sum(when(toks > 80, 1L).otherwise(0L)).as("n_long"),
        fixedDec(rhu(sum(stopHits), sum(toks), 1000000000L), 6).as("stop_per_1k_tokens"))
      .orderBy("source")
  }

  private val t02Sql = {
    val toks = tokenCountSql("text")
    val stop = s"CAST(floor((length(text) - length(replace(text, ' the ', ''))) / 5) AS BIGINT)"
    s"""SELECT source, COUNT(*) AS n_docs,
       |  ${fixedDecSql(rhuSql("CAST(SUM(n_chars) AS BIGINT)", s"CAST(SUM($toks) AS BIGINT)", 1000000L), 6)} AS avg_token_len,
       |  CAST(SUM(CASE WHEN ($toks) < 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       |  CAST(SUM(CASE WHEN ($toks) > 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
       |  ${fixedDecSql(rhuSql(s"CAST(SUM($stop) AS BIGINT)", s"CAST(SUM($toks) AS BIGINT)", 1000000000L), 6)} AS stop_per_1k_tokens
       |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // t03: language-ID heuristic (stopword hit) scored against the
  // labeled lang column — accuracy per language.
  private def t03(s: SparkSession, d: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val pred = when(padded.contains(" the ") || padded.contains(" and "), "en")
      .otherwise("other")
    docs(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(pred === col("lang"), 1L).otherwise(0L)).as("n_pred_match"))
      .orderBy("lang")
  }

  private val t03Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN (CASE WHEN contains(' ' || text || ' ', ' the ')
      |                            OR contains(' ' || text || ' ', ' and ')
      |                      THEN 'en' ELSE 'other' END) = lang
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_match
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // t04: global word frequency via explode — top 25 (map-side explode,
  // one shuffle on the word key, full sort only on the aggregated set).
  private def t04(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("word"))
      .limit(25)

  private val t04Sql =
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      |WHERE word <> ''
      |GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 25""".stripMargin

  // t05: n-gram profile — word-bigram counts per language, top 20
  // (explode over zipped shifted arrays; the shingle primitive reused
  // by MinHash dedup).
  // round-9 rewrite: bigrams come pre-counted per doc from the
  // functions.BigramTfPairs scan kernel (one byte pass; the bigram
  // string is the contiguous source slice, zero HOF allocation), so
  // the explode emits DISTINCT-per-doc rows straight into the
  // map-side-combining (lang, bigram) aggregate. Oracle unchanged.
  private def t05(s: SparkSession, d: String): DataFrame = {
    docs(s, d)
      .select(col("lang"),
        explode(graft.functions.GraftFunctions.bigramTfPairs(col("text")))
          .as("p"))
      .groupBy(col("lang"), col("p.t").as("bigram"))
      .agg(sum(col("p.c")).as("n"))
      .orderBy(desc("n"), col("lang"), col("bigram"))
      .limit(20)
  }

  private val t05Sql =
    """SELECT lang, bigram, COUNT(*) AS n
      |FROM (
      |  SELECT lang, unnest(list_transform(range(1, len(string_split(text,' '))),
      |    i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bigram
      |  FROM documents) d
      |GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2 LIMIT 20""".stripMargin

  // t07: BPE-style pre-token statistics per language — the
  // "token budget" pass of a training-data pipeline, over the GPT-2
  // pre-tokenization pattern (functions.TextTokens). Oracle: the
  // pattern's lookahead has no DuckDB equivalent, so the gate
  // recomputes the whole pass in Python (regex module — the
  // pattern's native dialect; scripts/py_oracles.py); value-level
  // checks also live in FunctionsSpec.
  private def t07(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.bpeTokenCount
    val toks = bpeTokenCount(col("text"))
    docs(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(toks).as("total_bpe_tokens"),
        max(toks).as("max_bpe_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy("lang")
  }

  // t06: document fingerprinting via the codegen'd 64-bit rolling
  // hash (order-sensitive content id) — fingerprint uniqueness per
  // language. Oracle: Python-side recompute of the same published
  // polynomial (scripts/py_oracles.py).
  private def t06(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.rollingHash64
    docs(s, d)
      .select(col("lang"), rollingHash64(col("text")).as("fp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_distinct_fp"))
      .orderBy("lang")
  }

  // t10: character-bigram language-model quality score — the
  // LM-perplexity-filter stage of a data pipeline (score each doc by
  // how typical its character transitions are of the corpus), in
  // EXACT fixed-point so the oracle hash-matches: the model is the
  // corpus's own transition table (bigram count / start-char count),
  // each transition's probability is scaled to an integer micro-prob
  // via the Q.rhu identity (exact while 2·count·10⁶ < 2⁵³, i.e.
  // corpora under ~4.5e9 transitions — restate the scale at larger
  // corpora), and every output is an integer sum/count. Docs shorter
  // than 2 chars have no transitions and drop out on both sides.
  //
  // Scale shape: one explode (linear in corpus chars) collapsed
  // IMMEDIATELY to per-(lang, bigram) counts — every later step runs
  // on ≤ |langs|·|alphabet|² rows, not on the corpus. The transition
  // probability q depends only on the bigram, so Σ_transitions q =
  // Σ_bigrams cnt·q, and the model tables (global bigram / start-char
  // counts) roll up FROM the collapsed counts instead of re-scanning
  // the explode; n_docs (docs with ≥1 transition ⇔ ≥2 chars) never
  // needs the explode at all. The earlier per-transition form joined
  // the count maps to every exploded row and ran countDistinct(doc_id)
  // over that join — linear in corpus chars through two joins and a
  // distinct; this form's joins and distinct are alphabet-bounded
  // (measured 2.6 s → 0.6 s at sf0.1, identical output).
  private def t10(s: SparkSession, d: String): DataFrame = {
    // transition counts off the codegen char-bigram kernel (round 12;
    // built for t23): the explode feeds the (lang, bg) aggregate with
    // per-doc COLLAPSED (pair, count) rows — ≤ min(len−1, |alphabet|²)
    // per doc instead of one row per transition, and the scan stays in
    // one WSCG span (the interpreted transform/slice/sequence explode
    // was the query's dominant cost). A doc has ≥1 kernel pair iff it
    // has ≥2 chars, so the n_docs gate reads the same projection.
    import graft.functions.GraftFunctions.charBigramTfPairs
    val base = docs(s, d)
      .select(col("lang"), charBigramTfPairs(col("text")).as("ps"))
    val lb = base
      .select(col("lang"), explode(col("ps")).as("p"))
      .groupBy(col("lang"), col("p.t").as("bg")).agg(sum(col("p.c")).as("cnt"))
    val bc = lb.groupBy(col("bg").as("bck")).agg(sum(col("cnt")).as("bcnt"))
    val uc = bc.groupBy(substring(col("bck"), 1, 1).as("uck"))
      .agg(sum(col("bcnt")).as("ucnt"))
    val nd = base
      .filter(size(col("ps")) >= 1)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    lb.join(broadcast(bc), col("bg") === col("bck"))
      .join(broadcast(uc), substring(col("bg"), 1, 1) === col("uck"))
      .withColumn("q", rhu(col("bcnt"), col("ucnt"), 1000000L))
      .groupBy(col("lang"))
      .agg(
        sum(col("cnt")).as("total_trans"),
        sum(col("cnt") * col("q")).as("total_q"),
        rhu(sum(col("cnt") * col("q")), sum(col("cnt")), 1L).as("avg_prob_e6"))
      .join(nd, "lang")
      .select(col("lang"), col("n_docs"), col("total_trans"), col("total_q"),
        col("avg_prob_e6"))
      .orderBy("lang")
  }

  private val t10Sql =
    s"""WITH cs AS (SELECT doc_id, lang, string_split(text, '') AS c FROM documents),
       |tr AS (SELECT doc_id, lang, c[i] || c[i+1] AS bg, c[i] AS c1
       |       FROM cs, UNNEST(range(1, len(c))) AS t(i)),
       |bc AS (SELECT bg, COUNT(*) AS bcnt FROM tr GROUP BY 1),
       |uc AS (SELECT c1, COUNT(*) AS ucnt FROM tr GROUP BY 1),
       |q AS (SELECT tr.doc_id, tr.lang, ${rhuSql("bcnt", "ucnt", 1000000L)} AS q
       |      FROM tr JOIN bc USING (bg) JOIN uc USING (c1))
       |SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS total_trans,
       |  CAST(SUM(q) AS BIGINT) AS total_q,
       |  ${rhuSql("SUM(q)", "COUNT(*)", 1L)} AS avg_prob_e6
       |FROM q GROUP BY 1 ORDER BY 1""".stripMargin

  // t23: CCNet-style PERPLEXITY terciles — the c06 bucketing contract
  // driven by the real CCNet scorer (Wenzek et al. 2020 buckets web
  // text by LM perplexity, head/middle/tail; c06 used the stopword
  // heuristic as the score). Score = per-DOC average char-bigram
  // transition micro-probability under the corpus's own transition
  // model (the t10 LM), quantized to per-mille (0..1000) with the
  // one-IEEE-divide floor idiom, then the per-language value-tercile
  // histogram machinery (ties never split a bucket).
  //
  // Scale shape — two corpus scans, zero corpus-sized exchanges:
  // (1) model build: the codegen charBigramTfPairs kernel emits
  // per-doc collapsed (pair, count) arrays, so the explode feeds the
  // (bg) aggregate at ≤ min(len−1, |alphabet|²) rows per doc and the
  // partial agg collapses to alphabet² rows per partition — the
  // model tables (bg→bcnt, first-char→ucnt) are broadcast-sized by
  // construction. (2) scoring: the same kernel's pairs broadcast-join
  // the model (map-side, stays in the scan's WSCG span) and aggregate
  // per (doc_id, lang) — count-weighted Σ cnt·q ≡ the oracle's
  // per-transition Σ q exactly (integers) — collapsing map-side to
  // ~n_docs thin rows, the only data-sized exchange. Bucketing then
  // runs on the (lang, score) HISTOGRAM (≤ |langs|·1001 rows), never
  // the corpus — the c06/a07 idiom. Exact while 2·bcnt·10⁶ < 2⁵³
  // (t10's bound) and per-doc Σq < 2⁵³ (chars/doc < 9e9).
  /** t23's per-doc scorer, factored for reuse (c14 curriculum order):
    * (doc_id, lang, ntr, qs) for every doc with ≥1 transition — qs =
    * the per-mille-quantized average transition micro-probability
    * under the corpus's own char-bigram LM (0..1000; higher = more
    * typical text). */
  private[graft] def t23DocScores(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.charBigramTfPairs
    def pg = docs(s, d)
      .select(col("doc_id"), col("lang"),
        explode(charBigramTfPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.t").as("bg"), col("p.c").as("cnt"))
    val bc = pg.groupBy(col("bg")).agg(sum(col("cnt")).as("bcnt"))
    val uc = bc.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum(col("bcnt")).as("ucnt"))
    val q = bc.join(uc, substring(col("bg"), 1, 1) === col("c1"))
      .select(col("bg").as("qbg"), rhu(col("bcnt"), col("ucnt"), 1000000L).as("q"))
    pg.join(broadcast(q), col("bg") === col("qbg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt") * col("q")).as("sq"), sum(col("cnt")).as("ntr"))
      .select(col("doc_id"), col("lang"), col("ntr"),
        floor(col("sq").cast(DoubleType) /
          (col("ntr").cast(DoubleType) * lit(1000.0))).cast(LongType).as("qs"))
  }

  /** The t23 scoring chain as oracle CTEs ending in `q2(doc_id, lang,
    * ntr, qs)` — shared by t23's and c14's oracle SQL. */
  private[graft] val t23ScoreCtes: String =
    s"""cs AS (SELECT doc_id, lang, string_split(text, '') AS c FROM documents),
       |tr AS (SELECT doc_id, lang, c[i] || c[i+1] AS bg, c[i] AS c1
       |       FROM cs, UNNEST(range(1, len(c))) AS t(i)),
       |bc AS (SELECT bg, COUNT(*) AS bcnt FROM tr GROUP BY 1),
       |uc AS (SELECT c1, COUNT(*) AS ucnt FROM tr GROUP BY 1),
       |sc AS (SELECT tr.doc_id, tr.lang,
       |         CAST(SUM(${rhuSql("bcnt", "ucnt", 1000000L)}) AS BIGINT) AS sq,
       |         COUNT(*) AS ntr
       |       FROM tr JOIN bc USING (bg) JOIN uc USING (c1) GROUP BY 1, 2),
       |q2 AS (SELECT doc_id, lang, ntr,
       |         CAST(FLOOR(CAST(sq AS DOUBLE) / (CAST(ntr AS DOUBLE) * 1000.0)) AS BIGINT) AS qs
       |       FROM sc)""".stripMargin

  private def t23(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = t23DocScores(s, d)
      .select(col("lang"), col("ntr"), col("qs"))
      .groupBy(col("lang"), col("qs"))
      .agg(count(lit(1)).as("c"), sum(col("ntr")).as("t"))
    val wOrd = Window.partitionBy("lang").orderBy("qs")
    val wAll = Window.partitionBy("lang")
    h.withColumn("cumx", sum(col("c")).over(wOrd) - col("c"))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("bucket", least(lit(2L),
        floor(lit(3.0) * col("cumx").cast(DoubleType) / col("n").cast(DoubleType))))
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("c")).as("n_docs"), sum(col("t")).as("n_trans"),
        min(col("qs")).as("min_q"), max(col("qs")).as("max_q"))
      .orderBy("lang", "bucket")
  }

  private val t23Sql =
    s"""WITH $t23ScoreCtes,
       |h AS (SELECT lang, qs, COUNT(*) AS c, SUM(ntr) AS t FROM q2 GROUP BY 1, 2),
       |ch AS (SELECT lang, qs, c, t,
       |         SUM(c) OVER (PARTITION BY lang ORDER BY qs) - c AS cumx,
       |         SUM(c) OVER (PARTITION BY lang) AS n FROM h),
       |b AS (SELECT lang, qs, c, t,
       |        LEAST(2, CAST(FLOOR(3.0 * cumx / n) AS BIGINT)) AS bucket FROM ch)
       |SELECT lang, bucket, CAST(SUM(c) AS BIGINT) AS n_docs,
       |  CAST(SUM(t) AS BIGINT) AS n_trans, MIN(qs) AS min_q, MAX(qs) AS max_q
       |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // t12: BM25 retrieval — the quality-retrieval / nearest-document
  // operator of a text corpus store (rank documents against a query
  // term set by tf·idf with the BM25 saturation curve, k1=1.2,
  // b=0.75). Three corpus documents act as queries (their distinct
  // words are the term set); every other document is scored and the
  // top 5 per query are returned via the rank-window idiom (which
  // plans.TopKRewrite turns into the bounded map-side aggregate).
  //
  // Determinism: the standard BM25 idf is a log — a libm call whose
  // last bits differ across engines — so this uses the RATIONAL idf
  // (N − df + ½)/(df + ½) (the un-logged Robertson–Sparck Jones
  // weight; same ordering intent, no transcendentals). Each term's
  // contribution is a ratio of two EXACT BIGINT products:
  //   num = (2N − 2df + 1) · 22 · tf · Σdl
  //   den = (2df + 1) · (10·tf·Σdl + 3·Σdl + 9·dl·N)
  // (k1/b folded in: ×10 clears 1.2/0.75/0.3, ×2 clears the ½s, 22 =
  // 10·(k1+1)). Both sides compute the SAME int64→double casts, one
  // IEEE divide, ×1e6, floor — bit-identical across engines — then
  // sum the floored longs (order-free) and divide back at scale 6.
  // Overflow bound: num < 2⁶³ up to ~5 M docs at ~60 words/doc; past
  // that the factors get a common-divisor reduction at ingest.
  //
  // Scale shape: postings (tf), doc lengths (dl), and df are one
  // explode + hash-aggs; scoring joins the 3-query term set to the
  // postings list on the term key (shuffle or AQE-broadcast — df and
  // dl stay UNHINTED: vocabulary and doc count grow with the corpus
  // and must not be force-broadcast at 100 TB); the 1-row corpus
  // stats broadcast. Top-k is per-query bounded. Everything linear.
  /** BM25-scored (q_id, doc_id, sc) pairs for the given query doc
    * ids — the ONE owner of the lexical-ranking contract, shared by
    * t12 (top-5 report) and s11's hybrid RRF fusion (Similarity).
    * Scores are sums of floored-long per-term contributions (see the
    * t12 scaladoc), exact and engine-stable. */
  private[queries] def bm25Scored(s: SparkSession, d: String, qIds: Seq[Long]): DataFrame = {
    // round-9 rewrite: the (doc, word, tf) inverted index comes
    // pre-aggregated from the functions.WordTfPairs scan kernel — the
    // explode emits distinct-per-doc term rows (no (doc, word) GROUP
    // BY shuffle of every occurrence), and the document length is a
    // per-row array fold (no shuffle at all). Oracle unchanged.
    val pairs = docs(s, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.wordTfPairs(col("text")).as("ps"))
    val tf = pairs.select(col("doc_id"), explode(col("ps")).as("p"))
      .select(col("doc_id"), col("p.t").as("word"), col("p.c").as("tf"))
    // doc length = Σ tf = the plain non-empty token count — computed
    // by the codegen'd word_count kernel rather than a higher-order
    // aggregate() fold over ps (HOFs are CodegenFallback and broke
    // this projection out of the WSCG scan stage)
    val dl = docs(s, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.wordCount(col("text")).as("dl"))
      .where(col("dl") > 0)
    val st = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sumdl"))
    val dfw = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val qt = tf.filter(col("doc_id").isin(qIds: _*))
      .select(col("doc_id").as("q_id"), col("word"))
    val num = (lit(2) * col("n_docs") - lit(2) * col("df") + lit(1)) *
      lit(22) * col("tf") * col("sumdl")
    val den = (lit(2) * col("df") + lit(1)) *
      (lit(10) * col("tf") * col("sumdl") + lit(3) * col("sumdl") +
        lit(9) * col("dl") * col("n_docs"))
    qt
      .join(tf, Seq("word"))
      .filter(col("doc_id") =!= col("q_id"))
      .join(dfw, Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .withColumn("contrib",
        floor(num.cast(DoubleType) / den.cast(DoubleType) * lit(1000000.0d)))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("sc"))
  }

  private def t12(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bm25Scored(s, d, Seq(7L, 113L, 311L))
    val w = Window.partitionBy(col("q_id")).orderBy(desc("sc"), col("doc_id"))
    scored.withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("doc_id"), fixedDec(col("sc"), 6).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** Oracle twin of [[bm25Scored]]: the CTE chain ending in
    * `sc (q_id, doc_id, sc)` — shared by t12Sql and s11's oracle so
    * the scoring contract has one SQL owner too. */
  private[queries] val bm25CtesSql: String =
    """tf AS (SELECT doc_id, word, COUNT(*) AS tf
      |            FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
      |                  FROM documents) x
      |            WHERE word <> '' GROUP BY 1, 2),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
      |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sumdl FROM dl),
      |dfw AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT doc_id AS q_id, word FROM tf WHERE doc_id IN (7, 113, 311)),
      |sc AS (SELECT q.q_id, t.doc_id,
      |         SUM(CAST(FLOOR(
      |           CAST((2*st.n_docs - 2*f.df + 1) * 22 * t.tf * st.sumdl AS DOUBLE)
      |           / CAST((2*f.df + 1) * (10*t.tf*st.sumdl + 3*st.sumdl + 9*d.dl*st.n_docs) AS DOUBLE)
      |           * 1000000.0) AS BIGINT)) AS sc
      |       FROM qt q
      |       JOIN tf t ON t.word = q.word AND t.doc_id <> q.q_id
      |       JOIN dfw f ON f.word = q.word
      |       JOIN dl d ON d.doc_id = t.doc_id, st
      |       GROUP BY 1, 2)""".stripMargin

  private val t12Sql =
    s"""WITH $bm25CtesSql,
       |r AS (SELECT q_id, doc_id, sc,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY sc DESC, doc_id) AS BIGINT) AS rnk
       |      FROM sc)
       |SELECT q_id, rnk, doc_id, ${fixedDecSql("sc", 6)} AS score
       |FROM r WHERE rnk <= 5 ORDER BY 1, 2""".stripMargin

  // t13: PMI collocations — the "phrase mining" pass of corpus
  // analysis: the top bigrams whose components co-occur far more than
  // chance, the statistic behind collocation extraction and
  // tokenizer-merge candidates. Ranked by the PMI RATIO
  // p(xy) / (p(x)·p(y)) rather than its log: log is monotonic so the
  // ranking is identical, and the ratio is a fixed-shape
  // product/quotient of exact integer aggregates — both engines
  // evaluate the same IEEE-754 expression tree bit-identically,
  // whereas ln() results differ per libm. A min-support gate
  // (n_pair ≥ 5) drops the noise tail, as every collocation extractor
  // does.
  //
  // Scale shape: word and bigram counts come pre-aggregated per doc
  // from the TokenTfPairs scan kernels (distinct-per-doc explode into
  // map-side-combining aggregates — never a per-occurrence shuffle);
  // the component joins are vocabulary-sized (AQE broadcasts them at
  // small SF, shuffle-hash at web-corpus vocab scale); corpus totals
  // ride one broadcast one-row cross; the final ranking is a
  // TakeOrdered k=20, no full sort. Bigrams with an empty component
  // (double-space artifacts) drop at the inner joins on both sides —
  // word counts exclude empties by tokenizer contract.
  private def t13(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.{bigramTfPairs, wordTfPairs}
    val wc = docs(s, d)
      .select(explode(wordTfPairs(col("text"))).as("p"))
      .groupBy(col("p.t").as("word")).agg(sum(col("p.c")).as("cw"))
    val bcAll = docs(s, d)
      .select(explode(bigramTfPairs(col("text"))).as("p"))
      .groupBy(col("p.t").as("bigram")).agg(sum(col("p.c")).as("cxy"))
    val totals = wc.agg(sum(col("cw")).as("nw"))
      .crossJoin(bcAll.agg(sum(col("cxy")).as("nb")))
    bcAll.filter(col("cxy") >= 5)
      .withColumn("wx", substring_index(col("bigram"), " ", 1))
      .withColumn("wy", substring_index(col("bigram"), " ", -1))
      .join(wc.select(col("word").as("wx"), col("cw").as("cx")), "wx")
      .join(wc.select(col("word").as("wy"), col("cw").as("cy")), "wy")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("cxy").as("n_pair"),
        col("cx").as("n_left"), col("cy").as("n_right"),
        ((col("cxy").cast(DoubleType) * col("nw").cast(DoubleType) /
          (col("nb").cast(DoubleType) * col("cx").cast(DoubleType))) *
          (col("nw").cast(DoubleType) / col("cy").cast(DoubleType)))
          .as("pmi_ratio"))
      .orderBy(desc("pmi_ratio"), col("bigram"))
      .limit(20)
  }

  private val t13Sql =
    """WITH w AS (SELECT word, COUNT(*) AS cw
      |           FROM (SELECT unnest(string_split(text, ' ')) AS word
      |                 FROM documents) t
      |           WHERE word <> '' GROUP BY 1),
      |b AS (SELECT bigram, COUNT(*) AS cxy
      |      FROM (SELECT unnest(list_transform(range(1, len(string_split(text,' '))),
      |              i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bigram
      |            FROM documents) t
      |      GROUP BY 1),
      |tot AS (SELECT (SELECT SUM(cw) FROM w) AS nw,
      |               (SELECT SUM(cxy) FROM b) AS nb)
      |SELECT bigram, cxy AS n_pair, wl.cw AS n_left, wr.cw AS n_right,
      |  (CAST(cxy AS DOUBLE) * CAST(nw AS DOUBLE)
      |     / (CAST(nb AS DOUBLE) * CAST(wl.cw AS DOUBLE)))
      |    * (CAST(nw AS DOUBLE) / CAST(wr.cw AS DOUBLE)) AS pmi_ratio
      |FROM b
      |CROSS JOIN tot
      |JOIN w wl ON split_part(bigram, ' ', 1) = wl.word
      |JOIN w wr ON split_part(bigram, ' ', 2) = wr.word
      |WHERE cxy >= 5
      |ORDER BY 5 DESC, 1 LIMIT 20""".stripMargin

  // t14: Zipf rank-frequency profile per language — the corpus-shape
  // diagnostic behind vocabulary sizing and tokenizer budgeting: words
  // are ranked by frequency and folded into doubling rank buckets
  // (1, 2–3, 4–7, …); under Zipf's law each bucket carries roughly
  // constant probability mass, so the share_ppm column IS the
  // (integer-exact) rank-frequency slope diagnostic. No libm log
  // anywhere: the bucket index floor(log2(rank)) is computed as
  // length(bin(rank)) − 1 — exact integer bit-length on both engines —
  // and the mass share is a Q.rhu integer ppm. (A fitted log-log
  // regression slope would need ln(): per-libm last-ulp drift, the
  // t13 determinism note.)
  //
  // Scale shape: vocabulary counts come pre-aggregated per doc from
  // the WordTfPairs scan kernel (map-side combine, one vocab-keyed
  // shuffle). Ranking never sorts the corpus OR the whole vocabulary
  // in one partition: rank = (#words with strictly higher frequency,
  // from a cumulative window over the per-lang FREQUENCY HISTOGRAM —
  // distinct-frequency-bounded, ≪ vocab) + row_number inside the
  // (lang, freq) tie class (tie-class-bounded). The a07 two-level
  // histogram idiom applied to ranking.
  private def t14(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions.wordTfPairs
    import org.apache.spark.sql.expressions.Window
    val vocab = docs(s, d)
      .select(col("lang"), explode(wordTfPairs(col("text"))).as("p"))
      .groupBy(col("lang"), col("p.t").as("word"))
      .agg(sum(col("p.c")).as("f"))
    val fh = vocab.groupBy(col("lang"), col("f")).agg(count(lit(1)).as("nf"))
      .withColumn("higher",
        sum(col("nf")).over(Window.partitionBy("lang").orderBy(desc("f")))
          - col("nf"))
    val ranked = vocab.join(fh, Seq("lang", "f"))
      .withColumn("rank", col("higher") + row_number()
        .over(Window.partitionBy(col("lang"), col("f")).orderBy("word")))
    val tot = vocab.groupBy(col("lang")).agg(sum(col("f")).as("tot"))
    ranked
      .withColumn("bucket", (length(bin(col("rank"))) - 1).cast(LongType))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_words"), sum(col("f")).as("bucket_freq"),
        max(col("f")).as("top_freq"))
      .join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("bucket"), col("n_words"), col("bucket_freq"),
        col("top_freq"),
        rhu(col("bucket_freq"), col("tot"), 1000000L).as("share_ppm"))
      .orderBy("lang", "bucket")
  }

  // Oracle states the SEMANTICS (a straight row_number rank), not the
  // histogram plan.
  private val t14Sql =
    s"""WITH v AS (SELECT lang, word, COUNT(*) AS f
       |           FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
       |                 FROM documents) t
       |           WHERE word <> '' GROUP BY 1, 2),
       |r AS (SELECT lang, f,
       |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, word) AS rank
       |      FROM v),
       |tot AS (SELECT lang, SUM(f) AS tot FROM v GROUP BY 1)
       |SELECT r.lang, CAST(length(bin(rank)) - 1 AS BIGINT) AS bucket,
       |  COUNT(*) AS n_words, CAST(SUM(f) AS BIGINT) AS bucket_freq, MAX(f) AS top_freq,
       |  ${rhuSql("SUM(f)", "ANY_VALUE(tot)", 1000000L)} AS share_ppm
       |FROM r JOIN tot ON r.lang = tot.lang
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // t15: n-gram novelty decay — the corpus-growth diagnostic behind
  // "is more data still adding information": a word-trigram occurrence
  // is NOVEL iff its gram first appears in this document (owner =
  // min doc_id, the d09 ownership rule); per-source novelty ppm is the
  // deduplicated-information rate of that slice of the corpus.
  //
  // Scale shape: one gram explode collapsed IMMEDIATELY to per-(doc,
  // gram) counts (map-side combine); ownership is a second gram-keyed
  // aggregate over that collapsed set; the occurrences⋈owner join is
  // gram-keyed equi (AQE broadcasts at small SF, shuffle-hash at
  // corpus scale — the owner side is distinct-gram-bounded). Linear
  // stages throughout; hot grams cost only a cheap min/count reduce.
  private def t15(s: SparkSession, d: String): DataFrame = {
    // Shuffle + scan shape (the round-11 rewrite; was 4 occurrence-
    // sized exchanges over split/slice/array_join-built gram strings
    // ≈ 22 s at sf10): grams come from the codegen'd trigram_tf_pairs
    // scan kernel (one byte pass per doc, gram = contiguous source
    // slice — the t05/t12 kernel family, value-identity property-
    // specced in TokenTfPairsSpec), already aggregated per (doc, gram),
    // so no (doc, gram) exchange exists at all. The owner map is the
    // only global piece: its partial aggregate ships ≤|vocab| rows per
    // partition, and the tf⋈owner join stays a gram-keyed equi join
    // that AQE turns into a broadcast probe when the vocab is small
    // (and a sort-merge with ONE tf-pair exchange when it isn't — the
    // adaptive scale path). The per-doc aggregate's map-side partial
    // collapses each doc to one row per partition (tf rows stay
    // partition-local under the broadcast probe), so its exchange
    // ships ≈|docs| rows. n_grams = Σ in-doc counts = occurrences.
    val tf = docs(s, d)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.GraftFunctions.trigramTfPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("source"),
        col("p.t").as("gram"), col("p.c").as("c"))
    val owner = tf.groupBy(col("gram")).agg(min(col("doc_id")).as("owner"))
    tf.join(owner, Seq("gram"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("owner") === col("doc_id"), col("c")).otherwise(0L)).as("novel"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs_with_grams"),
        sum(col("n_grams")).as("total_grams"),
        sum(col("novel")).as("novel_grams"),
        rhu(sum(col("novel")), sum(col("n_grams")), 1000000L).as("novelty_ppm"))
      .orderBy("source")
  }

  private val t15Sql =
    s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       |occ AS (SELECT doc_id, source, array_to_string(ws[p:p+2], ' ') AS gram
       |        FROM w, UNNEST(range(1, greatest(len(ws) - 1, 1))) AS t(p)),
       |own AS (SELECT gram, MIN(doc_id) AS owner FROM occ GROUP BY 1),
       |pd AS (SELECT doc_id, source, COUNT(*) AS n_grams,
       |         SUM(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS novel
       |       FROM occ JOIN own USING (gram) GROUP BY 1, 2)
       |SELECT source, COUNT(*) AS docs_with_grams,
       |  CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       |  CAST(SUM(novel) AS BIGINT) AS novel_grams,
       |  ${rhuSql("SUM(novel)", "SUM(n_grams)", 1000000L)} AS novelty_ppm
       |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin

  // t18: importance-weighted data selection (the DSIR idea — Xie et
  // al. 2023, "Data Selection for Language Models via Importance
  // Resampling", arXiv:2302.03169): rank raw/train documents by how
  // much their word distribution looks like a small target/eval set,
  // the selection pass a pretraining pipeline runs to pick corpus
  // slices matching a target domain. Target = doc_id % 37 = 0 (the
  // t08/t16/t17 eval-split convention), train = the rest.
  //
  // Determinism: DSIR's weight is a sum of feature log-likelihood
  // ratios — a libm log whose last bits differ across engines — so
  // (the t12/t13 move) this scores with the RATIONAL affinity
  //   contrib(w) = (tf·tgt_df(w)·n_raw) / (dl·raw_df(w)·n_tgt),
  // each term a ratio of two exact BIGINT products: length-normalized
  // term mass weighted by how target-concentrated the word is (the
  // df ratio tgt_df/raw_df, split-size normalized). Both engines
  // compute the same int64→double casts, ONE IEEE divide, ×1e6,
  // floor — bit-identical — then sum the floored longs (order-free)
  // and divide back at scale 6. Words absent from the target
  // contribute 0 and are dropped by the inner join. Overflow bound:
  // tf·tgt_df·n_raw < 2⁶³ up to ~10⁴·10⁶·10⁸; past that the df
  // factors get a common-divisor reduction at ingest.
  //
  // Scale shape: tf/df come pre-aggregated from the WordTfPairs scan
  // kernel (one byte pass, distinct-per-doc rows straight into
  // map-side-combining word-keyed aggregates); scoring is word-keyed
  // equi joins (tgt_df is the small side — AQE broadcasts it; raw_df
  // stays UNHINTED: the vocabulary grows with the corpus and must not
  // be force-broadcast at 100 TB), one doc-keyed dl join, the 1-row
  // split-counts broadcast, and a bounded TakeOrdered top-50.
  // Everything linear, no cartesian.
  private def t18(s: SparkSession, d: String): DataFrame = {
    val pairs = docs(s, d)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.wordTfPairs(col("text"))).as("p"))
      .select(col("doc_id"), col("p.t").as("word"), col("p.c").as("tf"))
    val tgtDf = pairs.filter(col("doc_id") % 37 === 0)
      .groupBy(col("word")).agg(count(lit(1)).as("tgt_df"))
    val trainTf = pairs.filter(col("doc_id") % 37 =!= 0)
    val rawDf = trainTf.groupBy(col("word")).agg(count(lit(1)).as("raw_df"))
    // dl = non-empty token count via the codegen'd word_count kernel
    // (the t12 idiom — no per-row HOF fold); docs with no words carry
    // no mass on either side
    val dlAll = docs(s, d)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.wordCount(col("text")).as("dl"))
      .where(col("dl") > 0)
    val st = dlAll.agg(
      sum(when(col("doc_id") % 37 === 0, 1L).otherwise(0L)).as("n_tgt"),
      sum(when(col("doc_id") % 37 =!= 0, 1L).otherwise(0L)).as("n_raw"))
    val dl = dlAll.filter(col("doc_id") % 37 =!= 0)
    val num = col("tf") * col("tgt_df") * col("n_raw")
    val den = col("dl") * col("raw_df") * col("n_tgt")
    trainTf
      .join(tgtDf, Seq("word"))
      .join(rawDf, Seq("word"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .withColumn("contrib",
        floor(num.cast(DoubleType) / den.cast(DoubleType) * lit(1000000.0d)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("sc"))
      .orderBy(desc("sc"), col("doc_id"))
      .limit(50)
      .select(col("doc_id"), col("n_terms"), fixedDec(col("sc"), 6).as("affinity"))
  }

  private val t18Sql =
    s"""WITH tf AS (SELECT doc_id, word, COUNT(*) AS tf
       |            FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
       |                  FROM documents) x
       |            WHERE word <> '' GROUP BY 1, 2),
       |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
       |st AS (SELECT SUM(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS n_tgt,
       |              SUM(CASE WHEN doc_id % 37 <> 0 THEN 1 ELSE 0 END) AS n_raw
       |       FROM dl),
       |tgt AS (SELECT word, COUNT(*) AS tgt_df FROM tf WHERE doc_id % 37 = 0 GROUP BY 1),
       |raw AS (SELECT word, COUNT(*) AS raw_df FROM tf WHERE doc_id % 37 <> 0 GROUP BY 1),
       |sc AS (SELECT t.doc_id, COUNT(*) AS n_terms,
       |         SUM(CAST(FLOOR(
       |           CAST(t.tf * g.tgt_df * st.n_raw AS DOUBLE)
       |           / CAST(d.dl * r.raw_df * st.n_tgt AS DOUBLE)
       |           * 1000000.0) AS BIGINT)) AS sc
       |       FROM tf t JOIN tgt g USING (word) JOIN raw r USING (word)
       |         JOIN dl d ON d.doc_id = t.doc_id, st
       |       WHERE t.doc_id % 37 <> 0
       |       GROUP BY 1)
       |SELECT doc_id, n_terms, ${fixedDecSql("sc", 6)} AS affinity
       |FROM sc ORDER BY sc DESC, doc_id LIMIT 50""".stripMargin

  // t20: Gopher-style quality-gate battery (Rae et al. 2021, table A1
  // — the public rule set of large-scale corpus filtering), reported
  // per source as rule-level failure counts plus the strict (4/4) and
  // lenient (≥3/4) survivor counts. Four gates, each EXACT integer
  // arithmetic (cross-multiplied bounds — never a per-row float ratio,
  // whose rounding ties the engines break differently):
  //   g1 word count in [50, 100000]          (canonical bounds)
  //   g2 mean word length in [3, 10]         (3·w ≤ nonspace ≤ 10·w)
  //   g3 ≥2 distinct stopwords present       (Gopher's "stop word
  //      filter"; the set is adapted to the synthetic vocabulary —
  //      {the, a, and, of} — since the canonical 8-word set has one
  //      member in-vocab and would gate vacuously)
  //   g4 distinct-word ratio ≥ 1/2           (the repetition proxy;
  //      Gopher gates on duplicate-line/para fractions, which need
  //      newlines the corpus doesn't have)
  // Scale shape: (w, dw) come from the RepetitionStats scan kernel
  // (one byte pass, no explode), the stopword probes are substring
  // containment on the same scan, and the only shuffle is the final
  // |sources|-key aggregate — map-side combined, linear, zero joins.
  /** Per-doc gate flags (source, g1..g4, plus any `carry` columns
    * passed through) — STATELESS, so the streaming twin maps the same
    * projection over a live feed. */
  private[graft] def gateFlags(in: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val sw = Seq(" the ", " a ", " and ", " of ")
      .map(t => when(padded.contains(t), 1L).otherwise(0L))
      .reduce(_ + _)
    val cs = carry.map(col)
    val per = in
      .select(cs ++ Seq(col("source"),
        graft.functions.GraftFunctions.repetitionStats(col("text")).as("r"),
        length(regexp_replace(col("text"), " ", "")).cast(LongType).as("ns"),
        sw.as("sw")): _*)
      .select(cs ++ Seq(col("source"), col("r").getItem(0).as("w"),
        col("r").getItem(1).as("dw"), col("ns"), col("sw")): _*)
    val g1 = when(col("w") >= 50 && col("w") <= 100000L, 1L).otherwise(0L)
    val g2 = when(col("w") * 3 <= col("ns") && col("ns") <= col("w") * 10, 1L)
      .otherwise(0L)
    val g3 = when(col("sw") >= 2, 1L).otherwise(0L)
    val g4 = when(col("dw") * 2 >= col("w"), 1L).otherwise(0L)
    per.select(cs ++ Seq(col("source"),
      g1.as("g1"), g2.as("g2"), g3.as("g3"), g4.as("g4")): _*)
  }

  /** The per-source counter aggregate over gate flags — every output
    * is a SUM of per-doc indicators, so it distributes over any
    * disjoint partition of the docs (the property the streaming twin's
    * window re-aggregation relies on). */
  private[graft] def gateAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_docs"),
    sum(lit(1L) - col("g1")).as("f_words"),
    sum(lit(1L) - col("g2")).as("f_wordlen"),
    sum(lit(1L) - col("g3")).as("f_stopword"),
    sum(lit(1L) - col("g4")).as("f_lexdiv"),
    sum(col("g1") * col("g2") * col("g3") * col("g4")).as("n_pass_all"),
    sum(when(col("g1") + col("g2") + col("g3") + col("g4") >= 3, 1L)
      .otherwise(0L)).as("n_pass_3of4"))

  private def t20(s: SparkSession, d: String): DataFrame =
    gateFlags(docs(s, d))
      .groupBy(col("source"))
      .agg(gateAggs.head, gateAggs.tail: _*)
      .orderBy("source")

  private val t20Sql =
    """WITH per AS (
      | SELECT source,
      |   len(list_filter(string_split(text, ' '), x -> x <> '')) AS w,
      |   len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS dw,
      |   length(replace(text, ' ', '')) AS ns,
      |   (CASE WHEN contains(' ' || text || ' ', ' the ') THEN 1 ELSE 0 END
      |   +CASE WHEN contains(' ' || text || ' ', ' a ') THEN 1 ELSE 0 END
      |   +CASE WHEN contains(' ' || text || ' ', ' and ') THEN 1 ELSE 0 END
      |   +CASE WHEN contains(' ' || text || ' ', ' of ') THEN 1 ELSE 0 END) AS sw
      | FROM documents),
      |g AS (SELECT source,
      |  CASE WHEN w >= 50 AND w <= 100000 THEN 1 ELSE 0 END AS g1,
      |  CASE WHEN 3*w <= ns AND ns <= 10*w THEN 1 ELSE 0 END AS g2,
      |  CASE WHEN sw >= 2 THEN 1 ELSE 0 END AS g3,
      |  CASE WHEN 2*dw >= w THEN 1 ELSE 0 END AS g4
      | FROM per)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(1-g1) AS BIGINT) AS f_words,
      |  CAST(SUM(1-g2) AS BIGINT) AS f_wordlen,
      |  CAST(SUM(1-g3) AS BIGINT) AS f_stopword,
      |  CAST(SUM(1-g4) AS BIGINT) AS f_lexdiv,
      |  CAST(SUM(g1*g2*g3*g4) AS BIGINT) AS n_pass_all,
      |  CAST(SUM(CASE WHEN g1+g2+g3+g4 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_3of4
      |FROM g GROUP BY 1 ORDER BY 1""".stripMargin

  // t24: TRAINABLE quality classifier — distillation of the t20 gate
  // cascade into a depth-3 CART decision tree, trained IN-PLAN by the
  // distributed-histogram method (the PLANET / XGBoost-hist pattern:
  // Panda et al. 2009; Chen & Guestrin 2016 §3.3). The production
  // story is the classifier stage every large pipeline runs (GPT-3
  // App. A, Llama: a cheap model scores every crawl doc against a
  // quality reference); here the teacher is the repo's own Gopher
  // battery — label y = t20's lenient gate (≥3 of 4) — so the oracle
  // can restate the whole procedure and the tree's learned thresholds
  // are READABLE against the gates it distills (it rediscovers the
  // 50-word bound, the stopword count, the distinct-ratio).
  //
  // Features per doc, all exact integers (the rhu idiom for the two
  // ratios): w = word count, cpw10 = round(10·nonspace/w) (mean word
  // length ×10), sw = stopword hits (0..4), dpm = round(1000·dw/w)
  // (distinct-word per-mille). Training, per tree level: ONE
  // map-side-combined aggregate builds the (node, feature, value) →
  // (count, positives) histogram — bounded by nodes·4·|distinct
  // values|, never corpus-sized (a production variant quantizes
  // continuous features to ≤256 buckets first, same shape) — then the
  // DRIVER picks each node's best split by the exact integer
  // criterion |pl·(n−nl) − (pos−pl)·nl| (the two-class covariance
  // numerator; ties broken (feature, value)-ascending; 0 ⇒ the node
  // is a leaf, which also retires pure nodes), and the next level's
  // assignment is a broadcast CASE chain over ≤ 2^level splits.
  // Driver state = the tree (≤7 splits + one small histogram),
  // per-level cost = one scan of the cached feature frame — the
  // honest 100 TB shape for tree training. Exact while n_docs ≤ ~3e9
  // (the criterion's cross-products stay under 2⁶³) — restate with
  // wider arithmetic beyond that.
  //
  // Output: the trained tree's LEAF table (node_id, n_docs, n_pos,
  // majority pred; strict majority, tie ⇒ negative) plus the global
  // training accuracy and split count — the model artifact itself,
  // hash-checked against a DuckDB restatement of the identical
  // training (unrolled per-level CTEs, same integer criterion).
  private[graft] val T24Depth = 3

  private[graft] case class T24Split(node: Long, f: Int, thr: Long)

  /** Per-doc integer feature frame: (doc_id, w, cpw10, sw, dpm, y),
    * plus any `carry` columns passed through. Same scan shape as t20's
    * gateFlags (RepetitionStats kernel for (w, dw), substring stopword
    * probes); y is the ≥3-of-4 gate. STATELESS, so the streaming
    * scoring twin maps the same projection over a live feed. */
  private[graft] def t24FeatsOf(in: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val swc = Seq(" the ", " a ", " and ", " of ")
      .map(t => when(padded.contains(t), 1L).otherwise(0L))
      .reduce(_ + _)
    val cs = carry.map(col)
    val per = in
      .select(cs ++ Seq(col("doc_id"),
        graft.functions.GraftFunctions.repetitionStats(col("text")).as("r"),
        length(regexp_replace(col("text"), " ", "")).cast(LongType).as("ns"),
        swc.as("sw")): _*)
      .select(cs ++ Seq(col("doc_id"), col("r").getItem(0).as("w"),
        col("r").getItem(1).as("dw"), col("ns"), col("sw")): _*)
    val g = when(col("w") >= 50 && col("w") <= 100000L, 1L).otherwise(0L) +
      when(col("w") * 3 <= col("ns") && col("ns") <= col("w") * 10, 1L).otherwise(0L) +
      when(col("sw") >= 2, 1L).otherwise(0L) +
      when(col("dw") * 2 >= col("w"), 1L).otherwise(0L)
    per.select(cs ++ Seq(col("doc_id"), col("w"),
      when(col("w") === 0, 0L).otherwise(rhu(col("ns"), col("w"), 10)).as("cpw10"),
      col("sw"),
      when(col("w") === 0, 0L).otherwise(rhu(col("dw"), col("w"), 1000)).as("dpm"),
      when(g >= 3, 1L).otherwise(0L).as("y")): _*)
  }

  private[graft] def t24Feats(s: SparkSession, d: String): DataFrame =
    // PLAIN documents load, deliberately: the widened load
    // (Tables.loadDocsWide) was A/B'd in optimization round 17 and
    // reverted — the exchange+cache costs more than the cheap
    // repetition-stats kernel earns back (t24 3.4 s wide vs 1.7 s
    // plain), and at larger SFs the file splits across tasks anyway
    t24FeatsOf(docs(s, d))

  private def t24FeatVal(f: Int): Column =
    Seq(col("w"), col("cpw10"), col("sw"), col("dpm"))(f - 1)

  /** Node assignment after the given per-level splits: a `node`
    * column built level by level (each level references the previous
    * `node` COLUMN, not its expression — no CASE-tree blowup). */
  private[graft] def t24Assign(feats: DataFrame, levels: Seq[Seq[T24Split]]): DataFrame =
    levels.foldLeft(feats.withColumn("node", lit(1L))) { (df, sps) =>
      if (sps.isEmpty) df
      else {
        def branch(sp: T24Split): Column =
          when(t24FeatVal(sp.f) <= sp.thr, lit(2 * sp.node))
            .otherwise(lit(2 * sp.node + 1))
        val cased = sps.tail.foldLeft(
          when(col("node") === sps.head.node, branch(sps.head))) { (acc, sp) =>
          acc.when(col("node") === sp.node, branch(sp))
        }
        df.withColumn("node", cased.otherwise(col("node")))
      }
    }

  /** Quantile-bucket count for the training histogram (the
    * XGBoost-hist / LightGBM bin budget). A feature with ≤ this many
    * distinct TRAINING values keeps every value as its own candidate
    * (the exact-search degenerate case); past it, values quantize to
    * equal-frequency buckets and split candidates are the bucket
    * boundaries — the histogram is then ≤ nodes·4·T24Buckets rows at
    * ANY corpus size. Mirrored literally in the SQL oracle. */
  private[graft] val T24Buckets = 256L

  /** (fi, v) → quantile bucket over the long-form TRAINING feature
    * rows `lf` = (fi, v): per feature, distinct values get c(v)
    * counts; nd ≤ [[T24Buckets]] ⇒ b = 0-based rank of v (identity —
    * today's exact candidate set); else b = (cum(v)−1)·B div n with
    * cum the inclusive value-ordered count prefix — deterministic,
    * value-monotone, ties never split (rows with equal v share a
    * bucket by construction). A two-pass [[graft.plans.OrderedScan]]:
    * range exchange on (fi, v), bounded per-partition (feature →
    * subtotal) summaries, driver composition (≤ |partitions|·4
    * entries), second pass from each partition's carry. */
  private def t24BucketMap(lf: DataFrame): DataFrame =
    graft.plans.OrderedScan.over(
      lf.groupBy(col("fi"), col("v")).agg(count(lit(1)).as("c")),
      Seq("fi", "v"), QuantileBuckets(T24Buckets),
      StructType(StructField("fi", IntegerType, nullable = false) +:
        graft.plans.OrderedScan.longs("v", "b").fields))

  /** feature → (count subtotal, distinct values) */
  private type Totals = Map[Int, (Long, Long)]

  /** Summary: one partition's [[Totals]]; carry: (the running totals
    * over the partitions before it, the feature totals). */
  private final case class QuantileBuckets(B: Long)
      extends graft.plans.TwoPassKernel[Totals, (Totals, Totals)] {
    def summarize(rows: Iterator[InternalRow]): Totals = {
      val m = scala.collection.mutable.Map.empty[Int, (Long, Long)]
      rows.foreach { r =>
        val (sc, nd) = m.getOrElse(r.getInt(0), (0L, 0L))
        m(r.getInt(0)) = (sc + r.getLong(2), nd + 1)
      }
      m.toMap
    }
    def compose(stats: IndexedSeq[Totals]): IndexedSeq[(Totals, Totals)] = {
      def add(a: Totals, b: Totals) =
        b.foldLeft(a) { case (acc, (fi, (sc, nd))) =>
          val (c0, n0) = acc.getOrElse(fi, (0L, 0L))
          acc.updated(fi, (c0 + sc, n0 + nd))
        }
      val incoming = stats.scanLeft(Map.empty: Totals)(add)
      incoming.init.map(_ -> incoming.last)
    }
    def emit(carry: (Totals, Totals), rows: Iterator[InternalRow], out: UnsafeRowWriter)
        : Iterator[InternalRow] = {
      val (in, totals) = carry
      val st = scala.collection.mutable.Map.empty[Int, (Long, Long)] ++= in
      rows.map { r =>
        val fi = r.getInt(0)
        val (c0, n0) = st.getOrElse(fi, (0L, 0L))
        val cum = c0 + r.getLong(2)
        val rank = n0 // 0-based rank of this distinct value
        st(fi) = (cum, n0 + 1)
        val (n, nd) = totals(fi)
        out.reset()
        out.write(0, fi); out.write(1, r.getLong(1))
        out.write(2, if (nd <= B) rank else (cum - 1) * B / n)
        out.getRow
      }
    }
  }

  /** Histogram-driven training: per level one aggregate + a driver
    * argmax, exactly the procedure the oracle unrolls in SQL.
    * Features are first quantized to ≤ [[T24Buckets]] quantile
    * buckets ([[t24BucketMap]], once per training call — buckets are
    * node-independent), so the COLLECTED histogram is PROVABLY
    * ≤ nodes·4·T24Buckets rows at any corpus size. The corpus-scale
    * work per level is UNCHANGED from the unquantized form: one
    * map-side-combined (node, fi, v) aggregate; the bucket fold is a
    * distinct-value-scale join + re-aggregate appended to it (never
    * collected pre-fold, never a corpus-sized decoration join). The
    * chosen bucket's split threshold is its max TRAINING value, so
    * node routing ([[t24Assign]]) stays raw-value `v ≤ thr` and the
    * persisted model artifact is unchanged in shape. */
  private[graft] def t24TrainLevels(feats: DataFrame, depth: Int): Seq[Seq[T24Split]] = {
    val lf = feats.select(
      posexplode(array(col("w"), col("cpw10"), col("sw"), col("dpm")))
        .as(Seq("fi", "v")))
    val bm = t24BucketMap(lf).cache()
    // bucket → max raw training value: the threshold translation
    // (bucket monotone in v ⇒ "v ≤ thr(b)" ≡ "bucket(v) ≤ b");
    // bounded collect: ≤ 4·T24Buckets rows (also materializes bm)
    val thrOf: Map[(Int, Long), Long] = bm.groupBy(col("fi"), col("b"))
      .agg(max(col("v")).as("thr")).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    var levels = Vector.empty[Seq[T24Split]]
    for (_ <- 1 to depth) {
      val hist = t24Assign(feats, levels)
        .select(col("node"), col("y"),
          posexplode(array(col("w"), col("cpw10"), col("sw"), col("dpm")))
            .as(Seq("fi", "v")))
        .groupBy(col("node"), col("fi"), col("v"))
        .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
        .join(bm, Seq("fi", "v"))
        .groupBy(col("node"), col("fi"), col("b"))
        .agg(sum(col("c")).as("c"), sum(col("p")).as("p"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1) + 1, r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // invariant, not a scaling guard (the round-15 2^21 guard is
      // retired by the quantization): the COLLECTED histogram is
      // bounded by construction — nodes·4·T24Buckets — independent
      // of corpus size (the pre-fold value histogram stays
      // distributed)
      require(hist.length <= (1L << depth) * 4 * T24Buckets,
        s"t24 histogram invariant broken: ${hist.length} rows")
      val sps = hist.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
        case (node, rows) =>
          val n = rows.filter(_._2 == 1).map(_._4).sum
          val pos = rows.filter(_._2 == 1).map(_._5).sum
          var best: Option[(Long, Int, Long)] = None // (criterion, f, b)
          for (f <- 1 to 4) {
            var nl = 0L; var pl = 0L
            rows.filter(_._2 == f).sortBy(_._3).foreach { case (_, _, b, c, p) =>
              nl += c; pl += p
              if (nl < n) {
                val crit = math.abs(pl * (n - nl) - (pos - pl) * nl)
                val better = best.forall { case (bd, bf, bv) =>
                  crit > bd || (crit == bd && (f < bf || (f == bf && b < bv)))
                }
                if (crit > 0 && better) best = Some((crit, f, b))
              }
            }
          }
          best.map { case (_, f, b) => T24Split(node, f, thrOf((f - 1, b))) }
      }
      levels = levels :+ sps
    }
    bm.unpersist()
    levels
  }

  /** Final report assembly from a (node_id, n_docs, n_pos) leaf frame
    * — shared by batch t24 and the streaming twin's re-aggregation
    * (every leaf count is a SUM of per-doc indicators, so the Append
    * window emissions re-aggregate to exactly this). */
  private[graft] def t24LeafReport(leafCounts: DataFrame, nSplits: Long): DataFrame = {
    val lv = leafCounts.withColumn("pred",
      when(lit(2L) * col("n_pos") > col("n_docs"), 1L).otherwise(0L))
    val acc = lv.agg(rhu(
      sum(when(col("pred") === 1L, col("n_pos"))
        .otherwise(col("n_docs") - col("n_pos"))),
      sum(col("n_docs")), 1000000L).as("acc_ppm"))
    lv.crossJoin(broadcast(acc))
      .withColumn("n_splits", lit(nSplits))
      .orderBy("node_id")
  }

  private def t24(s: SparkSession, d: String): DataFrame = {
    val feats = t24Feats(s, d).cache()
    val levels = t24TrainLevels(feats, T24Depth)
    t24LeafReport(
      t24Assign(feats, levels)
        .groupBy(col("node").as("node_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos")),
      levels.map(_.size).sum.toLong)
  }

  /** The per-training-set quantile-bucket CTEs (the engine's
    * [[t24BucketMap]] restated): distinct TRAINING values per feature
    * (membership via a1$sfx), bucket = 0-based value rank when the
    * feature has ≤ [[T24Buckets]] distinct values, else the
    * equal-frequency (cum−1)·B div n formula; bthr = each bucket's
    * max training value (the split-threshold translation). */
  private def t24BucketSql(sfx: String): String =
    s"""dv$sfx AS (SELECT fl.f, fl.v, COUNT(*) AS c
       |  FROM fl JOIN a1$sfx a ON a.doc_id = fl.doc_id GROUP BY 1, 2),
       |bm$sfx AS (SELECT f, v, CAST(CASE
       |    WHEN (COUNT(*) OVER (PARTITION BY f)) <= $T24Buckets
       |    THEN ROW_NUMBER() OVER (PARTITION BY f ORDER BY v) - 1
       |    ELSE ((SUM(c) OVER (PARTITION BY f ORDER BY v)) - 1) * $T24Buckets
       |         // (SUM(c) OVER (PARTITION BY f))
       |  END AS BIGINT) AS b FROM dv$sfx),
       |bthr$sfx AS (SELECT f, b, MAX(v) AS thr FROM bm$sfx GROUP BY 1, 2)""".stripMargin

  /** One training level as oracle CTEs, name-suffixed so the CV
    * oracle can instantiate the identical procedure per fold. The
    * assignment source a1$sfx defines the training doc set; fl is the
    * full long-form feature table (restricted implicitly through the
    * doc_id join); the histogram groups by the bm$sfx quantile bucket
    * and the chosen bucket's threshold comes from bthr$sfx. */
  private def t24LevelSql(l: Int, sfx: String): String =
    s"""h$l$sfx AS (SELECT a.node, fl.f, bm.b, COUNT(*) AS c, CAST(SUM(fl.y) AS BIGINT) AS p
       |  FROM fl JOIN a$l$sfx a ON a.doc_id = fl.doc_id
       |  JOIN bm$sfx bm ON bm.f = fl.f AND bm.v = fl.v
       |  GROUP BY 1, 2, 3),
       |tot$l$sfx AS (SELECT node, CAST(SUM(CASE WHEN f = 1 THEN c ELSE 0 END) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN f = 1 THEN p ELSE 0 END) AS BIGINT) AS pos
       |  FROM h$l$sfx GROUP BY 1),
       |cand$l$sfx AS (SELECT h.node, h.f, h.b, t.n, t.pos,
       |    CAST(SUM(h.c) OVER (PARTITION BY h.node, h.f ORDER BY h.b) AS BIGINT) AS nl,
       |    CAST(SUM(h.p) OVER (PARTITION BY h.node, h.f ORDER BY h.b) AS BIGINT) AS pl
       |  FROM h$l$sfx h JOIN tot$l$sfx t ON h.node = t.node),
       |best$l$sfx AS (SELECT t.node, t.f, bt.thr AS thr FROM (
       |    SELECT node, f, b, ABS(pl*(n-nl) - (pos-pl)*nl) AS d,
       |      ROW_NUMBER() OVER (PARTITION BY node
       |        ORDER BY ABS(pl*(n-nl) - (pos-pl)*nl) DESC, f, b) AS rn
       |    FROM cand$l$sfx WHERE nl < n) t
       |  JOIN bthr$sfx bt ON bt.f = t.f AND bt.b = t.b
       |  WHERE rn = 1 AND d > 0),
       |a${l + 1}$sfx AS (SELECT a.doc_id,
       |    CASE WHEN b.node IS NULL THEN a.node
       |         WHEN fv.v <= b.thr THEN 2*a.node ELSE 2*a.node+1 END AS node
       |  FROM a$l$sfx a LEFT JOIN best$l$sfx b ON a.node = b.node
       |  LEFT JOIN fl fv ON fv.doc_id = a.doc_id AND fv.f = b.f)""".stripMargin

  /** The shared feature CTEs (per → feats with fold → long-form fl).
    * With `noisyLabels`, the raw features land in `feats0` and `feats`
    * applies t27's deterministic label flip — everything downstream
    * (training levels, eval routing, fl) is literally identical. */
  private def t24BaseCtesFor(noisyLabels: Boolean): String = {
    val rawName = if (noisyLabels) "feats0" else "feats"
    val flip = if (!noisyLabels) "" else s""",
       |feats AS MATERIALIZED (
       |  SELECT doc_id, fold, w, cpw10, sw, dpm,
       |    CASE WHEN (((doc_id + 7) * 2654435761) % 4294967296) % 17 = 0
       |         THEN 1 - y ELSE y END AS y
       |  FROM feats0)""".stripMargin
    s"""per AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w,
       |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS dw,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS ns,
       |    CAST((CASE WHEN contains(' ' || text || ' ', ' the ') THEN 1 ELSE 0 END
       |        + CASE WHEN contains(' ' || text || ' ', ' a ') THEN 1 ELSE 0 END
       |        + CASE WHEN contains(' ' || text || ' ', ' and ') THEN 1 ELSE 0 END
       |        + CASE WHEN contains(' ' || text || ' ', ' of ') THEN 1 ELSE 0 END) AS BIGINT) AS sw
       |  FROM documents),
       |$rawName AS MATERIALIZED (
       |  SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 5 AS fold, w,
       |    CASE WHEN w = 0 THEN 0 ELSE ${rhuSql("ns", "w", 10)} END AS cpw10, sw,
       |    CASE WHEN w = 0 THEN 0 ELSE ${rhuSql("dw", "w", 1000)} END AS dpm,
       |    CASE WHEN (CASE WHEN w >= 50 AND w <= 100000 THEN 1 ELSE 0 END
       |             + CASE WHEN 3*w <= ns AND ns <= 10*w THEN 1 ELSE 0 END
       |             + CASE WHEN sw >= 2 THEN 1 ELSE 0 END
       |             + CASE WHEN 2*dw >= w THEN 1 ELSE 0 END) >= 3 THEN 1 ELSE 0 END AS y
       |  FROM per)$flip,
       |fl AS MATERIALIZED (
       |  SELECT doc_id, y, 1 AS f, w AS v FROM feats
       |  UNION ALL SELECT doc_id, y, 2, cpw10 FROM feats
       |  UNION ALL SELECT doc_id, y, 3, sw FROM feats
       |  UNION ALL SELECT doc_id, y, 4, dpm FROM feats)""".stripMargin
  }

  private val t24BaseCtes: String = t24BaseCtesFor(noisyLabels = false)

  private val t24Sql: String = {
    def level(l: Int): String = t24LevelSql(l, "")
    s"""WITH $t24BaseCtes,
       |a1 AS (SELECT doc_id, CAST(1 AS BIGINT) AS node FROM feats),
       |${t24BucketSql("")},
       |${(1 to T24Depth).map(level).mkString(",\n")},
       |lv AS (SELECT a.node, COUNT(*) AS n_docs, CAST(SUM(f.y) AS BIGINT) AS n_pos
       |  FROM a${T24Depth + 1} a JOIN feats f ON f.doc_id = a.doc_id GROUP BY 1),
       |pr AS (SELECT node, n_docs, n_pos,
       |    CAST(CASE WHEN 2*n_pos > n_docs THEN 1 ELSE 0 END AS BIGINT) AS pred FROM lv),
       |acc AS (SELECT ${rhuSql(
        "SUM(CASE WHEN pred = 1 THEN n_pos ELSE n_docs - n_pos END)",
        "SUM(n_docs)", 1000000)} AS acc_ppm FROM pr),
       |nsp AS (SELECT CAST(${(1 to T24Depth)
        .map(l => s"(SELECT COUNT(*) FROM best$l)").mkString(" + ")} AS BIGINT) AS n_splits)
       |SELECT node AS node_id, n_docs, n_pos, pred, acc_ppm, n_splits
       |FROM pr CROSS JOIN acc CROSS JOIN nsp ORDER BY node_id""".stripMargin
  }

  // t25: cross-validated distillation — the eval-hygiene layer a real
  // classifier stage ships with: 5-fold CV (fold = Knuth hash of
  // doc_id mod 5, deterministic — no RNG) of the t24 training, with
  // HELD-OUT accuracy reported next to training accuracy per fold.
  // Held-out docs are routed through the fold's trained splits and
  // predicted by the TRAINING set's leaf majorities (the honest CV:
  // nothing about a held-out doc influences its own prediction);
  // every leaf has ≥1 training doc by construction (a split is only
  // created when both children are nonempty in the training set), so
  // the prediction join is total. Scale shape = 5 × t24's (per level
  // one bounded histogram aggregate + a driver argmax), all folds
  // over ONE cached feature frame. Output: per-fold (n_train, n_test,
  // train/test accuracy ppm, split count) — the table a data engineer
  // reads to decide whether the distilled filter generalizes.
  private def t25(s: SparkSession, d: String): DataFrame =
    cvReport(t24Feats(s, d))

  // t27: the NOISY-label CV twin — the evaluation t25 cannot show on
  // the clean corpus, where the label is a deterministic function of
  // the features and every fold reports train = test = 1.0 (the tree
  // re-derives the rule exactly). Here a deterministic doc_id-keyed
  // subset (Knuth hash of doc_id+7, mod 17 — ~5.9% of docs, a
  // DIFFERENT key stream than the fold hash) gets its label flipped
  // before training, so the depth-3 tree can no longer fit the data,
  // held-out accuracy measurably separates from training accuracy,
  // and the CV table actually informs the generalization decision.
  // Same training procedure, same oracle discipline (the flip is one
  // CASE in the feats CTE; everything downstream is t25's unrolled
  // restatement).
  private def t27(s: SparkSession, d: String): DataFrame =
    cvReport(t24Feats(s, d).withColumn("y",
      when(pmod(Q.knuth32(col("doc_id") + lit(7L)), lit(17L)) === 0L,
        lit(1L) - col("y")).otherwise(col("y"))))

  /** Combined per-fold assignment: [[t24Assign]] with the CASE chain
    * additionally guarded by the held-out-fold key `ko`, so all
    * folds' trees route in ONE plan. For any single ko stratum the
    * matching whens are exactly that fold's [[t24Assign]] chain
    * (conditions across ko are disjoint), so per-stratum routing is
    * identical to the sequential form. */
  private def t24AssignCv(df: DataFrame,
      byKo: Map[Long, Vector[Seq[T24Split]]], nLevels: Int): DataFrame =
    (0 until nLevels).foldLeft(df.withColumn("node", lit(1L))) { (acc, li) =>
      val whens: Seq[(Long, T24Split)] = byKo.toSeq.sortBy(_._1).flatMap {
        case (ko, lvls) => if (li < lvls.length) lvls(li).map(ko -> _) else Nil
      }
      if (whens.isEmpty) acc
      else {
        def branch(sp: T24Split): Column =
          when(t24FeatVal(sp.f) <= sp.thr, lit(2 * sp.node))
            .otherwise(lit(2 * sp.node + 1))
        val cased = whens.tail.foldLeft(
          when(col("ko") === whens.head._1 &&
            col("node") === whens.head._2.node, branch(whens.head._2))) {
          case (a, (ko, sp)) =>
            a.when(col("ko") === ko && col("node") === sp.node, branch(sp))
        }
        acc.withColumn("node", cased.otherwise(col("node")))
      }
    }

  /** The 5-fold CV body shared by t25 (clean labels) and t27 (noisy
    * labels): fold = Knuth hash of doc_id mod 5, per fold a full t24
    * training on the other 4 folds + held-out routing through the
    * trained splits with TRAINING-leaf-majority predictions.
    *
    * ALL FOLDS TRAIN AT ONCE (optimization round 17, guide §1.2 —
    * fix the distributed algorithm first): each feature row is
    * replicated to its 4 training strata keyed by the held-out fold
    * `ko`, the quantile-bucket two-pass runs ONCE over composite
    * (ko·4+fi, v) keys, and each tree level is ONE histogram
    * aggregate grouped by (ko, node, fi, bucket) — 5× fewer
    * driver-synchronous jobs than training the folds sequentially.
    * Per-stratum arithmetic is unchanged (stratum ko holds exactly
    * the fold≠ko rows; every per-feature step keys on (ko, feature)),
    * so the per-fold splits, leaf stats and accuracies are identical
    * to the sequential form — the unrolled per-fold SQL oracle states
    * exactly that and stays byte-identical. */
  private def cvReport(featsIn: DataFrame): DataFrame = {
    val Folds = 5L
    val feats = featsIn
      .withColumn("fold", pmod(Q.knuth32(col("doc_id")), lit(Folds)))
      .cache()
    val featCols = Seq(col("w"), col("cpw10"), col("sw"), col("dpm"))
    val rep = feats.withColumn("ko",
      explode(expr(s"filter(sequence(CAST(0 AS BIGINT), CAST(${Folds - 1} AS BIGINT)), " +
        "k -> k != fold)")))
    def gi(fi: Column): Column = (col("ko") * 4 + fi).cast(IntegerType)
    // ONE bucket two-pass for all folds: composite (ko·4+fi) feature
    // keys partition the value space per (fold, feature) exactly as 5
    // independent bucket maps would
    val lf = rep.select(col("ko"), posexplode(array(featCols: _*)).as(Seq("fi", "v")))
      .select(gi(col("fi")).as("fi"), col("v"))
    val bm = t24BucketMap(lf).cache()
    val thrOf: Map[(Int, Long), Long] = bm.groupBy(col("fi"), col("b"))
      .agg(max(col("v")).as("thr")).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    var byKo: Map[Long, Vector[Seq[T24Split]]] =
      (0L until Folds).map(_ -> Vector.empty[Seq[T24Split]]).toMap
    for (li <- 0 until T24Depth) {
      val hist = t24AssignCv(rep, byKo, li)
        .select(col("ko"), col("node"), col("y"),
          posexplode(array(featCols: _*)).as(Seq("fi", "v")))
        .groupBy(col("ko"), col("node"), col("fi"), col("v"))
        .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
        .join(bm.select(col("fi").as("gi"), col("v").as("bv"), col("b")),
          gi(col("fi")) === col("gi") && col("v") === col("bv"))
        .groupBy(col("ko"), col("node"), col("fi"), col("b"))
        .agg(sum(col("c")).as("c"), sum(col("p")).as("p"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2) + 1, r.getLong(3),
          r.getLong(4), r.getLong(5)))
      require(hist.length <= Folds * (1L << T24Depth) * 4 * T24Buckets,
        s"t25 CV histogram invariant broken: ${hist.length} rows")
      byKo = byKo.map { case (ko, lvls) =>
        val sps = hist.filter(_._1 == ko).groupBy(_._2).toSeq.sortBy(_._1)
          .flatMap { case (node, rows) =>
            val n = rows.filter(_._3 == 1).map(_._5).sum
            val pos = rows.filter(_._3 == 1).map(_._6).sum
            var best: Option[(Long, Int, Long)] = None
            for (f <- 1 to 4) {
              var nl = 0L; var pl = 0L
              rows.filter(_._3 == f).sortBy(_._4).foreach {
                case (_, _, _, b, c, p) =>
                  nl += c; pl += p
                  if (nl < n) {
                    val crit = math.abs(pl * (n - nl) - (pos - pl) * nl)
                    val better = best.forall { case (bd, bf, bv) =>
                      crit > bd || (crit == bd && (f < bf || (f == bf && b < bv)))
                    }
                    if (crit > 0 && better) best = Some((crit, f, b))
                  }
              }
            }
            best.map { case (_, f, b) =>
              T24Split(node, f, thrOf((ko.toInt * 4 + (f - 1), b)))
            }
          }
        ko -> (lvls :+ sps)
      }
    }
    bm.unpersist()
    val trainLv = t24AssignCv(rep, byKo, T24Depth)
      .groupBy(col("ko"), col("node"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .withColumn("pred",
        when(lit(2L) * col("p") > col("n"), 1L).otherwise(0L))
      .cache()
    val trainAcc = trainLv.groupBy(col("ko")).agg(
      sum(col("n")).as("n_train"),
      rhu(sum(when(col("pred") === 1L, col("p"))
        .otherwise(col("n") - col("p"))), sum(col("n")), 1000000L)
        .as("train_acc_ppm"))
    val testAcc = t24AssignCv(feats.withColumn("ko", col("fold")), byKo, T24Depth)
      .join(broadcast(trainLv.select(col("ko"), col("node"), col("pred"))),
        Seq("ko", "node"))
      .groupBy(col("ko"))
      .agg(count(lit(1)).as("n_test"),
        rhu(sum(when(col("pred") === col("y"), 1L).otherwise(0L)),
          count(lit(1)), 1000000L).as("test_acc_ppm"))
    import featsIn.sparkSession.implicits._
    val nsp = byKo.toSeq.map { case (k, lv) => (k, lv.map(_.size).sum.toLong) }
      .toDF("ko", "n_splits")
    // LEFT joins from the static 0..4 fold frame (ADVICE r17 item 4):
    // the oracle's per-fold global aggregates always emit a row, so a
    // fold whose held-out partition is empty (or routes every test row
    // to an unseen leaf) must surface as n_test = 0 / NULL accuracy —
    // not silently vanish the way a groupBy(ko) + inner join would.
    // n_test coalesces to 0 (the oracle's COUNT(*)); the accuracy and
    // n_train columns stay NULL exactly as the oracle's SUM-over-empty.
    nsp.join(broadcast(trainAcc), Seq("ko"), "left")
      .join(broadcast(testAcc), Seq("ko"), "left")
      .select(col("ko").as("fold"), col("n_train"),
        coalesce(col("n_test"), lit(0L)).as("n_test"),
        col("train_acc_ppm"), col("test_acc_ppm"), col("n_splits"))
      .orderBy("fold")
  }

  private val t25Sql: String = cvSqlFor(noisyLabels = false)
  private lazy val t27Sql: String = cvSqlFor(noisyLabels = true)

  private def cvSqlFor(noisyLabels: Boolean): String = {
    def evalStep(l: Int, sfx: String): String =
      s"""e${l + 1}$sfx AS (SELECT e.doc_id,
         |    CASE WHEN b.node IS NULL THEN e.node
         |         WHEN fv.v <= b.thr THEN 2*e.node ELSE 2*e.node+1 END AS node
         |  FROM e$l$sfx e LEFT JOIN best$l$sfx b ON e.node = b.node
         |  LEFT JOIN fl fv ON fv.doc_id = e.doc_id AND fv.f = b.f)""".stripMargin
    def fold(k: Int): String = {
      val x = s"_$k"
      val levels = (1 to T24Depth).map(l => t24LevelSql(l, x)).mkString(",\n")
      val evals = (1 to T24Depth).map(l => evalStep(l, x)).mkString(",\n")
      s"""a1$x AS (SELECT doc_id, CAST(1 AS BIGINT) AS node FROM feats WHERE fold <> $k),
         |${t24BucketSql(x)},
         |$levels,
         |e1$x AS (SELECT doc_id, CAST(1 AS BIGINT) AS node FROM feats WHERE fold = $k),
         |$evals,
         |lv$x AS (SELECT a.node, COUNT(*) AS n, CAST(SUM(f.y) AS BIGINT) AS p
         |  FROM a${T24Depth + 1}$x a JOIN feats f ON f.doc_id = a.doc_id GROUP BY 1),
         |pr$x AS (SELECT node, n, p,
         |    CASE WHEN 2*p > n THEN 1 ELSE 0 END AS pred FROM lv$x),
         |tra$x AS (SELECT CAST(SUM(n) AS BIGINT) AS n_train,
         |    ${rhuSql("SUM(CASE WHEN pred = 1 THEN p ELSE n - p END)", "SUM(n)", 1000000)} AS train_acc_ppm
         |  FROM pr$x),
         |tea$x AS (SELECT COUNT(*) AS n_test,
         |    ${rhuSql("SUM(CASE WHEN pr.pred = f.y THEN 1 ELSE 0 END)", "COUNT(*)", 1000000)} AS test_acc_ppm
         |  FROM e${T24Depth + 1}$x e JOIN feats f ON f.doc_id = e.doc_id
         |  JOIN pr$x pr ON pr.node = e.node),
         |nsp$x AS (SELECT CAST(${(1 to T24Depth)
        .map(l => s"(SELECT COUNT(*) FROM best$l$x)").mkString(" + ")} AS BIGINT) AS n_splits),
         |row$x AS (SELECT CAST($k AS BIGINT) AS fold, n_train, n_test,
         |    train_acc_ppm, test_acc_ppm, n_splits
         |  FROM tra$x CROSS JOIN tea$x CROSS JOIN nsp$x)""".stripMargin
    }
    s"""WITH ${t24BaseCtesFor(noisyLabels)},
       |${(0 until 5).map(fold).mkString(",\n")}
       |SELECT fold, n_train, n_test, train_acc_ppm, test_acc_ppm, n_splits
       |FROM (${(0 until 5).map(k => s"SELECT * FROM row_$k").mkString(" UNION ALL ")}) u
       |ORDER BY fold""".stripMargin
  }

  // t26: the PERSISTED-MODEL form of the classifier — t24 in the
  // train-once / serve-many operating mode (operators.TreeModel, the
  // s06/t19/d13 pattern): scoring LOADS the persisted split table +
  // leaf predictions (≤7 splits + ≤8 leaves — one tiny read and a
  // broadcast) and routes the corpus without retraining; predictions
  // come from the MODEL artifact, never recomputed from the scored
  // batch. Training is deterministic, so the apply-report over the
  // training corpus equals a fresh train — t24's oracle states the
  // check. Bench charges the build to its own metric
  // (t26_classifier_index_build); the query line is the apply cost a
  // scoring job actually pays.
  private def t26(s: SparkSession, d: String): DataFrame = {
    val dir = graft.operators.TreeModel.ensureBuilt(s, d)
    val levels = graft.operators.TreeModel.levels(s, dir)
    val preds = graft.operators.TreeModel.leafPreds(s, dir)
    val lv = t24Assign(t24Feats(s, d), levels)
      .groupBy(col("node").as("node_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      .join(broadcast(preds), col("node_id") === col("m_node"))
      .select(col("node_id"), col("n_docs"), col("n_pos"),
        col("m_pred").as("pred"))
    val acc = lv.agg(rhu(
      sum(when(col("pred") === 1L, col("n_pos"))
        .otherwise(col("n_docs") - col("n_pos"))),
      sum(col("n_docs")), 1000000L).as("acc_ppm"))
    lv.crossJoin(broadcast(acc))
      .withColumn("n_splits", lit(levels.map(_.size).sum.toLong))
      .orderBy("node_id")
  }

  override def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t25_classifier_cv" -> t25,
    "t26_classifier_index" -> t26,
    "t27_classifier_noisy_cv" -> t27,
    "t01_token_stats" -> t01,
    "t02_quality_scores" -> t02,
    "t03_lang_id_accuracy" -> t03,
    "t04_word_frequency" -> t04,
    "t05_bigram_profile" -> t05,
    "t06_doc_fingerprints" -> t06,
    "t07_bpe_token_stats" -> t07,
    "t10_char_lm_quality" -> t10,
    "t12_bm25_topk" -> t12,
    "t13_pmi_collocations" -> t13,
    "t14_zipf_rank_profile" -> t14,
    "t15_ngram_novelty" -> t15,
    "t18_importance_weights" -> t18,
    "t20_gopher_gates" -> t20,
    // streaming twin: per-window Append emissions of the same gate
    // counters re-aggregated per source — equals batch t20 exactly
    // (sums over disjoint windows), so the same SQL oracle checks it
    "t20_gopher_stream" ->
      ((s, d) => graft.streaming.StreamingQualityGates.replayGate(s, d)),
    "t23_perplexity_buckets" -> t23,
    "t24_quality_classifier" -> t24,
    // streaming twin: score-at-ingest under the batch-trained tree;
    // window emissions re-aggregate to the batch leaf report exactly
    // (sums over disjoint windows), so the same SQL oracle checks it
    "t24_score_stream" ->
      ((s, d) => graft.streaming.StreamingQualityScore.replayGate(s, d)))

  override def oracle: Map[String, String] = Map(
    "t24_quality_classifier" -> t24Sql,
    "t24_score_stream" -> t24Sql,
    "t25_classifier_cv" -> t25Sql,
    "t27_classifier_noisy_cv" -> t27Sql,
    // persisted-model apply over the training corpus == fresh train
    // (deterministic training), so t24's training restatement is the
    // oracle here too
    "t26_classifier_index" -> t24Sql,
    "t20_gopher_gates" -> t20Sql,
    "t20_gopher_stream" -> t20Sql,
    "t12_bm25_topk" -> t12Sql,
    "t14_zipf_rank_profile" -> t14Sql,
    "t15_ngram_novelty" -> t15Sql,
    "t18_importance_weights" -> t18Sql,
    "t01_token_stats" -> t01Sql,
    "t02_quality_scores" -> t02Sql,
    "t03_lang_id_accuracy" -> t03Sql,
    "t04_word_frequency" -> t04Sql,
    "t05_bigram_profile" -> t05Sql,
    "t10_char_lm_quality" -> t10Sql,
    "t13_pmi_collocations" -> t13Sql,
    "t23_perplexity_buckets" -> t23Sql)

  // t26 is train-once/serve-many (the classifier model registry): the
  // model train is charged separately; the t26 line measures the
  // load + apply a scoring job actually pays
  override def builds: Seq[ArtifactBuild] = Seq(
    ArtifactBuild("t26_classifier_index_build", Seq("t26_classifier_index"),
      (s, d) => graft.operators.TreeModel.build(s, d, graft.operators.TreeModel.modelDirFor(d))))
}
