package graft.queries

import graft.etl.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for t21 BPE merge induction: greedy
  * non-overlapping merge of an L == R run, multi-round composition
  * (a learned symbol participating in a later pair), early exhaustion
  * under the bounded-rounds contract, and the deterministic
  * (count DESC, l ASC, r ASC) tie-break.
  */
class BpeTrainSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Compound-bigram (word, freq, syms) vocabulary of the documents
    * table — deterministic, one corpus pass, ~|word-vocab|² rows. */
  private def bigramVocab(spark: SparkSession, sfDir: String) =
    graft.Tables.load(spark, sfDir, "documents")
      .select(explode(expr(
        "transform(sequence(1, size(split(text, ' ')) - 1), " +
          "i -> concat(split(text, ' ')[i-1], '_', split(text, ' ')[i]))"))
        .as("word"))
      .filter(!col("word").startsWith("_") && !col("word").endsWith("_"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")
          .as("syms"))

  private def run(dir: String): Seq[(Long, String, String, Long)] =
    graft.SparkEntry.queries("t21_bpe_merges")(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("greedy L==R run, composed symbols, early exhaustion") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_t21a").toString
    // word freqs: aaaa x2, ab x3
    Seq(
      (1L, "aaaa ab", "en", "s0", 7L),
      (2L, "aaaa", "en", "s0", 4L),
      (3L, "ab ab", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    // r1: (a,a) appears 3x in aaaa (freq 2) -> 6, (a,b) 3 -> merge (a,a)
    //     greedy on a-a-a-a keeps positions 1,3 -> [aa, aa] (never
    //     [aa, a, a] or an overlapped triple)
    // r2: (aa,aa) 2 vs (a,b) 3 -> merge (a,b); ab -> [ab]
    // r3: (aa,aa) 2 -> aaaa -> [aaaa]; composed symbol pair
    // r4: every word is a single symbol -> exhausted, 3 rows only
    assert(run(d) == Seq(
      (1L, "a", "a", 6L),
      (2L, "a", "b", 3L),
      (3L, "aa", "aa", 2L)))
  }

  test("persisted tokenizer apply == training inline and applying") {
    import org.apache.spark.sql.types.LongType
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_t22").toString
    Seq(
      (1L, "aaaa ab abab", "en", "s0", 12L),
      (2L, "aaaa ab", "fr", "s1", 7L),
      (3L, "ab ab baba", "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val dir = graft.operators.BpeTokenizer.ensureBuilt(spark, d)
    val persisted = BpeTrain
      .tokenStats(spark, d, graft.operators.BpeTokenizer.vocab(spark, dir))
      .collect().toSeq
    val (vocab, _) = BpeTrain.train(spark, d)
    val inline = BpeTrain.tokenStats(spark, d,
      vocab.select(col("word"), size(col("syms")).cast(LongType).as("n_tok")))
      .collect().toSeq
    assert(persisted == inline && persisted.nonEmpty)
  }

  /** Reference BPE loop on the driver (plain Scala): the oracle for
    * the incremental trainer's delta-maintained pair counts at an R
    * far past the unrolled-SQL oracle's reach. */
  private def refBpe(words: Seq[(String, Long)],
                     rounds: Int): Seq[(Long, String, String, Long)] = {
    def greedyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { x =>
        if (out.nonEmpty && out.last == l && x == r) {
          out.remove(out.length - 1); out += (l + r)
        } else out += x
      }
      out.toVector
    }
    var vocab = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 1
        while (i < syms.length) {
          val k = (syms(i - 1), syms(i))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), n) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        learned += ((round.toLong, l, r, n))
        vocab = vocab.map { case (syms, f) => (greedyMerge(syms, l, r), f) }
        round += 1
      }
    }
    learned.toSeq
  }

  test("incremental rounds match a driver recompute at R = 64") {
    // real sf data (30-word vocabulary, hundreds of merge rounds
    // available) — far past the R = 6 the unrolled CTE oracle covers,
    // so the delta maintenance (affected-word rewrite + pair-count
    // update) is exercised across composed symbols, L == R runs, and
    // pair exhaustion/retirement
    val d = "/root/testdata/sf0.001"
    val words = BpeTrain.initVocab(spark, d)
      .select(col("word"), col("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = refBpe(words, 64)
    val got = BpeTrain.train(spark, d, 64)._2
    assert(got == expected)
    assert(got.size > 20, s"corpus exhausted after ${got.size} rounds — fixture too small")
  }

  test("incremental rounds match a driver recompute at R = 1024 (compound vocab)") {
    // the sf word vocabulary (~30 words) exhausts after a few hundred
    // merges; the compound-bigram vocabulary (~900 words, ~8k initial
    // symbols) sustains 1024 rounds — the credible-R case for the
    // delta maintenance (the same vocab at sf10 gave the BENCH_NOTES
    // cost table)
    val d = "/root/testdata/sf0.001"
    val vocabDf = bigramVocab(spark, d)
    val words = vocabDf.select(col("word"), col("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = refBpe(words, 1024)
    val got = BpeTrain.trainFrom(vocabDf, 1024)._2
    assert(got == expected)
    assert(got.size == 1024, s"vocab exhausted after ${got.size} rounds — widen the fixture")
  }

  test("tie-break is (count DESC, l ASC, r ASC)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_t21b").toString
    // word freqs: cd x2, ce x2 -> round 1 ties (c,d)=(c,e)=2
    Seq(
      (1L, "cd ce", "en", "s0", 5L),
      (2L, "cd ce", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    assert(run(d) == Seq(
      (1L, "c", "d", 2L),
      (2L, "c", "e", 2L)))
  }
}
