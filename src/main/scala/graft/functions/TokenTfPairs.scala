package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document token frequency vectors as scan-side kernels —
  * `word_tf_pairs(text)` / `bigram_tf_pairs(text)` return
  * array<struct<t: string, c: bigint>>: each distinct token (word, or
  * adjacent-pair bigram) with its in-document count, in one pass with
  * open-addressed byte-slice hashing (the [[RepetitionStats]]
  * tokenizer: split on single spaces keeping empties; words drop the
  * empties, bigrams keep empty components, pair identity == joined
  * "a b" string identity because tokens never contain spaces).
  *
  * Why: tf construction by explode + GROUP BY (doc, token) shuffles
  * every token OCCURRENCE (~85 M rows at sf10) to aggregate what is
  * per-row-computable state. The kernel emits the already-aggregated
  * per-doc pairs, so downstream either consumes them per row
  * (document length = one `aggregate` over the array, no shuffle) or
  * explodes DISTINCT-per-doc rows (~3× fewer) straight into
  * map-side-combining aggregates. Exactly the inverted-index build
  * every retrieval/BM25 pipeline runs — at 100 TB the difference is
  * shuffling the tokenized corpus versus its per-doc term vectors.
  *
  * Value-identity with the exploded form is property-specced
  * (TokenTfPairsSpec); pair ORDER within the array is first-occurrence
  * order, which no consumer may rely on (aggregates are
  * order-independent).
  */
private[graft] abstract class TokenTfBase extends UnaryExpression {
  /** n-gram window width: 1 = words (empties dropped), 2 = bigrams,
    * 3 = trigrams (n >= 2 keeps empty tokens — pair/triple identity is
    * the contiguous source byte slice). */
  protected def ng: Int
  override def dataType: DataType = TokenTfPairs.OutType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${other.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    TokenTfPairs.compute(v.asInstanceOf[UTF8String], ng)
  // the kernel stays one static call; generating it (vs CodegenFallback)
  // keeps the t05/t12/t13 scan stage inside one WholeStageCodegen span —
  // no interpreted-eval boundary between the parquet scan, this array
  // build, and the downstream explode/aggregate
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TokenTfPairs.compute($t, $ng);")
}

case class WordTfPairs(child: Expression) extends TokenTfBase {
  override protected def ng: Int = 1
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class BigramTfPairs(child: Expression) extends TokenTfBase {
  override protected def ng: Int = 2
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class TrigramTfPairs(child: Expression) extends TokenTfBase {
  override protected def ng: Int = 3
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 5-grams — the t08/c05 decontamination granularity. */
case class FivegramTfPairs(child: Expression) extends TokenTfBase {
  override protected def ng: Int = 5
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Adjacent CODE-POINT pair counts per document — the char-bigram
  * LM granularity (the t10 transition model / t23 perplexity filter).
  * Returns the same array<struct<t,c>> shape as the token kernels:
  * each distinct adjacent character pair with its in-document count.
  *
  * Why a kernel: the declarative form (split(text, '') → sequence/
  * transform → explode → GROUP BY) materializes one row per
  * TRANSITION (~corpus chars); this emits the already-collapsed
  * per-doc pair counts in one byte pass, so the model build's
  * map-side combine sees ≤ min(len−1, |alphabet|²) rows per doc and
  * the scoring pass weights each distinct pair by its count instead
  * of re-walking every transition.
  *
  * Character contract: pairs are UTF-8 CODE POINTS (continuation
  * bytes `10xxxxxx` never start a character). On the synthetic
  * corpora (ASCII) this is byte-identical to both Spark's
  * `split(text, '')` (UTF-16 code units) and DuckDB's
  * `string_split(text, '')` — the t10 parity precedent; restate if
  * the corpus ever grows astral-plane characters.
  */
case class CharBigramTfPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = TokenTfPairs.OutType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${other.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    TokenTfPairs.computeCharBigrams(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TokenTfPairs.computeCharBigrams($t);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_count(text)` — the number of NON-EMPTY single-space-separated
  * tokens (the [[TokenTfPairs]] word tokenizer's count), as a plain
  * byte scan. Value-identical to `aggregate(word_tf_pairs(text), 0L,
  * (a, p) -> a + p.c)` (Σ tf over a doc = its token count) — but that
  * fold is a higher-order function, which is CodegenFallback in Spark
  * and would break the WSCG span of any stage it appears in (observed:
  * t12's doc-length projection fell out of codegen). */
case class WordCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string column, got ${other.sql}")
  }
  override def nullSafeEval(v: Any): Any =
    TokenTfPairs.countWords(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TokenTfPairs.countWords($t);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[graft] object TokenTfPairs {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("t", StringType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  /** Count of non-empty tokens under the single-space tokenizer. */
  def countWords(text: UTF8String): Long = {
    val b = text.getBytes
    val n = b.length
    var cnt = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      if (b(i) == ' ') inTok = false
      else if (!inTok) { cnt += 1; inTok = true }
      i += 1
    }
    cnt
  }

  def compute(text: UTF8String, ng: Int): GenericArrayData = {
    val b = text.getBytes
    val n = b.length
    var nTok = 1
    var i = 0
    while (i < n) { if (b(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    val lens = new Array[Int](nTok)
    val hashes = new Array[Int](nTok)
    var t = 0
    var s = 0
    i = 0
    while (i <= n) {
      if (i == n || b(i) == ' ') {
        starts(t) = s; lens(t) = i - s
        var h = 0x811c9dc5
        var j = s
        while (j < i) { h = (h ^ (b(j) & 0xff)) * 0x01000193; j += 1 }
        hashes(t) = h
        t += 1; s = i + 1
      }
      i += 1
    }

    @inline def tokEq(a: Int, c: Int): Boolean = {
      if (lens(a) != lens(c)) return false
      var j = 0
      while (j < lens(a)) {
        if (b(starts(a) + j) != b(starts(c) + j)) return false
        j += 1
      }
      true
    }

    val nKeys = if (ng > 1) math.max(nTok - ng + 1, 0) else nTok
    // size in Long: near Int.MaxValue keys, `nKeys * 2` wraps negative
    // and the loop would exit at cap = 8 — the table then has no empty
    // slot once full and the linear probe never terminates (hung task,
    // not an error). 2^30 slots cover every key count a 2 GiB
    // UTF8String can produce.
    var cap = 8
    while (cap < math.min(nKeys.toLong * 2, 1L << 30)) cap <<= 1
    val mask = cap - 1
    val slot = new Array[Int](cap)
    java.util.Arrays.fill(slot, -1)
    val cnt = new Array[Long](cap)
    // distinct slots in first-occurrence order
    val order = new Array[Int](math.max(nKeys, 1))
    var nDistinct = 0

    @inline def keyHash(k: Int): Int = {
      var h = hashes(k)
      var j = 1
      while (j < ng) { h = (h * 0x9e3779b1) ^ hashes(k + j); j += 1 }
      h
    }
    @inline def keyEq(a: Int, c: Int): Boolean = {
      var j = 0
      while (j < ng) {
        if (!tokEq(a + j, c + j)) return false
        j += 1
      }
      true
    }

    t = 0
    while (t < nKeys) {
      if (ng > 1 || lens(t) > 0) { // words drop empties; n-grams keep
        var p = keyHash(t) & mask
        var done = false
        while (!done) {
          val r = slot(p)
          if (r == -1) {
            slot(p) = t; cnt(p) = 1L
            order(nDistinct) = p; nDistinct += 1
            done = true
          } else if (keyEq(r, t)) { cnt(p) += 1; done = true }
          else p = (p + 1) & mask
        }
      }
      t += 1
    }

    val out = new Array[Any](nDistinct)
    var d = 0
    while (d < nDistinct) {
      val p = order(d)
      val k = slot(p)
      val str =
        if (ng > 1) {
          // tokens are adjacent slices separated by one space byte in
          // the source, so the space-joined n-gram IS the contiguous
          // slice from the first token's start to the last token's end
          val last = k + ng - 1
          UTF8String.fromBytes(b, starts(k), starts(last) + lens(last) - starts(k))
        } else UTF8String.fromBytes(b, starts(k), lens(k))
      out(d) = new GenericInternalRow(Array[Any](str, cnt(p)))
      d += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct adjacent code-point pairs with counts, first-occurrence
    * order (see [[CharBigramTfPairs]]). One byte pass + one
    * open-addressed probe per transition. */
  def computeCharBigrams(text: UTF8String): GenericArrayData = {
    val b = text.getBytes
    val n = b.length
    // code-point start offsets (+ end sentinel)
    var nCp = 0
    var i = 0
    while (i < n) { if ((b(i) & 0xc0) != 0x80) nCp += 1; i += 1 }
    val starts = new Array[Int](nCp + 1)
    var c = 0
    i = 0
    while (i < n) {
      if ((b(i) & 0xc0) != 0x80) { starts(c) = i; c += 1 }
      i += 1
    }
    starts(nCp) = n
    val nBig = math.max(nCp - 1, 0)

    // Long-sized like compute()'s table: `nBig * 2` wraps negative for
    // ≥2^30-code-point documents, leaving an 8-slot table whose linear
    // probe never finds an empty slot — a hung task, not an error
    var cap = 8
    while (cap < math.min(nBig.toLong * 2, 1L << 30)) cap <<= 1
    val mask = cap - 1
    val slot = new Array[Int](cap) // bigram index = first code point idx
    java.util.Arrays.fill(slot, -1)
    val cnt = new Array[Long](cap)
    val order = new Array[Int](math.max(nBig, 1))
    var nDistinct = 0

    @inline def bgHash(k: Int): Int = {
      var h = 0x811c9dc5
      var j = starts(k)
      val e = starts(k + 2)
      while (j < e) { h = (h ^ (b(j) & 0xff)) * 0x01000193; j += 1 }
      h
    }
    @inline def bgEq(a: Int, k: Int): Boolean = {
      val la = starts(a + 2) - starts(a)
      if (la != starts(k + 2) - starts(k)) return false
      var j = 0
      while (j < la) {
        if (b(starts(a) + j) != b(starts(k) + j)) return false
        j += 1
      }
      true
    }

    var t = 0
    while (t < nBig) {
      var p = bgHash(t) & mask
      var done = false
      while (!done) {
        val r = slot(p)
        if (r == -1) {
          slot(p) = t; cnt(p) = 1L
          order(nDistinct) = p; nDistinct += 1
          done = true
        } else if (bgEq(r, t)) { cnt(p) += 1; done = true }
        else p = (p + 1) & mask
      }
      t += 1
    }

    val out = new Array[Any](nDistinct)
    var d = 0
    while (d < nDistinct) {
      val p = order(d)
      val k = slot(p)
      val str = UTF8String.fromBytes(b, starts(k), starts(k + 2) - starts(k))
      out(d) = new GenericInternalRow(Array[Any](str, cnt(p)))
      d += 1
    }
    new GenericArrayData(out)
  }
}
