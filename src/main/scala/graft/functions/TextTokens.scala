package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** BPE-style pre-tokenization (the GPT-2 pattern, published in the
  * openai/gpt-2 encoder: contraction suffixes, space-prefixed letter
  * runs, space-prefixed digit runs, space-prefixed punctuation runs,
  * residual whitespace) — the token-count side of a training-data
  * pipeline's "how many tokens is this corpus" pass. Java regex
  * supports the pattern's lookahead; engines without it (RE2-based)
  * can't express this, so queries over it are rows-only with
  * value-level assertions in ScalaTest.
  */
private[graft] object TextTokens {

  // UNICODE_CHARACTER_CLASS makes \s Unicode-aware (Java's default \s
  // is ASCII-only; the published pattern is Python regex, where \s
  // already covers e.g. U+00A0)
  val Gpt2Pattern: java.util.regex.Pattern = java.util.regex.Pattern.compile(
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+""",
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  def tokens(s: String): Vector[String] = {
    val m = Gpt2Pattern.matcher(s)
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  def count(s: String): Long = {
    val m = Gpt2Pattern.matcher(s)
    var n = 0L
    while (m.find()) n += 1
    n
  }
}

/** Column form: number of BPE pre-tokens in a string (LONG). */
case class BpeTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult
        .TypeCheckFailure(s"bpe_token_count needs string, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any =
    TextTokens.count(v.asInstanceOf[UTF8String].toString)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
