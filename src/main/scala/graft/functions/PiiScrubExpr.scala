package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `pii_scrub(s)` — the c12 redaction pipeline as ONE codegen byte
  * scan returning struct<scrubbed: string, n_emails: int,
  * n_phones: int, n_ips: int>. Value-identical BY CONSTRUCTION to the
  * sequential regex form the oracle states:
  *
  *   t1 = regexp_replace(s,  EMAIL, '<EMAIL>')   n_emails = count(s)
  *   t2 = regexp_replace(t1, PHONE, '<PHONE>')   n_phones = count(t1)
  *   t3 = regexp_replace(t2, IP,    '<IP>')      n_ips    = count(t2)
  *   scrubbed = trim(regexp_replace(t3, ' +', ' '))
  *
  * with EMAIL = `[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}`,
  * PHONE = `\b[0-9]{3}-[0-9]{4}\b`,
  * IP = `\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b`.
  *
  * The kernel keeps the PASS structure (each rule scans the previous
  * rule's output) so the sequential-replacement semantics — boundary
  * and adjacency effects of earlier redactions on later rules — are
  * preserved exactly; what it removes is the regex machinery: each
  * pass is a hand-rolled scanner with the engine's own matching rules
  * (leftmost `find()` start, greedy-with-backtrack domain/tld and
  * octet groups, ASCII `\b`), no Pattern/Matcher allocation, no
  * per-candidate re-scan. Equivalence is property-specced against the
  * regex form over adversarial fuzz corpora (PiiScrubSpec), and the
  * c12 gate hash-checks it against DuckDB's regex engine.
  *
  * Why: the regex form measures hot — at sf10 the 3 counts + 4
  * replaces are ~3.3 s of c12's 4.0 s (BENCH_NOTES, c12 stage ladder); scrubbing is
  * pure scan work and at 100 TB it must run at byte-scan speed, the
  * JsonGetLong/RepetitionStats precedent.
  */
case class PiiScrubExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = PiiScrubExpr.OutType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pii_scrub needs a string column, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    PiiScrubExpr.scrub(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.PiiScrubExpr.scrub($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PiiScrubExpr {
  val OutType: StructType = StructType(Seq(
    StructField("scrubbed", StringType, nullable = false),
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false),
    StructField("n_ips", IntegerType, nullable = false)))

  private val Email = "<EMAIL>".getBytes
  private val Phone = "<PHONE>".getBytes
  private val Ip = "<IP>".getBytes

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'
  private def isLower(b: Byte): Boolean = b >= 'a' && b <= 'z'
  // Java \b word class WITHOUT UNICODE_CHARACTER_CLASS: [a-zA-Z0-9_];
  // UTF-8 continuation/lead bytes have the high bit set → non-word,
  // matching the regex's view of any non-ASCII code point
  private def isWord(b: Byte): Boolean =
    isDigit(b) || isLower(b) || (b >= 'A' && b <= 'Z') || b == '_'
  private def isLocal(b: Byte): Boolean =
    isLower(b) || isDigit(b) || b == '.' || b == '_' || b == '%' ||
      b == '+' || b == '-'
  private def isDomain(b: Byte): Boolean =
    isLower(b) || isDigit(b) || b == '.' || b == '-'

  def scrub(s: UTF8String): InternalRow = {
    val in = s.getBytes
    val (b1, n1, ne) = emailPass(in, in.length)
    val (b2, n2, np) = phonePass(b1, n1)
    val (b3, n3, ni) = ipPass(b2, n2)
    val (b4, n4) = collapseTrim(b3, n3)
    new GenericInternalRow(Array[Any](
      UTF8String.fromBytes(b4, 0, n4), ne, np, ni))
  }

  /** EMAIL pass. find() semantics: each match contains exactly one
    * '@' (neither char class admits it), its local part is the
    * maximal local-class run ending at the '@' (the leftmost possible
    * match start), and greedy-domain backtracking picks the RIGHTMOST
    * dot inside the domain-class run that (a) has ≥1 run byte before
    * it and (b) is followed by ≥2 lowercase letters; the match ends
    * after the maximal letter run (greedy tld). Matches never overlap
    * (scan resumes after each), and a later local part cannot reach
    * into an earlier match (resume guard). */
  private def emailPass(b: Array[Byte], n: Int): (Array[Byte], Int, Int) = {
    // '<EMAIL>' (7) can outgrow the shortest match 'a@b.co' (6): bound
    // the output by n + n/6 + 8
    val out = new Array[Byte](n + n / 6 + 8)
    var o = 0
    var i = 0
    var resume = 0 // first index not consumed by a previous match
    var cnt = 0
    while (i < n) {
      val c = b(i)
      if (c == '@') {
        // maximal local run ending here, not crossing a prior match
        var ls = i
        while (ls > resume && isLocal(b(ls - 1))) ls -= 1
        if (ls < i) {
          // domain-class run after '@'
          var re = i + 1
          while (re < n && isDomain(b(re))) re += 1
          if (re > i + 1) {
            // rightmost dot with ≥1 run byte before and ≥2 letters after
            var end = -1
            var d = re - 1
            while (end < 0 && d >= i + 2) {
              if (b(d) == '.') {
                var t = d + 1
                while (t < n && isLower(b(t))) t += 1
                if (t - (d + 1) >= 2) end = t
              }
              if (end < 0) d -= 1
            }
            if (end >= 0) {
              o -= (i - ls) // un-copy the local part
              System.arraycopy(Email, 0, out, o, Email.length)
              o += Email.length
              cnt += 1
              i = end
              resume = end
            } else { out(o) = c; o += 1; i += 1 }
          } else { out(o) = c; o += 1; i += 1 }
        } else { out(o) = c; o += 1; i += 1 }
      } else { out(o) = c; o += 1; i += 1 }
    }
    (out, o, cnt)
  }

  /** PHONE pass (\b[0-9]{3}-[0-9]{4}\b), anchored on '-': boundary and
    * digit checks run against the pass INPUT (regex find() evaluates
    * context on the original string; replacement happens afterwards),
    * with the match start required to sit past the previous match's
    * end (non-overlapping find). '<PHONE>' (7) ≤ match (8): no growth. */
  private def phonePass(b: Array[Byte], n: Int): (Array[Byte], Int, Int) = {
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var resume = 0
    var cnt = 0
    while (i < n) {
      val c = b(i)
      if (c == '-' && i - 3 >= resume && i + 4 < n &&
        isDigit(b(i - 1)) && isDigit(b(i - 2)) && isDigit(b(i - 3)) &&
        (i - 4 < 0 || !isWord(b(i - 4))) &&
        isDigit(b(i + 1)) && isDigit(b(i + 2)) && isDigit(b(i + 3)) &&
        isDigit(b(i + 4)) && (i + 5 >= n || !isWord(b(i + 5)))) {
        o -= 3 // un-copy the leading digits
        System.arraycopy(Phone, 0, out, o, Phone.length)
        o += Phone.length
        cnt += 1
        i += 5
        resume = i
      } else { out(o) = c; o += 1; i += 1 }
    }
    (out, o, cnt)
  }

  /** IPv4 pass (\b([0-9]{1,3}\.){3}[0-9]{1,3}\b with the groups written
    * out): candidate starts are boundary digits scanned left to right;
    * per start, the four octet lengths backtrack greedily (3,2,1) the
    * way the regex engine does, with the trailing \b constraint.
    * '<IP>' (4) ≤ match (≥7): no growth. */
  private def ipPass(b: Array[Byte], n: Int): (Array[Byte], Int, Int) = {
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var resume = 0
    var cnt = 0
    while (i < n) {
      val c = b(i)
      var matched = -1
      if (isDigit(c) && i >= resume && (i == 0 || !isWord(b(i - 1))))
        matched = ipMatchEnd(b, n, i)
      if (matched >= 0) {
        System.arraycopy(Ip, 0, out, o, Ip.length)
        o += Ip.length
        cnt += 1
        i = matched
        resume = matched
      } else { out(o) = c; o += 1; i += 1 }
    }
    (out, o, cnt)
  }

  /** Backtracking octet match starting at boundary digit `s`; returns
    * the match end or -1. Group order mirrors the regex: each octet
    * tries length 3, 2, 1; the final octet additionally requires a
    * trailing non-word (or end). */
  private def ipMatchEnd(b: Array[Byte], n: Int, s: Int): Int = {
    var l1 = 3
    while (l1 >= 1) {
      val p1 = s + l1
      if (allDigits(b, n, s, l1) && p1 < n && b(p1) == '.') {
        var l2 = 3
        while (l2 >= 1) {
          val p2 = p1 + 1 + l2
          if (allDigits(b, n, p1 + 1, l2) && p2 < n && b(p2) == '.') {
            var l3 = 3
            while (l3 >= 1) {
              val p3 = p2 + 1 + l3
              if (allDigits(b, n, p2 + 1, l3) && p3 < n && b(p3) == '.') {
                var l4 = 3
                while (l4 >= 1) {
                  val p4 = p3 + 1 + l4
                  if (allDigits(b, n, p3 + 1, l4) &&
                    (p4 >= n || !isWord(b(p4)))) return p4
                  l4 -= 1
                }
              }
              l3 -= 1
            }
          }
          l2 -= 1
        }
      }
      l1 -= 1
    }
    -1
  }

  private def allDigits(b: Array[Byte], n: Int, s: Int, len: Int): Boolean = {
    if (s + len > n) return false
    var i = s
    while (i < s + len) { if (!isDigit(b(i))) return false; i += 1 }
    true
  }

  /** trim(regexp_replace(t, ' +', ' ')): collapse 0x20 runs to one,
    * drop the leading/trailing space. Only shrinks. */
  private def collapseTrim(b: Array[Byte], n: Int): (Array[Byte], Int) = {
    val out = new Array[Byte](n)
    var o = 0
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = b(i)
      if (c == ' ') { pendingSpace = o > 0 } // leading run: drop entirely
      else {
        if (pendingSpace) { out(o) = ' '; o += 1; pendingSpace = false }
        out(o) = c; o += 1
      }
      i += 1
    }
    (out, o) // a trailing run leaves pendingSpace unwritten — trimmed
  }
}
