package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-node PII detector/redactor — the fused twin of the
  * [[graft.operators.Pii]] column algebra.
  *
  * The column form is four independent `regexp_count`/`regexp_replace`
  * expression trees: each converts the row's UTF8String to a java String
  * and runs its own matcher — six conversions and six scheduler-visible
  * expression evaluations per row in the q_pii_redact hot path. This
  * expression converts ONCE and runs the same compiled patterns over that
  * one String — at most five matcher walks, and in the common cases far
  * fewer (clean text: zero; digits but nothing redacted: two fused
  * count+replace walks) — returning counts + redacted text as one struct.
  *
  * Semantics are identical BY CONSTRUCTION, not by reimplementation: the
  * pattern strings are [[graft.operators.Pii.EmailRe]]/[[graft.operators.Pii.Ipv4Re]]/
  * [[graft.operators.Pii.PhoneRe]] and the engine is the same
  * java.util.regex that Spark's regexp_* functions use — counts are
  * per-pattern over the ORIGINAL text (they may overlap), redaction is the
  * same ordered email → IPv4 → phone chain. PiiParitySpec pins the match.
  */
object PiiExpressions {

  def piiStats(text: Column): Column =
    ColumnShim.column(PiiStats(ColumnShim.expression(text)))
}

case class PiiStats(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = StructType(Seq(
    StructField("n_emails", IntegerType, nullable = false),
    StructField("n_ips", IntegerType, nullable = false),
    StructField("n_phones", IntegerType, nullable = false),
    StructField("redacted", StringType, nullable = false)))

  @transient private lazy val email = Pattern.compile(graft.operators.Pii.EmailRe)
  @transient private lazy val ipv4  = Pattern.compile(graft.operators.Pii.Ipv4Re)
  @transient private lazy val phone = Pattern.compile(graft.operators.Pii.PhoneRe)

  private def count(p: Pattern, s: String): Int = {
    val m = p.matcher(s)
    var c = 0
    while (m.find()) c += 1
    c
  }

  /** Count on `s` and replace in one matcher walk (matches on `s` ARE the
    * replacement sites when replacing in `s` itself).
    */
  private def countAndReplace(p: Pattern, s: String, token: String): (Int, String) = {
    val m = p.matcher(s)
    if (!m.find()) return (0, s)
    var c = 0
    val sb = new java.lang.StringBuilder
    do { c += 1; m.appendReplacement(sb, token) } while (m.find())
    m.appendTail(sb)
    (c, sb.toString)
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    // Character pre-scans make the common clean-document case near-free and
    // are EXACT, not heuristic: every email match contains '@'; every IPv4/
    // phone match contains an ASCII digit, and redaction placeholders add
    // neither, so a text without the character can't match at any stage.
    var hasAt = false
    var hasDigit = false
    var i = 0
    while (i < s.length && !(hasAt && hasDigit)) {
      val ch = s.charAt(i)
      if (ch == '@') hasAt = true
      else if (ch >= '0' && ch <= '9') hasDigit = true
      i += 1
    }
    val (ne, r1) = if (hasAt) countAndReplace(email, s, "<EMAIL>") else (0, s)
    var ni = 0
    var np = 0
    var redacted = r1
    if (hasDigit) {
      // IP/phone COUNTS run on the original text (documented overlap
      // semantics), their REPLACEMENTS on the email-redacted text. When the
      // count domain and the replacement domain are the SAME string (no
      // earlier stage replaced anything — the overwhelmingly common case),
      // one fused walk does both; otherwise both walks are needed, and the
      // redaction walk is unconditional even when the count is 0 (redaction
      // can create a word boundary at a placeholder seam).
      val r2 =
        if (r1 eq s) { val (c, r) = countAndReplace(ipv4, s, "<IP>"); ni = c; r }
        else { ni = count(ipv4, s); ipv4.matcher(r1).replaceAll("<IP>") }
      redacted =
        if (r2 eq s) { val (c, r) = countAndReplace(phone, s, "<PHONE>"); np = c; r }
        else { np = count(phone, s); phone.matcher(r2).replaceAll("<PHONE>") }
    }
    InternalRow(ne, ni, np, UTF8String.fromString(redacted))
  }

  override protected def withNewChildInternal(newChild: Expression): PiiStats =
    copy(child = newChild)
}
