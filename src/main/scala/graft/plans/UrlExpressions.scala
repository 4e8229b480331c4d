package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass URL canonicalization — the twin of
  * `TextFunctions.normalizeUrlColumns` (fragment strip, scheme://host
  * lowercase, default-port strip, tracking-parameter removal).
  *
  * WHY: the column form is 6 regexp nodes + a `filter(split(...))`
  * higher-order function per row; HOFs evaluate interpreted (per-element
  * lambda dispatch) and each regexp node re-materializes its input slice.
  * URL canonicalization runs once per crawl record at 100 TB — a
  * scan-stage constant worth one native pass (q_url_canonical measured
  * 1.22 s → 0.5 s at sf10).
  *
  * PARITY BY CONSTRUCTION: this expression runs the IDENTICAL
  * java.util.regex patterns the column twin's regexp nodes run (same
  * engine, same flags, same `find()` anchoring), `UTF8String.toLowerCase`
  * for the `lower()` step, and `String.split("&", -1)` for `split` — so
  * every engine-semantics corner (the `$`-before-final-newline rule in the
  * fragment strip, `.*` not crossing line terminators in the query
  * extract, trailing empty params) falls out identical rather than being
  * re-derived. UrlParitySpec pins it on adversarial inputs (fragments,
  * newlines, non-URL strings, empty/percent/duplicate params).
  */
object UrlExpressions {

  def urlCanonical(url: Column, trackingParamPattern: String): Column =
    ColumnShim.column(UrlCanonical(ColumnShim.expression(url), trackingParamPattern))
}

object UrlCanonical {
  // the column twin's exact patterns (TextFunctions.normalizeUrlColumns)
  private val frag = java.util.regex.Pattern.compile("#.*$")
  private val head = java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*")
  private val http80 = java.util.regex.Pattern.compile("^(http://[^/?#:]+):80$")
  private val https443 = java.util.regex.Pattern.compile("^(https://[^/?#:]+):443$")
  private val pathRe = java.util.regex.Pattern.compile("^[^?]*")
  private val queryRe = java.util.regex.Pattern.compile("^[^?]*\\?(.*)$")

  def compute(url: UTF8String, tracking: java.util.regex.Pattern): UTF8String = {
    val s = url.toString
    val noFrag = frag.matcher(s).replaceAll("")
    val hm = head.matcher(noFrag)
    if (!hm.find()) return url // not URL-shaped: pass through untouched
    val h = hm.group(0)
    val rest = noFrag.substring(h.length)
    // lower() == UTF8String.toLowerCase (the twin's exact lowercasing)
    val lowered = UTF8String.fromString(h).toLowerCase.toString
    val headCanon = https443.matcher(
      http80.matcher(lowered).replaceAll("$1")).replaceAll("$1")
    val pm = pathRe.matcher(rest)
    val path = if (pm.find()) pm.group(0) else ""
    val qm = queryRe.matcher(rest)
    val query = if (qm.find()) qm.group(1) else ""
    val sb = new java.lang.StringBuilder(headCanon).append(path)
    if (query.nonEmpty) {
      var first = true
      val parts = query.split("&", -1)
      var i = 0
      while (i < parts.length) {
        val p = parts(i)
        if (p.nonEmpty && !tracking.matcher(p).find()) {
          sb.append(if (first) "?" else "&").append(p)
          first = false
        }
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }
}

case class UrlCanonical(child: Expression, trackingParamPattern: String)
    extends UnaryExpression with UnaryLike[Expression] with GraftKernel {

  override def dataType: DataType = StringType
  override def checkInputDataTypes() =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_url_canonical expects STRING, got ${child.dataType.catalogString}")

  @transient private lazy val tracking =
    java.util.regex.Pattern.compile(trackingParamPattern)

  override def nullSafeEval(input: Any): Any =
    UrlCanonical.compute(input.asInstanceOf[UTF8String], tracking)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val patRef = ctx.addReferenceObj("graftUrlTracking", tracking,
      "java.util.regex.Pattern")
    nullSafeCodeGen(ctx, ev, u =>
      s"${ev.value} = graft.plans.UrlCanonical$$.MODULE$$.compute($u, $patRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
