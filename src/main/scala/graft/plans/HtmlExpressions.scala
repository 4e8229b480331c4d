package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Raw-HTML → text extraction (the step BEFORE line cleaning in every
  * CommonCrawl-style pipeline): strip script/style/comments, segment on
  * block-level tags, score each block by length / word count / link density
  * and keep only content-like blocks — the jusText shape (Pomikálek 2011)
  * reduced to an exact, engine-portable rule algebra. The semantics are
  * DEFINED as a fixed sequence of regex-algebra steps (each step is plain
  * `regexp_replace`/`split`/`regexp_extract_all` over the page), so the
  * operator has three interchangeable implementations: this native one-pass
  * scanner (the hot path), the column-algebra twin
  * ([[graft.operators.HtmlExtract.extractColumns]], parity-pinned in
  * HtmlExtractSpec), and a DuckDB SQL twin (the q_html_extract oracle).
  *
  * Step algebra (applied in order; ALL three implementations follow it):
  *  1. `(?is)<script\b[^>]*>.*?</script>` → `" "`, then the same for
  *     `<style>`, then `(?s)<!--.*?-->` → `" "` (sequential passes — a
  *     script inside a comment is removed by the script pass first).
  *  2. Split into blocks on
  *     `(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|hr|nav|footer|header|section|article|table|tr|td|th|blockquote)\b[^>]*>`.
  *  3. Per block: `linkChars` = summed code-point lengths of group-1
  *     captures of `(?is)<a\b[^>]*>(.*?)</a>` (raw spans, before tag
  *     stripping); `cleaned` = `trim(collapse_\s+(strip `<[^>]*>` → " "))`.
  *  4. Keep iff `len(cleaned) >= minChars` AND word count (single-space
  *     tokens of `cleaned`) `>= minWords` AND
  *     `linkChars * 100 < len(cleaned) * maxLinkDensityPct` (integer
  *     arithmetic — no float threshold ambiguity across engines).
  *  5. Output text = kept blocks joined by `\n`; `n_blocks` counts blocks
  *     with non-empty `cleaned`; `n_kept` counts kept blocks.
  *
  * Lengths are CODE POINTS everywhere (= Spark `length`, DuckDB `length`).
  * Unclosed constructs follow the regex, not an HTML5 parser: an unclosed
  * `<script>` keeps its (tag-stripped) content, an unmatched `<` with no
  * `>` is literal text, an `<a>` with no `</a>` contributes no link chars.
  * This is deliberate — identical, testable behavior on all three engines
  * beats a lenient parser nobody else can mirror.
  */
object HtmlTextExtract {

  /** Block keep rules — see the class doc's step 4. Defaults are the
    * common boilerplate gate: ≥25 chars, ≥3 words, link density < 50%.
    */
  case class HtmlRules(minChars: Int = 25, minWords: Int = 3,
                       maxLinkDensityPct: Int = 50) {
    require(minChars >= 0 && minWords >= 0,
      s"HtmlRules: minChars/minWords must be >= 0, got $minChars/$minWords")
    require(maxLinkDensityPct >= 0 && maxLinkDensityPct <= 100,
      s"HtmlRules: maxLinkDensityPct must be in [0,100], got $maxLinkDensityPct")
  }

  /** The block-level tag set of the split regex, lowercase. */
  val blockTags: Array[String] = Array(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "br", "hr", "nav", "footer", "header", "section", "article",
    "table", "tr", "td", "th", "blockquote")

  /** The exact split pattern (shared by the column twin and the oracle). */
  // ASCII lookahead, NOT \b: Java's \b is Unicode-aware (a non-ASCII letter
  // after the tag name would suppress the boundary) while the native byte
  // scanner and the RE2/DuckDB oracle treat any non-ASCII byte as a
  // boundary. The lookahead pins all three to identical ASCII semantics.
  val blockSplitPattern: String =
    "(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|hr|nav|footer|header|section|article|table|tr|td|th|blockquote)(?![A-Za-z0-9_])[^>]*>"

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'
  private def lower(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  private def matchesIgnoreCase(b: Array[Byte], i: Int, pat: Array[Byte]): Boolean = {
    if (i + pat.length > b.length) return false
    var k = 0
    while (k < pat.length) {
      if (lower(b(i + k)) != pat(k)) return false
      k += 1
    }
    true
  }

  /** `(?is)<NAME\b[^>]*>.*?</NAME>` → " " over the whole array, one linear
    * pass (NAME lowercase ASCII). Returns a fresh array of the same length
    * or less. An open tag with no `>` or no closing tag is left in place,
    * exactly like the failing regex match.
    */
  private def removeElement(bytes: Array[Byte], name: String): Array[Byte] = {
    val open = ("<" + name).getBytes("UTF-8")
    val close = ("</" + name + ">").getBytes("UTF-8")
    val out = new Array[Byte](bytes.length)
    var o = 0
    var i = 0
    val n = bytes.length
    while (i < n) {
      var consumed = false
      if (bytes(i) == '<' && matchesIgnoreCase(bytes, i, open) &&
          (i + open.length == n || !isWordByte(bytes(i + open.length)))) {
        // find the open tag's '>' ([^>]* — fails if absent)
        var gt = i + open.length
        while (gt < n && bytes(gt) != '>') gt += 1
        if (gt < n) {
          // lazy .*? to the first case-insensitive close tag
          var c = gt + 1
          var closeAt = -1
          while (closeAt < 0 && c + close.length <= n) {
            if (matchesIgnoreCase(bytes, c, close)) closeAt = c else c += 1
          }
          if (closeAt >= 0) {
            out(o) = ' '
            o += 1
            i = closeAt + close.length
            consumed = true
          }
        }
      }
      if (!consumed) {
        out(o) = bytes(i)
        o += 1
        i += 1
      }
    }
    java.util.Arrays.copyOf(out, o)
  }

  /** `(?s)<!--.*?-->` → " ", one linear pass. */
  private def removeComments(bytes: Array[Byte]): Array[Byte] = {
    val open = "<!--".getBytes("UTF-8")
    val close = "-->".getBytes("UTF-8")
    val out = new Array[Byte](bytes.length)
    var o = 0
    var i = 0
    val n = bytes.length
    while (i < n) {
      var consumed = false
      if (bytes(i) == '<' && matchesIgnoreCase(bytes, i, open)) {
        var c = i + open.length
        var closeAt = -1
        while (closeAt < 0 && c + close.length <= n) {
          if (matchesIgnoreCase(bytes, c, close)) closeAt = c else c += 1
        }
        if (closeAt >= 0) {
          out(o) = ' '
          o += 1
          i = closeAt + close.length
          consumed = true
        }
      }
      if (!consumed) {
        out(o) = bytes(i)
        o += 1
        i += 1
      }
    }
    java.util.Arrays.copyOf(out, o)
  }

  private val blockTagBytes: Array[Array[Byte]] = blockTags.map(_.getBytes("UTF-8"))

  /** Length of the block-separator match starting at `i`, or -1. */
  private def blockSepLen(b: Array[Byte], i: Int): Int = {
    val n = b.length
    if (b(i) != '<') return -1
    var p = i + 1
    if (p < n && b(p) == '/') p += 1
    var t = 0
    while (t < blockTagBytes.length) {
      val tag = blockTagBytes(t)
      if (matchesIgnoreCase(b, p, tag) &&
          (p + tag.length == n || !isWordByte(b(p + tag.length)))) {
        // [^>]*> — first '>' at or after the name end
        var gt = p + tag.length
        while (gt < n && b(gt) != '>') gt += 1
        if (gt < n) return gt + 1 - i
        return -1 // no '>': the regex match fails here
      }
      t += 1
    }
    -1
  }

  // scratch for per-block cleaned text (thread-confined: one instance per
  // codegen reference / eval call chain would still race across tasks, so
  // allocate per call instead — blocks are small, the buffer is reused
  // across blocks within one compute() call)
  private final class BlockScore(var cleanedLen: Int, var words: Int, var linkChars: Int)

  /** Score one sanitized block [s,e): cleaned code-point length, word
    * count, link chars — WITHOUT materializing the cleaned string (the
    * output assembly re-runs the strip over kept blocks only).
    */
  private def scoreBlock(b: Array[Byte], s: Int, e: Int, out: BlockScore): Unit = {
    // pass 1: cleaned length + words (strip <...> → gap, collapse ws, trim).
    // A "gap" (ws run / tag / both, adjacent) becomes ONE collapsed space iff
    // content precedes AND follows it; a token starts at the first content
    // char after a gap (or at the very first content char). A content char
    // directly after a gap is always a code-point START (gaps end at ASCII
    // bytes, and UTF8String input is valid UTF-8).
    var cp = 0
    var words = 0
    var pendingGap = false
    var started = false
    var i = s
    while (i < e) {
      val x = b(i)
      var content = false
      if (x == '<') {
        var gt = i + 1
        while (gt < e && b(gt) != '>') gt += 1
        if (gt < e) { pendingGap = true; i = gt + 1 }
        else content = true // no '>': the regex leaves the literal '<'
      } else if (Tokens.isWs(x)) {
        pendingGap = true
        i += 1
      } else content = true
      if (content) {
        if (!started || pendingGap) {
          if (started) cp += 1 // the collapsed interior space
          words += 1
          started = true
          pendingGap = false
        }
        if ((b(i) & 0xc0) != 0x80) cp += 1
        i += 1
      }
    }
    out.cleanedLen = cp
    out.words = words
    // pass 2: link captures <a\b[^>]*>(.*?)</a> (case-insensitive),
    // non-overlapping left to right; a failed match at one position resumes
    // the scan one byte later, like the regex engine
    var lc = 0
    var j = s
    while (j < e) {
      if (b(j) == '<' && j + 1 < e && lower(b(j + 1)) == 'a' &&
          (j + 2 >= e || !isWordByte(b(j + 2)))) {
        var gt = j + 2
        while (gt < e && b(gt) != '>') gt += 1
        if (gt < e) {
          var c = gt + 1
          var closeAt = -1
          while (closeAt < 0 && c + 4 <= e) {
            if (b(c) == '<' && b(c + 1) == '/' && lower(b(c + 2)) == 'a' && b(c + 3) == '>')
              closeAt = c
            else c += 1
          }
          if (closeAt >= 0) {
            var k = gt + 1
            while (k < closeAt) {
              if ((b(k) & 0xc0) != 0x80) lc += 1
              k += 1
            }
            j = closeAt + 4
          } else j += 1
        } else j += 1
      } else j += 1
    }
    out.linkChars = lc
  }

  /** Emit block [s,e)'s cleaned text (strip tags → " ", collapse `\s+`,
    * trim) into `sb`. Mirrors pass 1 of [[scoreBlock]] exactly.
    */
  private def emitCleaned(b: Array[Byte], s: Int, e: Int, sb: java.lang.StringBuilder): Unit = {
    val raw = new String(b, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
    var pendingGap = false
    var started = false
    var i = 0
    val n = raw.length
    while (i < n) {
      val ch = raw.charAt(i)
      if (ch == '<') {
        var gt = i + 1
        while (gt < n && raw.charAt(gt) != '>') gt += 1
        if (gt < n) { pendingGap = true; i = gt + 1 }
        else {
          if (started && pendingGap) sb.append(' ')
          pendingGap = false
          started = true
          sb.append(ch)
          i += 1
        }
      } else if (Tokens.isWs(ch)) {
        pendingGap = true
        i += 1
      } else {
        if (started && pendingGap) sb.append(' ')
        pendingGap = false
        started = true
        sb.append(ch)
        i += 1
      }
    }
  }

  /** One scorer for the interpreted and generated paths: the full step
    * algebra over one page. */
  def compute(input: UTF8String, minChars: Int, minWords: Int,
              maxLinkDensityPct: Int): InternalRow = {
    var bytes = input.getBytes
    bytes = removeElement(bytes, "script")
    bytes = removeElement(bytes, "style")
    bytes = removeComments(bytes)
    val n = bytes.length
    val sb = new java.lang.StringBuilder
    val score = new BlockScore(0, 0, 0)
    var nBlocks = 0L
    var nKept = 0L
    var blockStart = 0
    var i = 0
    var done = false
    while (!done) {
      var sepLen = -1
      var sepAt = -1
      while (sepAt < 0 && i < n) {
        if (bytes(i) == '<') {
          val l = blockSepLen(bytes, i)
          if (l > 0) { sepAt = i; sepLen = l } else i += 1
        } else i += 1
      }
      val e = if (sepAt >= 0) sepAt else n
      scoreBlock(bytes, blockStart, e, score)
      if (score.cleanedLen > 0) nBlocks += 1
      if (score.cleanedLen >= minChars && score.words >= minWords &&
          score.linkChars * 100L < score.cleanedLen.toLong * maxLinkDensityPct) {
        if (nKept > 0) sb.append('\n')
        emitCleaned(bytes, blockStart, e, sb)
        nKept += 1
      }
      if (sepAt >= 0) { i = sepAt + sepLen; blockStart = i }
      else done = true
    }
    InternalRow(UTF8String.fromString(sb.toString), nBlocks, nKept)
  }
}

/** See [[HtmlTextExtract]] (object doc). struct<text, n_blocks, n_kept>. */
case class HtmlTextExtract(child: Expression, rules: HtmlTextExtract.HtmlRules)
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    HtmlTextExtract.compute(input.asInstanceOf[UTF8String],
      rules.minChars, rules.minWords, rules.maxLinkDensityPct)

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.HtmlTextExtract$$.MODULE$$.compute($a, " +
        s"${rules.minChars}, ${rules.minWords}, ${rules.maxLinkDensityPct});")

  override protected def withNewChildInternal(newChild: Expression): HtmlTextExtract =
    copy(child = newChild)
}

object HtmlExpressions {
  /** Column API for [[HtmlTextExtract]]. */
  def htmlExtract(html: Column, rules: HtmlTextExtract.HtmlRules = HtmlTextExtract.HtmlRules()): Column =
    ColumnShim.column(HtmlTextExtract(ColumnShim.expression(html), rules))
}
