package graft.plans

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** [[Tokens]] against the Java-regex tokenization the column twins and the
  * DuckDB oracles use (`TextFunctions.tokens`), on the inputs where a byte
  * tokenizer could plausibly diverge: control characters that `String.trim`
  * strips but `\s` does not, Unicode spaces outside the ASCII `\s` class,
  * multi-byte and non-BMP code points, CRLF and VT/FF runs.
  */
class TokensSpec extends AnyFunSuite {

  /** `split` tokens of the text as UTF-8 strings, with `split`'s empty
    * token for an empty or all-whitespace text. */
  private def spanStrings(s: String): Seq[String] =
    Tokens.tokenize(UTF8String.fromString(s)).strings.toSeq

  private val hard = Seq(
    "\u0000", "\u0000a\u0000", "a\u0000 b",                     // NUL
    "\u001c\u001d\u001e\u001f", " \u001cx\u001f ", "\u001f a b \u001c", // FS..US
    "a\u00a0b", "\u00a0", "\u00a0 \u00a0",                      // NBSP
    "a\u2028b", "\u2028", "a\u3000b \u3000",                    // LS, ideographic space
    "\ud83d\ude00", "x \ud83d\ude00y \ud834\udd1e",             // non-BMP
    "crlf\r\nline\r\n", "\r\n", "vt\u000bff\u000crun\u000b\u000c\u000b", "\u000b\u000c",
    "a \u2028", "a \u0085", "a\t\u2029")                          // final line terminators

  test("tokenize matches the Java-regex split on every whitespace class") {
    val cases = Seq(
      "", "   ", "\t\n", "one", " one ", "a b", "ab\fc\rd",
      "\u591a\u5b57\u8282 tokens mixed\twith  ascii", "trailing space ", "\n\nleading") ++ hard
    for (s <- cases) {
      val expected0 = TokensSpec.regexTokens(s)
      val expected =
        if (expected0.length == 1 && expected0(0).isEmpty) Array.empty[String]
        else expected0
      val t = Tokens.tokenize(UTF8String.fromString(s))
      val got = (0 until t.n).map(t.string)
      assert(got == expected.toSeq, s"'$s'")
      // split's own length, empty token included
      assert(spanStrings(s) == expected0.toSeq, s"'$s' (split)")
    }
  }

  test("randomized parity over an alphabet of the hard characters") {
    val rnd = new scala.util.Random(17)
    val alphabet = Seq("a", "b", "\u00e9", " ", "\t", "\n", "\r", "\u000b", "\u000c",
      "\u0000", "\u001c", "\u001f", "\u00a0", "\u2028", "\u3000", "\ud83d\ude00")
    for (_ <- 1 to 2000) {
      val s = Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.length))).mkString
      assert(spanStrings(s) == TokensSpec.regexTokens(s).toSeq, s"'$s'")
    }
  }

  test("isWs is exactly Java-regex \\s over every char and every byte") {
    val ws = java.util.regex.Pattern.compile("\\s")
    for (c <- Char.MinValue to Char.MaxValue)
      assert(Tokens.isWs(c) == ws.matcher(c.toString).matches(), f"U+${c.toInt}%04X")
    for (b <- Byte.MinValue to Byte.MaxValue)
      assert(Tokens.isWs(b.toByte) == (b >= 0 && ws.matcher(b.toChar.toString).matches()), s"byte $b")
  }

  test("gram joins tokens with single spaces; the empty text is one empty token") {
    val t = Tokens.tokenize(UTF8String.fromString(" alpha\t\tbeta \u00a0  gamma\r\n"))
    assert(t.n == 4 && t.nSplit == 4)
    val len = t.gram(1, 3)
    assert(new String(t.gramBytes, 0, len, "UTF-8") == "beta \u00a0 gamma") // NBSP is a token
    for (s <- Seq("", " ", "\t\r\n\u000b\u000c")) {
      val e = Tokens.tokenize(UTF8String.fromString(s))
      assert(e.n == 0 && e.nSplit == 1 && e.len(0) == 0, s"'$s'")
      assert(e.gram(0, 1) == 0)
    }
  }

  test("malformed UTF-8: hashing kernels see the stored bytes, decoding kernels U+FFFD") {
    // a lone continuation byte and a truncated 3-byte lead, split by a space
    val raw = Array[Byte]('a', 0x80.toByte, ' ', 0xe6.toByte, 0x97.toByte)
    val t = Tokens.tokenize(UTF8String.fromBytes(raw))
    assert(t.n == 2)
    assert(t.bytes.slice(t.starts(0), t.ends(0)).toSeq == Seq[Byte]('a', 0x80.toByte))
    assert(t.string(0) == "a\ufffd" && t.string(1) == "\ufffd")
  }

  test("kernels keep split's empty token: one hashed \"\", n_tokens = 1") {
    val empties = Seq("", "   ", "\t\r\n")
    val emptyHash = TextExpressions.xxhash64(Array.emptyByteArray, 0, 0)
    for (s <- empties) {
      val u = UTF8String.fromString(s)
      assert(SimHash64(null).nullSafeEval(u) == SimHash64(null).nullSafeEval(UTF8String.EMPTY_UTF8))
      val mh = MinHashState(null, 32, 3, 8, 42L).nullSafeEval(u)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      assert(mh.getArray(0).toLongArray().toSeq == Seq(emptyHash), s"'$s'")
      val sh = ShingleSet(null, 3).nullSafeEval(u).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      assert(sh.numElements() == 1 && sh.getUTF8String(0).numBytes() == 0, s"'$s'")
      assert(WinnowFps.compute(u, 1, 1).numElements() == 1, s"'$s'")
      assert(WinnowFps.compute(u, 2, 1).numElements() == 0, s"'$s'")
      val gs = GopherStats(null, Seq("the")).nullSafeEval(u)
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      assert(gs.getInt(0) == 1 && gs.getDouble(1) == 0.0, s"'$s'")
      assert(TermCounts.compute(u).getInt(0) == 1, s"'$s'")
      assert(HashedNgramLogit.compute(u, Array(1L, 2L), includeBigrams = true).getInt(0) == 0)
      assert(KgramHashes.compute(u, 1, 48).numElements() == 0)
    }
  }
}

object TokensSpec {
  // `\z`, not `$`: Java's `$` also matches before a final U+0085, U+2028
  // or U+2029 (see TextFunctions.tokens)
  private val edge = java.util.regex.Pattern.compile("^\\s+|\\s+\\z")
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** The reference tokenization: edge-strip by `\s`, then `split("\\s+")`
    * (`TextFunctions.tokens` on a decoded String). */
  private[plans] def regexTokens(s: String): Array[String] =
    ws.split(edge.matcher(s).replaceAll(""))
}

