package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** The one tokenizer of every native text kernel: a token is a maximal run
  * of non-whitespace bytes of the text's UTF-8 encoding, and whitespace is
  * [[isWs]] — Java-regex `\s` without `UNICODE_CHARACTER_CLASS` (space, tab,
  * LF, VT, FF, CR). That is exactly the column twins' tokenization,
  * `split(regexp_replace(text, "^\\s+|\\s+\\z", ""), "\\s+")`
  * (`TextFunctions.tokens`), and the DuckDB oracles' split: the six
  * whitespace bytes are ASCII and every byte of a multi-byte UTF-8 unit is
  * ≥ 0x80, so a byte scan never cuts a code point. Everything else is a
  * token byte — NUL and U+001C–U+001F (which `String.trim` would strip),
  * NBSP, U+2028, U+3000 and non-BMP code points included.
  *
  * The split trap: `split` of an empty or all-whitespace text is `[""]`, one
  * empty token. [[Spans.n]] counts the non-empty runs (0 there);
  * [[Spans.nSplit]] is `split`'s length (1 there, token 0 being a
  * zero-length span). Kernels whose outputs count or hash that empty token
  * (n_tokens = 1, one hashed `""`) iterate `nSplit`; kernels that drop it
  * iterate `n`.
  *
  * Malformed UTF-8: spans are the stored bytes, so a kernel that hashes
  * them hashes those bytes, where decoding the text first would have hashed
  * U+FFFD. A kernel that decodes a span ([[Spans.string]]) sees U+FFFD as
  * before. Text Spark writes from Java strings is valid UTF-8, so outputs
  * only differ on byte-level input that is not.
  */
object Tokens {

  /** Java-regex `\s`: 0x20 and 0x09–0x0D. Takes a byte or a char (widened);
    * a negative byte (a UTF-8 lead or continuation byte) is never
    * whitespace. */
  @inline def isWs(c: Int): Boolean = c == 0x20 || (c >= 0x09 && c <= 0x0d)

  /** One text's token spans `[starts(i), ends(i))` over `bytes`, in a
    * per-thread buffer: VALID UNTIL THE NEXT [[tokenize]] on the same
    * thread. Each executor thread keeps its last document's bytes
    * referenced until its next call. */
  final class Spans private[Tokens] {
    var bytes: Array[Byte] = Array.emptyByteArray
    var starts: Array[Int] = new Array[Int](256)
    var ends: Array[Int] = new Array[Int](256)
    /** Non-empty token count. */
    var n: Int = 0
    /** Single-space gram joins ([[gram]]). */
    var gramBytes: Array[Byte] = new Array[Byte](256)

    /** `split`'s token count: [[n]], or 1 (the empty token) when n = 0. */
    def nSplit: Int = if (n == 0) 1 else n

    def len(i: Int): Int = ends(i) - starts(i)

    def string(i: Int): String =
      new String(bytes, starts(i), len(i), java.nio.charset.StandardCharsets.UTF_8)

    /** The `split` tokens, decoded: [[nSplit]] strings. */
    def strings: Array[String] = Array.tabulate(nSplit)(string)

    /** Joins tokens `[from, from+m)` with single spaces into [[gramBytes]]
      * and returns the joined length: the bytes of `tokA + " " + tokB …`
      * without building the string. */
    def gram(from: Int, m: Int): Int = {
      var total = m - 1
      var i = from
      while (i < from + m) { total += len(i); i += 1 }
      if (gramBytes.length < total)
        gramBytes = new Array[Byte](java.lang.Integer.highestOneBit(total) << 1)
      var pos = 0
      i = from
      while (i < from + m) {
        if (i > from) { gramBytes(pos) = ' '; pos += 1 }
        System.arraycopy(bytes, starts(i), gramBytes, pos, len(i))
        pos += len(i)
        i += 1
      }
      total
    }
  }

  private val spans = ThreadLocal.withInitial[Spans](() => new Spans)

  /** Token spans of `input` in this thread's [[Spans]]. */
  def tokenize(input: UTF8String): Spans = {
    val t = spans.get()
    val b = input.getBytes
    val worst = (b.length >> 1) + 1
    if (t.starts.length < worst) { t.starts = new Array[Int](worst); t.ends = new Array[Int](worst) }
    var n = 0
    var i = 0
    while (i < b.length) {
      while (i < b.length && isWs(b(i))) i += 1
      if (i < b.length) {
        t.starts(n) = i
        while (i < b.length && !isWs(b(i))) i += 1
        t.ends(n) = i
        n += 1
      }
    }
    if (n == 0) { t.starts(0) = 0; t.ends(0) = 0 } // nSplit's empty token
    t.bytes = b
    t.n = n
    t
  }
}
