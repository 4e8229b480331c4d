package graft.plans

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** FastMd5 is bit-identical to java.security.MessageDigest — across block
  * boundaries, empty input, non-ASCII bytes — on [[Tokens]] spans and grams
  * as on the strings the old String path hashed.
  */
class Md5ParitySpec extends AnyFunSuite {

  private def refHead(bytes: Array[Byte], bits: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    val h48 = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
      ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
      ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
    if (bits == 48) h48
    else (h48 << 16) | ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }

  test("hash48/hash64 match MessageDigest at every padding boundary") {
    val rnd = new scala.util.Random(42)
    // lengths straddling the 55/56/63/64 single-block boundaries and
    // multi-block sizes, plus a sweep of small gram-like lengths
    val lengths = (0 to 70) ++ Seq(119, 120, 127, 128, 129, 200, 1000, 4096)
    for (len <- lengths) {
      val b = new Array[Byte](len)
      rnd.nextBytes(b)
      assert(FastMd5.hash48(b, 0, len) == refHead(b, 48), s"hash48 len=$len")
      assert(FastMd5.hash64(b, 0, len) == refHead(b, 64), s"hash64 len=$len")
    }
  }

  test("offset ranges hash the slice, not the array") {
    val b = "0123456789abcdefghij".getBytes("UTF-8")
    assert(FastMd5.hash48(b, 3, 7) == refHead(b.slice(3, 10), 48))
  }

  test("string overload is UTF-8, matching gram.getBytes hashing") {
    for (s <- Seq("", "a", "the", "thé café", "日本語テキスト", "x" * 100)) {
      assert(FastMd5.hash48(s) == refHead(s.getBytes("UTF-8"), 48), s"'$s'")
    }
  }

  test("hashGram equals hashing the space-joined token strings") {
    val text = "alpha  beta\tgamma\n delta"
    val t = Tokens.tokenize(UTF8String.fromString(text))
    val n = t.n
    assert(n == 4)
    val toks = Seq("alpha", "beta", "gamma", "delta")
    for (m <- 1 to 4; i <- 0 to (n - m)) {
      val joined = toks.slice(i, i + m).mkString(" ")
      assert(FastMd5.hashGram(t, i, m, 48) ==
        refHead(joined.getBytes("UTF-8"), 48), s"m=$m i=$i")
      assert(FastMd5.hashGram(t, i, m, 64) ==
        refHead(joined.getBytes("UTF-8"), 64), s"m=$m i=$i (64)")
    }
  }

  test("randomized cross-check against the old String-based bucket path") {
    val rnd = new scala.util.Random(7)
    val alphabet = "ab éθ\t\n x "
    for (_ <- 1 to 500) {
      val s = Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val t = Tokens.tokenize(UTF8String.fromString(s))
      val toks0 = TokensSpec.regexTokens(s)
      val toks = if (toks0.length == 1 && toks0(0).isEmpty) Array.empty[String] else toks0
      assert(t.n == toks.length, s"'$s'")
      for (i <- 0 until t.n) {
        assert(FastMd5.hash48(t.bytes, t.starts(i), t.len(i)) ==
          refHead(toks(i).getBytes("UTF-8"), 48), s"'$s' tok $i")
      }
    }
  }
}
