package graft.plans

/** Allocation-free MD5 head hashing for the gram-hash hot paths
  * (classifier buckets, k-gram streams, winnow fingerprints).
  *
  * `java.security.MessageDigest` costs a `byte[16]` digest allocation, a
  * provider-layer virtual dispatch and a defensive state reset PER CALL —
  * tolerable for hashing documents, ruinous for hashing grams (a 500k-doc
  * slice at ~100 grams/doc is 50M calls; the sf10 profile put the
  * classifier's time mostly under digest machinery, not arithmetic). This
  * is the standard RFC 1321 compression loop run directly over the input
  * array with a per-thread scratch block: zero allocation per call, grams
  * hashed IN PLACE from the document's UTF-8 bytes (no String, no
  * per-gram byte[]).
  *
  * Output contract: [[hash48]]/[[hash64]] return the big-endian head (6 or
  * 8 bytes) of the standard 16-byte MD5 digest — bit-identical to the
  * `MessageDigest`-based values shipped since round 9 (Md5ParitySpec pins
  * this against `MessageDigest` across lengths incl. block boundaries),
  * and to the DuckDB oracles' `('0x' || substr(md5(g),1,12))::BIGINT`.
  */
object FastMd5 {

  // round constants K[i] = floor(|sin(i+1)| * 2^32) and per-round shifts —
  // the RFC 1321 definition, computed rather than transcribed.
  private val K: Array[Int] =
    Array.tabulate(64)(i => ((1L << 32) * math.abs(math.sin(i + 1.0))).toLong.toInt)
  private val S: Array[Int] = Array(
    7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22, 7, 12, 17, 22,
    5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20, 5, 9, 14, 20,
    4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23, 4, 11, 16, 23,
    6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21, 6, 10, 15, 21)

  private final class State {
    val block = new Array[Byte](64)     // padded tail block
    val m = new Array[Int](16)          // decoded message words
    val h = new Array[Int](4)           // chaining state
  }

  private val states = ThreadLocal.withInitial[State](() => new State)

  /** One 64-byte compression over words already decoded into `st.m`. */
  private def compress(st: State): Unit = {
    val m = st.m; val h = st.h
    var a = h(0); var b = h(1); var c = h(2); var d = h(3)
    var i = 0
    while (i < 64) {
      var f = 0; var g = 0
      if (i < 16)      { f = (b & c) | (~b & d);  g = i }
      else if (i < 32) { f = (d & b) | (~d & c);  g = (5 * i + 1) & 15 }
      else if (i < 48) { f = b ^ c ^ d;           g = (3 * i + 5) & 15 }
      else             { f = c ^ (b | ~d);        g = (7 * i) & 15 }
      f = f + a + K(i) + m(g)
      a = d; d = c; c = b
      b = b + java.lang.Integer.rotateLeft(f, S(i))
      i += 1
    }
    h(0) += a; h(1) += b; h(2) += c; h(3) += d
  }

  private def decode(st: State, src: Array[Byte], off: Int): Unit = {
    val m = st.m
    var w = 0
    while (w < 16) {
      val o = off + (w << 2)
      m(w) = (src(o) & 0xff) | ((src(o + 1) & 0xff) << 8) |
        ((src(o + 2) & 0xff) << 16) | ((src(o + 3) & 0xff) << 24)
      w += 1
    }
  }

  /** Runs the full digest over `bytes[off, off+len)`, leaving the state in
    * `st.h`. */
  private def digest(st: State, bytes: Array[Byte], off: Int, len: Int): Unit = {
    val h = st.h
    h(0) = 0x67452301; h(1) = 0xefcdab89; h(2) = 0x98badcfe; h(3) = 0x10325476
    var p = 0
    while (len - p >= 64) { decode(st, bytes, off + p); compress(st); p += 64 }
    val rem = len - p
    val blk = st.block
    System.arraycopy(bytes, off + p, blk, 0, rem)
    blk(rem) = 0x80.toByte
    java.util.Arrays.fill(blk, rem + 1, 64, 0.toByte)
    if (rem >= 56) { decode(st, blk, 0); compress(st)
      java.util.Arrays.fill(blk, 0, 64, 0.toByte) }
    val bits = len.toLong << 3
    var i = 0
    while (i < 8) { blk(56 + i) = ((bits >>> (8 * i)) & 0xff).toByte; i += 1 }
    decode(st, blk, 0); compress(st)
  }

  private def head48(st: State): Long = {
    val a = st.h(0); val b = st.h(1)
    // digest bytes are the little-endian serialization of h: byte k of word
    // w is (h(w) >>> 8k) & 0xff — the big-endian 6-byte head reads a's four
    // bytes then b's first two.
    ((a & 0xffL) << 40) | (((a >>> 8) & 0xffL) << 32) |
      (((a >>> 16) & 0xffL) << 24) | (((a >>> 24) & 0xffL) << 16) |
      ((b & 0xffL) << 8) | ((b >>> 8) & 0xffL)
  }

  private def head64(st: State): Long = {
    val b = st.h(1)
    (head48(st) << 16) | (((b >>> 16) & 0xffL) << 8) | ((b >>> 24) & 0xffL)
  }

  /** Big-endian first 6 digest bytes of md5 over the byte range. */
  def hash48(bytes: Array[Byte], off: Int, len: Int): Long = {
    val st = states.get(); digest(st, bytes, off, len); head48(st)
  }

  /** Big-endian first 8 digest bytes of md5 over the byte range. */
  def hash64(bytes: Array[Byte], off: Int, len: Int): Long = {
    val st = states.get(); digest(st, bytes, off, len); head64(st)
  }

  def hash48(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    hash48(b, 0, b.length)
  }

  /** Head hash of the space-joined m-gram of tokens `[from, from+m)`
    * (the `tokA + " " + tokB (+ …)` gram, joined by [[Tokens.Spans.gram]]
    * without materializing it). */
  def hashGram(t: Tokens.Spans, from: Int, m: Int, bits: Int): Long = {
    val len = t.gram(from, m)
    if (bits == 48) hash48(t.gramBytes, 0, len) else hash64(t.gramBytes, 0, len)
  }
}
