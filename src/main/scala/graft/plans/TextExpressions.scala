package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the dedup hot path.
  *
  * The pure-`functions._` formulations (graft.functions.HashFunctions) are
  * correct but evaluate through interpreted higher-order functions — fine for
  * composition, ruinous in a 100 TB scan (each shingle pays boxing + lambda
  * dispatch, and any expression inlining multiplies the whole tree). These
  * expressions do the complete shingle→hash→signature→bands pipeline in one
  * tight JVM loop per row: one pass over the text, primitive arrays, zero
  * boxing. `CodegenFallback` keeps them embeddable in WholeStageCodegen spans.
  *
  * Hash parity: per-shingle hashes are `xxhash64(shingle)` (same
  * XxHash64Function, seed 42) and the permutation family shares
  * [[graft.functions.HashFunctions.family]]'s constants, so native and
  * column-algebra outputs are interchangeable.
  */
object TextExpressions {

  /** struct<shingle_hashes, signature, band_hashes> for MinHash-LSH dedup. */
  def minhashState(text: Column, k: Int = 32, w: Int = 3, bands: Int = 8,
                   seed: Long = 42L): Column =
    ColumnShim.column(
      MinHashState(ColumnShim.expression(text), k, w, bands, seed))

  /** 64-bit SimHash over whitespace tokens (native twin of
    * HashFunctions.simhash). */
  def simhash64(text: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(text)))

  /** Distinct word w-shingles as strings (native twin of
    * HashFunctions.shingles + array_distinct). */
  def shingleSet(text: Column, w: Int = 3): Column =
    ColumnShim.column(ShingleSet(ColumnShim.expression(text), w))

  /** Marker-token language ID (native twin of TextFunctions.langIdColumns):
    * one pass over the tokens, counts per language, argmax with ties broken
    * by FIRST language in sorted-code order; no hits → "und".
    */
  def langId(text: Column,
             markers: Map[String, Seq[String]] = graft.functions.TextFunctions.langMarkers): Column =
    ColumnShim.column(LangId(ColumnShim.expression(text), markers.toSeq.sortBy(_._1)))

  /** Order-sensitive two-lane polynomial fingerprint (native twin of
    * TextFunctions.fingerprintColumns). */
  def fingerprint(text: Column): Column =
    ColumnShim.column(Fingerprint(ColumnShim.expression(text)))

  /** Unrounded stopword-hit ratio (native twin of the filter-HOF formulation;
    * callers apply `round(_, 4)` so the rounding stays in column algebra).
    */
  def stopwordRatioRaw(text: Column,
                       stopwords: Seq[String] = graft.functions.TextFunctions.defaultStopwords): Column =
    ColumnShim.column(StopwordRatio(ColumnShim.expression(text), stopwords))

  /** Unrounded composite quality score (native twin of the two-HOF
    * formulation in TextFunctions.qualityScoreColumns). */
  def qualityScoreRaw(text: Column,
                      stopwords: Seq[String] = graft.functions.TextFunctions.defaultStopwords): Column =
    ColumnShim.column(QualityScore(ColumnShim.expression(text), stopwords))

  /** struct<n_tokens, dup_word_frac, dup_bigram_frac, top_word_frac> —
    * Gopher-style repetition signals in ONE tokens pass (fracs unrounded;
    * callers round, keeping rounding in column algebra like the other text
    * expressions).
    */
  def repetitionStats(text: Column): Column =
    ColumnShim.column(RepetitionStats(ColumnShim.expression(text)))

  /** struct<n_tokens, mean_word_len, symbol_ratio, alpha_word_frac,
    * n_stop_distinct, bullet_line_frac, ellipsis_line_frac> — the Gopher
    * (MassiveText, Rae et al. 2021 §A1.1) document-quality rule signals in
    * ONE pass over tokens + lines (fracs unrounded; callers round).
    */
  def gopherStats(text: Column,
                  stopwords: Seq[String] = graft.functions.TextFunctions.gopherStopwords): Column =
    ColumnShim.column(GopherStats(ColumnShim.expression(text), stopwords))

  /** Unicode normalization (UAX#15) — Spark ships no built-in for it, and a
    * UDF would box every row. `form` ∈ NFC | NFD | NFKC | NFKD.
    */
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    ColumnShim.column(UnicodeNormalize(ColumnShim.expression(text), form))

  /** Canonical normalization: NFC (native) → Spark's own `lower` (ICU-aware
    * — see [[CollapseWhitespace]]'s note) → one-pass whitespace collapse +
    * trim (native). Replaces the twin's two regexp passes; case mapping is
    * the identical operator on both paths.
    */
  def normalizeText(text: Column, form: String = "NFC"): Column =
    ColumnShim.column(CollapseWhitespace(ColumnShim.expression(
      org.apache.spark.sql.functions.lower(unicodeNormalize(text, form)))))

  /** zlib compression ratio (deflate level 6) — degenerate-text signal;
    * rounded by callers like the other quality signals.
    */
  def compressionRatio(text: Column): Column =
    ColumnShim.column(CompressionRatio(ColumnShim.expression(text)))

  /** BPE-ish token count — native state-machine twin of
    * `regexp_count(text, "[a-z]+|[A-Z][a-z]*|[0-9]|[^a-zA-Z0-9\\s]")`. The
    * pattern is FIXED, so the regex engine buys nothing: Java's backtracking
    * alternation made this the slowest pure scan in the suite (1.7 s at sf1
    * for a character classifier), while a direct scan is memory-bound. The
    * scanner replicates the regex exactly — leftmost-first alternation,
    * code-POINT stepping (a non-BMP char is one `[^...]` match, not two),
    * and Java's ASCII-only `\s` class (U+00A0 is NOT whitespace and counts
    * as a symbol token, same as the regex).
    */
  def bpeishCount(text: Column): Column =
    ColumnShim.column(BpeishCount(ColumnShim.expression(text)))

  /** `struct<ntok, entries array<struct<term, n>>>` — per-document term
    * counts in ONE pass. Term counting is purely per-document state, so
    * doing it as an expression inside the scan removes the (doc, term)
    * aggregation exchange entirely: the corpus's every token occurrence
    * used to ride that shuffle just to be counted against its own
    * document. Entries surface in first-occurrence order (deterministic);
    * empty-string tokens (the split artifact of blank text) are skipped,
    * `ntok` counts the raw token array like `size(tokens(text))`.
    */
  def termCounts(text: Column): Column =
    ColumnShim.column(TermCounts(ColumnShim.expression(text)))

  /** Per-document BIGRAM counts in one scan-stage pass —
    * `struct<nbg int, entries array<struct<w1, w2, n>>>` with `nbg` the
    * total ordered-bigram count (= max(tokens − 1, 0)) and `entries` the
    * distinct pairs with multiplicities. [[TermCounts]]'s sibling for the
    * n-gram LM family ([[graft.operators.Perplexity]]): bigram extraction
    * is pure per-document state, so the `zip_with(slice, slice)` columnar
    * formulation — correct, and kept as the parity twin
    * ([[graft.operators.Perplexity.bigramsCol]]) — pays interpreted
    * higher-order-function evaluation per row and explodes every
    * OCCURRENCE; this counts inside codegen and explodes only distinct
    * pairs per document. Downstream weighting multiplies by `n`, which
    * sums identically (k·round(p) ≡ Σ_k round(p) — exact, so the DuckDB
    * per-occurrence oracle still matches bit-for-bit).
    */
  def bigramCounts(text: Column): Column =
    ColumnShim.column(BigramCounts(ColumnShim.expression(text)))

  /** Distinct winnowed fingerprints (Schleimer/Wilkerson/Aiken) of the
    * whole document in ONE pass — native twin of the
    * `Winnow.fingerprintsColumnar` explode→window→aggregate pipeline. The
    * columnar form is correct but materializes every k-gram as a row
    * through a doc-id window exchange; per-document winnowing needs no
    * cross-row state at all, so this computes md5 k-gram digests and the
    * sliding-window minimum (monotonic deque, O(grams)) inside the scan
    * stage and the whole fingerprint pass runs shuffle-free. Digests are
    * compared as UNSIGNED byte arrays, which orders identically to Spark's
    * binary UTF8String comparison of their lowercase-hex strings (each
    * byte maps monotonically to its two hex chars), so min-selection
    * matches the column twin's `min(md5_hex)` bit-for-bit; only the ~2/(w+1)
    * winners are hex-encoded.
    */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    ColumnShim.column(WinnowFps(ColumnShim.expression(text), k, w))

  /** `XxHash64Function.hash(s, StringType, 42L)` of the string whose UTF-8
    * bytes are `bytes[off, off+len)` — the column twins' `xxhash64(token)`,
    * hashed in place from a [[Tokens]] span or gram. */
  private[plans] def xxhash64(bytes: Array[Byte], off: Int, len: Int): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, 42L)

  /** Position-ordered k-gram hashes (`array<long>`, one entry per token
    * window): the occurrence stream for exact-substring dedup
    * ([[graft.operators.ExactSubstr]]). Default `bits = 48` is the md5
    * first-6-bytes hash the classifier's buckets use — DuckDB recomputes it
    * exactly from `('0x' || substr(md5(gram), 1, 12))::BIGINT`, so unlike
    * the xxhash64 dedup family this stream has a full SQL twin. `bits = 64`
    * takes the first 8 md5 bytes (same digest, no extra cost) — no integer
    * SQL twin (BIGINT is signed and the 16-hex-digit head overflows it),
    * but 2^16× fewer birthday collisions: the production setting when the
    * corpus outgrows the 48-bit space (see ExactSubstr's scaladoc for the
    * false-positive arithmetic). One pass, no gram string ever leaves the
    * expression.
    */
  def kgramHashes(text: Column, k: Int, bits: Int = 48): Column =
    ColumnShim.column(KgramHashes(ColumnShim.expression(text), k, bits))

  /** struct<n_grams, sum_wmilli> — the hashed-ngram linear classifier's
    * per-document partial (fastText / DSIR shape): unigrams (+ optional
    * bigrams) hashed into `weightsMilli.length` buckets, weight lookup and
    * sum in integer milli-units (exact, order-free — the money-sum
    * discipline applied to model weights). One tokens pass per row; no gram
    * ever materializes into a row. Bucket = first 48 bits of md5(gram) mod
    * D, which DuckDB recomputes exactly as
    * `('0x' || substr(md5(g), 1, 12))::BIGINT % D` — the engine-portable
    * hash the xxhash64 family can't offer.
    */
  def hashedNgramLogit(text: Column, weightsMilli: Array[Long],
                       includeBigrams: Boolean = true): Column =
    ColumnShim.column(HashedNgramLogit(
      ColumnShim.expression(text), weightsMilli.toIndexedSeq, includeBigrams))

  /** struct<n_bigrams bigint, ppl double> — whole-document bigram-LM
    * perplexity in ONE scan pass ([[BigramPpl]]): the model (a
    * [[BigramLmLocal]] snapshot with every log-prob pre-rounded to decimal
    * micros) rides the expression into each task the same way
    * [[hashedNgramLogit]]'s weight table does, so scoring is two hash
    * probes per bigram occurrence — no pair rows, no joins, no
    * re-aggregate. Bit-identical to the join formulation
    * ([[graft.operators.Perplexity.scoreJoined]], pinned in
    * PerplexitySpec) and therefore to the DuckDB oracle.
    */
  def bigramPpl(text: Column, model: BigramLmLocal): Column =
    ColumnShim.column(BigramPpl(ColumnShim.expression(text), model))

  /** struct<ntok int, nonspace int> — token count and non-whitespace
    * character count in ONE codegen'd byte-level pass (see [[TokStats]]).
    * Backs `TextFunctions.tokenCount`/`avgTokenLen`, which every
    * length-gate, token-budget and corpus-card query calls per document:
    * the column form paid two regex passes and a token-array allocation
    * per call just to read off two integers.
    */
  def tokStats(text: Column): Column =
    ColumnShim.column(TokStats(ColumnShim.expression(text)))

  /** struct<text, n_kept, n_dropped> — per-line boilerplate filtering
    * (split by `sep`, drop lines failing [[FilterLines.LineRules]], rejoin
    * survivors in order) in ONE codegen'd byte-level pass. The higher-order
    * `filter(split(text), λ)` twin evaluates its lambda INTERPRETED per
    * line — boxing + expression-tree dispatch per element made q_line_filter
    * 2.1× slower than its r12 exploded form at sf0.1 even though the plan
    * shape (zero-shuffle scan projection) was right. Parity with the
    * column-algebra predicate ([[graft.operators.Lines.rulesPredicate]]) is
    * pinned in LinesSpec.
    */
  def filterLines(text: Column, sep: String, rules: FilterLines.LineRules): Column =
    ColumnShim.column(FilterLines(ColumnShim.expression(text), sep, rules))
}

case class MinHashState(child: Expression, k: Int, w: Int, bands: Int, seed: Long)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  // analysis-time type error for non-string inputs (these are SQL-registered)
  override def inputTypes = ColumnShim.stringInput

  require(bands > 0 && k % bands == 0,
    s"signature length k=$k must be a positive multiple of bands=$bands")

  private val P = graft.functions.HashFunctions.P
  private val (aConst, bConst) = graft.functions.HashFunctions.familyConstants(k, seed)
  private val rowsPerBand = k / bands

  override def dataType: DataType = StructType(Seq(
    StructField("shingle_hashes", ArrayType(LongType, containsNull = false)),
    StructField("signature", ArrayType(LongType, containsNull = false)),
    StructField("band_hashes", ArrayType(LongType, containsNull = false))))

  override def nullSafeEval(input: Any): Any = {
    val t      = Tokens.tokenize(input.asInstanceOf[UTF8String])
    val nTok   = t.nSplit // an empty text hashes one "" shingle
    val nSh    = math.max(1, nTok - w + 1)
    // distinct shingle hashes
    val seen   = new java.util.HashSet[Long](nSh * 2)
    val hashes = new scala.collection.mutable.ArrayBuffer[Long](nSh)
    var i = 0
    while (i < nSh) {
      val len = t.gram(i, math.min(i + w, nTok) - i)
      val h = TextExpressions.xxhash64(t.gramBytes, 0, len)
      if (seen.add(h)) hashes += h
      i += 1
    }
    // signature: k mins over the universal family
    val sig = Array.fill(k)(Long.MaxValue)
    var s = 0
    while (s < hashes.length) {
      val hm = java.lang.Math.floorMod(hashes(s), P)
      var p = 0
      while (p < k) {
        val v = java.lang.Math.floorMod(hm * aConst(p) + bConst(p), P)
        if (v < sig(p)) sig(p) = v
        p += 1
      }
      s += 1
    }
    // band hashes: EXACTLY HashFunctions.bandHashes' scheme —
    // xxhash64(slice, j) = seed 42, chain the slice's elements (Spark hashes
    // array values element-by-element), then the band index as an int. Keeping
    // the two paths bit-identical means signatures indexed with one path can
    // be probed with the other.
    val bandArr = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var r = b * rowsPerBand
      val end = r + rowsPerBand
      while (r < end) { h = XxHash64Function.hash(sig(r), LongType, h); r += 1 }
      bandArr(b) = XxHash64Function.hash(b, IntegerType, h)
      b += 1
    }
    InternalRow(
      new GenericArrayData(hashes.toArray),
      new GenericArrayData(sig),
      new GenericArrayData(bandArr))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashState =
    copy(child = newChild)
}

case class ShingleSet(child: Expression, w: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val t      = Tokens.tokenize(input.asInstanceOf[UTF8String])
    val nTok   = t.nSplit // an empty text has one "" shingle
    val nSh    = math.max(1, nTok - w + 1)
    val seen   = new java.util.LinkedHashSet[UTF8String](nSh * 2)
    var i = 0
    while (i < nSh) {
      val len = t.gram(i, math.min(i + w, nTok) - i)
      seen.add(UTF8String.fromBytes(java.util.Arrays.copyOf(t.gramBytes, len)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it  = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** Language ID by marker-token counting in ONE tokens pass.
  *
  * `markers` is the sorted (langCode, markerTokens) list; a token may mark
  * several languages (handled via a per-token bitmask). Argmax over counts;
  * ties go to the FIRST language in the list (sorted-code order) — the same
  * contract as TextFunctions.langIdColumns and the DuckDB oracle's CASE
  * cascade. Zero hits → "und".
  */
case class LangId(child: Expression, markers: Seq[(String, Seq[String])])
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  require(markers.nonEmpty && markers.size <= 64,
    s"LangId supports 1..64 languages, got ${markers.size}")

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = StringType

  @transient private lazy val langNames: Array[UTF8String] =
    markers.map(m => UTF8String.fromString(m._1)).toArray

  // marker token -> bitmask of language indexes it scores for
  @transient private lazy val markerMask: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    markers.zipWithIndex.foreach { case ((_, toks), i) =>
      toks.foreach { t =>
        val prev = m.get(t)
        m.put(t, java.lang.Long.valueOf((if (prev == null) 0L else prev.longValue) | (1L << i)))
      }
    }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val tokens = Tokens.tokenize(input.asInstanceOf[UTF8String]).strings
    val counts = new Array[Int](langNames.length)
    var t = 0
    while (t < tokens.length) {
      val mask = markerMask.get(tokens(t))
      if (mask != null) {
        val mv = mask.longValue
        var i = 0
        while (i < counts.length) {
          if (((mv >>> i) & 1L) == 1L) counts(i) += 1
          i += 1
        }
      }
      t += 1
    }
    var best = -1
    var bestC = 0
    var i = 0
    while (i < counts.length) {
      if (counts(i) > bestC) { bestC = counts(i); best = i } // strict > : first lang wins ties
      i += 1
    }
    if (best < 0) LangId.und else langNames(best)
  }

  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

object LangId {
  private val und = UTF8String.fromString("und")
}

/** Two-lane polynomial rolling hash over the token xxhash64 stream, packed
  * into one long: `lane(31,17) * P + lane(131,29)` with Horner steps mod the
  * Mersenne prime P = 2^31-1 (all intermediates < 2^62 — ANSI-safe). Bit-
  * identical to TextFunctions.fingerprintColumns.
  */
case class Fingerprint(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = LongType

  private val P = graft.functions.HashFunctions.P

  override def nullSafeEval(input: Any): Any = {
    val t = Tokens.tokenize(input.asInstanceOf[UTF8String])
    var l1 = 17L
    var l2 = 29L
    var i = 0
    while (i < t.nSplit) { // an empty text hashes one ""
      val h = java.lang.Math.floorMod(TextExpressions.xxhash64(t.bytes, t.starts(i), t.len(i)), P)
      l1 = java.lang.Math.floorMod(l1 * 31L + h, P)
      l2 = java.lang.Math.floorMod(l2 * 131L + h, P)
      i += 1
    }
    l1 * P + l2
  }

  override protected def withNewChildInternal(newChild: Expression): Fingerprint =
    copy(child = newChild)
}

/** Byte-level stopword scan shared by [[StopwordRatio]] and [[QualityScore]]:
  * (token count, stopword hits) in ONE pass over the raw UTF-8 bytes — no
  * String decode, no per-token allocation, no HashSet (the old interpreted
  * form allocated one java.lang.String PER TOKEN and sat under
  * CodegenFallback, which also knocked the whole projection out of
  * whole-stage codegen — measured as 80% of q_corpus_card's base cost at
  * sf10). Tokens are the [[Tokens]] byte runs (Java-regex `\s` is the 6
  * ASCII chars; UTF-8 continuation bytes are ≥ 0x80 and can't match),
  * and a hit is exact byte equality with a stopword's UTF-8 encoding —
  * byte equality ≡ String equality on the decoded token, so parity with
  * the HashSet twin is structural. The empty/all-whitespace input keeps
  * the split-of-empty `[""]` artifact: 1 token, a hit iff "" is declared
  * a stopword.
  */
object StopScan {
  private def isStop(input: UTF8String, start: Int, len: Int, stops: Array[Array[Byte]]): Boolean = {
    var s = 0
    while (s < stops.length) {
      val w = stops(s)
      if (w.length == len) {
        var j = 0
        while (j < len && input.getByte(start + j) == w(j)) j += 1
        if (j == len) return true
      }
      s += 1
    }
    false
  }

  /** Packed (ntok << 32) | hits. */
  def scan(input: UTF8String, stops: Array[Array[Byte]]): Long = {
    val n = input.numBytes
    var ntok = 0
    var hits = 0
    var start = -1
    var i = 0
    while (i < n) {
      val b = input.getByte(i)
      if (Tokens.isWs(b)) {
        if (start >= 0) {
          if (isStop(input, start, i - start, stops)) hits += 1
          ntok += 1
          start = -1
        }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) {
      if (isStop(input, start, n - start, stops)) hits += 1
      ntok += 1
    }
    if (ntok == 0) {
      ntok = 1 // the [""] artifact of splitting an empty string
      if (isStop(input, 0, 0, stops)) hits += 1
    }
    (ntok.toLong << 32) | hits.toLong
  }

  def ratio(input: UTF8String, stops: Array[Array[Byte]]): Double = {
    val packed = scan(input, stops)
    (packed & 0xffffffffL).toDouble / (packed >>> 32).toDouble
  }

  def quality(input: UTF8String, stops: Array[Array[Byte]]): Double = {
    val packed = scan(input, stops)
    val nTok  = (packed >>> 32).toDouble
    val stopR = (packed & 0xffffffffL).toDouble / nTok
    math.min(stopR * 5.0, 1.0) * 0.5 + math.min(nTok / 100.0, 1.0) * 0.5
  }

  private[plans] def stopBytes(stopwords: Seq[String]): Array[Array[Byte]] =
    stopwords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
}

/** Stopword-hit ratio in one byte-level pass ([[StopScan]]): hits/total as
  * an unrounded double (the column twin is
  * `size(filter(toks, isin(stopwords)))/size(toks)`; that pays an
  * interpreted-HOF traversal per row). Callers round outside, keeping the
  * rounding semantics identical between paths.
  */
case class StopwordRatio(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = DoubleType

  @transient private lazy val stops: Array[Array[Byte]] = StopScan.stopBytes(stopwords)

  override def nullSafeEval(input: Any): Any =
    StopScan.ratio(input.asInstanceOf[UTF8String], stops)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("stops", stops, "byte[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.StopScan$$.MODULE$$.ratio($a, $sRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordRatio =
    copy(child = newChild)
}

/** Composite quality score, unrounded: `min(stopRatio*5,1)*0.5 +
  * min(tokens/100,1)*0.5` in ONE byte-level pass ([[StopScan]]) — same
  * operation order as the column twin (`least(stopR*5.0, 1.0)*0.5 +
  * least(nTok/100.0, 1.0)*0.5`), so the IEEE doubles are bit-identical and
  * the rounded outputs hash-match the oracle.
  */
case class QualityScore(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = DoubleType

  @transient private lazy val stops: Array[Array[Byte]] = StopScan.stopBytes(stopwords)

  override def nullSafeEval(input: Any): Any =
    StopScan.quality(input.asInstanceOf[UTF8String], stops)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("stops", stops, "byte[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.StopScan$$.MODULE$$.quality($a, $sRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** Repetition (excess-duplication) signals — the Gopher/MassiveText-style
  * quality rules for filtering boilerplate and degenerate generations:
  * duplicate-word fraction, duplicate-bigram fraction, and the fraction of
  * the document taken by its single most frequent word. One pass over the
  * tokens; bigrams joined with a single space. Division order matches the
  * DuckDB oracle exactly: `(count - distinct).toDouble / count`. A document
  * always has ≥1 token (splitting "" yields [""]), so the word divisions are
  * safe; zero bigrams (single-token doc) → 0.0 by definition.
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("dup_word_frac", DoubleType, nullable = false),
    StructField("dup_bigram_frac", DoubleType, nullable = false),
    StructField("top_word_frac", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any = {
    val tokens = Tokens.tokenize(input.asInstanceOf[UTF8String]).strings
    val n = tokens.length
    val counts = new java.util.HashMap[String, Integer](n * 2)
    var maxC = 0
    var i = 0
    while (i < n) {
      val c = counts.merge(tokens(i), 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      i += 1
    }
    val nb = n - 1
    var dupB = 0.0
    if (nb > 0) {
      val bigrams = new java.util.HashSet[String](nb * 2)
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < nb) {
        sb.setLength(0)
        sb.append(tokens(j)).append(' ').append(tokens(j + 1))
        bigrams.add(sb.toString)
        j += 1
      }
      dupB = (nb - bigrams.size).toDouble / nb
    }
    InternalRow(n,
      (n - counts.size).toDouble / n,
      dupB,
      maxC.toDouble / n)
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

/** Gopher (MassiveText) document-quality rule signals — the published filter
  * set a pretraining pipeline applies before expensive scoring: word count,
  * mean word length, #/ellipsis symbol ratio, fraction of words with an
  * alphabetic character, distinct stop words present, and the line-shape
  * rules (bullet-start / ellipsis-end fractions). One pass over the tokens
  * plus one over the lines; every division matches the DuckDB oracle
  * (`count.toDouble / total`, total ≥ 1 by construction — splitting ""
  * yields [""] for tokens and [""] for lines). Counting parity traps pinned
  * here: "..." counts non-overlapping left-to-right (what
  * `regexp_extract_all` does), lines split keeps trailing empties (DuckDB
  * `string_split` semantics — Java needs `split(s, -1)`), and character
  * counts are codepoints, not UTF-16 units.
  */
case class GopherStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_ratio", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("n_stop_distinct", IntegerType, nullable = false),
    StructField("bullet_line_frac", DoubleType, nullable = false),
    StructField("ellipsis_line_frac", DoubleType, nullable = false)))

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopwords.size * 2)
    stopwords.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    val tokens = Tokens.tokenize(input.asInstanceOf[UTF8String]).strings
    val n = tokens.length
    var chars = 0
    var alpha = 0
    val stopsSeen = new java.util.HashSet[String](stopwords.size * 2)
    var i = 0
    while (i < n) {
      val t = tokens(i)
      chars += t.codePointCount(0, t.length)
      var hasAlpha = false
      var j = 0
      while (!hasAlpha && j < t.length) {
        val c = t.charAt(j)
        if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasAlpha = true
        j += 1
      }
      if (hasAlpha) alpha += 1
      if (stopSet.contains(t)) stopsSeen.add(t)
      i += 1
    }
    // symbols: '#' codepoints + non-overlapping "..." runs + '…' codepoints
    var symbols = 0
    var k = 0
    while (k < str.length) {
      val c = str.charAt(k)
      if (c == '#' || c == '…') { symbols += 1; k += 1 }
      else if (c == '.' && k + 2 < str.length &&
               str.charAt(k + 1) == '.' && str.charAt(k + 2) == '.') {
        symbols += 1; k += 3
      } else k += 1
    }
    // line-shape rules over '\n' splits, trailing empties KEPT
    val lines = str.split("\n", -1)
    var bullets = 0
    var ellipses = 0
    var l = 0
    while (l < lines.length) {
      val ln = lines(l)
      if (ln.startsWith("- ") || ln.startsWith("* ") || ln.startsWith("•")) bullets += 1
      if (ln.endsWith("...") || ln.endsWith("…")) ellipses += 1
      l += 1
    }
    val nD = n.toDouble
    InternalRow(n,
      chars.toDouble / nD,
      symbols.toDouble / nD,
      alpha.toDouble / nD,
      stopsSeen.size,
      bullets.toDouble / lines.length,
      ellipses.toDouble / lines.length)
  }

  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val t      = Tokens.tokenize(input.asInstanceOf[UTF8String])
    val votes  = new Array[Int](64)
    var i = 0
    while (i < t.nSplit) { // an empty text hashes one ""
      val h = TextExpressions.xxhash64(t.bytes, t.starts(i), t.len(i))
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
        bit += 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) >= 0) out |= (1L << bit); bit += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Unicode normalization via `java.text.Normalizer` (the JDK's UAX#15
  * implementation — the same algorithm DuckDB's `nfc_normalize` and ICU
  * implement, so oracle SQL can recompute NFC output). Already-normalized
  * strings (the overwhelming majority of real corpus text) take a
  * check-only fast path with no reallocation.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
    s"UnicodeNormalize: form must be NFC|NFD|NFKC|NFKD, got '$form'")

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = StringType

  @transient private lazy val f = java.text.Normalizer.Form.valueOf(form)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, f)) input
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Whitespace canonicalization in one pass: collapse `\s+` runs to single
  * spaces and strip the edges — the native twin of
  * `trim(regexp_replace(text, "\s+", " "))`: the [[Tokens]] joined by
  * single spaces.
  *
  * Deliberately does NOT fold lowercasing in: Spark 4's `lower` routes
  * through ICU case mapping when `spark.sql.icu.caseMappings.enabled` is on
  * (the default), while any JVM-side `toLowerCase` here would use the JDK's
  * tables (and `String.toLowerCase` the default LOCALE — the Turkish-I
  * trap). The normalization chain therefore keeps Spark's own `Lower`
  * between NFC and this collapse, so case semantics are bit-identical to
  * the column twin BY SHARING THE OPERATOR, not by reimplementing it.
  */
case class CollapseWhitespace(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(Tokens.tokenize(input.asInstanceOf[UTF8String]).strings.mkString(" "))

  override protected def withNewChildInternal(newChild: Expression): CollapseWhitespace =
    copy(child = newChild)
}

/** Compression-ratio quality signal: `deflate(utf8(text)).length /
  * utf8(text).length` (zlib level 6) — the classic degenerate-text detector
  * (boilerplate, keyboard mashing and template spam compress far below
  * natural prose; the Gopher/RefinedWeb pipelines gate on exactly this).
  * One streaming pass per row over a reused per-thread Deflater; empty text
  * → 1.0 (nothing to compress, nothing saved).
  *
  * Only meaningful ABOVE a minimum length: the ~17-byte zlib envelope pushes
  * tiny fragments over 1.0 and empty text scores the sentinel 1.0, so a
  * low-ratio gate on its own KEEPS the shortest degenerate rows — always
  * pair it with a token-count floor (the quality-gate composition in
  * Curation does).
  *
  * No SQL oracle exists (DuckDB exposes no deflate), so this is
  * ScalaTest-verified: the signal's CONTRACT is ordering (repetitive ≪
  * prose ≪ random), determinism, and null propagation — not a particular
  * byte count, which may shift across zlib builds.
  */
case class CompressionRatio(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.isEmpty) 1.0
    else {
      val d = CompressionRatio.deflater.get()
      d.reset()
      d.setInput(bytes)
      d.finish()
      var compressed = 0L
      val buf = CompressionRatio.buffer.get()
      while (!d.finished()) compressed += d.deflate(buf)
      // release the input-array reference NOW — the thread-local Deflater
      // outlives the stage, and without this it pins the last row's bytes
      // per executor thread until some future row resets it
      d.reset()
      compressed.toDouble / bytes.length
    }
  }

  override protected def withNewChildInternal(newChild: Expression): CompressionRatio =
    copy(child = newChild)
}

object BpeishCount {
  /** One scorer for the interpreted and generated paths. Mirrors the regex
    * `[a-z]+|[A-Z][a-z]*|[0-9]|[^a-zA-Z0-9\s]` exactly: leftmost-first
    * alternation order, Java's ASCII `\s` ([[Tokens.isWs]]) as the skip
    * class, code-point stepping in the symbol branch (surrogate pair = ONE
    * match). ASCII-range checks are charAt-safe — surrogates never fall in
    * those ranges.
    */
  def count(input: UTF8String): Int = {
    val str = input.toString
    val len = str.length
    var i = 0
    var n = 0
    while (i < len) {
      val c = str.charAt(i)
      if (c >= 'a' && c <= 'z') {
        n += 1; i += 1
        while (i < len && { val d = str.charAt(i); d >= 'a' && d <= 'z' }) i += 1
      } else if (c >= 'A' && c <= 'Z') {
        n += 1; i += 1
        while (i < len && { val d = str.charAt(i); d >= 'a' && d <= 'z' }) i += 1
      } else if (c >= '0' && c <= '9') {
        n += 1; i += 1
      } else if (Tokens.isWs(c)) {
        i += 1
      } else {
        n += 1; i += Character.charCount(str.codePointAt(i))
      }
    }
    n
  }
}

/** Native twin of `regexp_count(text, bpeishPattern)` — see
  * [[TextExpressions.bpeishCount]] for why the fixed pattern deserves a
  * state machine instead of a backtracking regex. Parity is pinned in
  * TextFunctionsSpec against the regex formulation on the alternation
  * edges (CamelCase, digit runs, NBSP, surrogate pairs).
  */
case class BpeishCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    Integer.valueOf(BpeishCount.count(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.BpeishCount$$.MODULE$$.count($a);")

  override protected def withNewChildInternal(newChild: Expression): BpeishCount =
    copy(child = newChild)
}

object TermCounts {
  /** One scorer for the interpreted and generated paths. */
  def compute(input: UTF8String): InternalRow = {
    val toks = Tokens.tokenize(input).strings
    val counts = new java.util.LinkedHashMap[String, Int](toks.length * 2)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) counts.put(t, counts.getOrDefault(t, 0) + 1)
      i += 1
    }
    val entries = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      entries(j) = InternalRow(UTF8String.fromString(e.getKey), e.getValue)
      j += 1
    }
    InternalRow(toks.length, new GenericArrayData(entries))
  }
}

/** See [[TextExpressions.termCounts]]. */
case class TermCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = StructType(Seq(
    StructField("ntok", IntegerType, nullable = false),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("n", IntegerType, nullable = false))), containsNull = false),
      nullable = false)))

  override def nullSafeEval(input: Any): Any =
    TermCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.TermCounts$$.MODULE$$.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object BigramCounts {
  /** One scorer for the interpreted and generated paths. LinkedHashMap →
    * first-appearance entry order (deterministic; consumers aggregate, so
    * order is cosmetic). The map key is "w1 w2": tokens are [[Tokens]]
    * runs, so no token can contain a space — the single-space
    * join is collision-free and the indexOf-split below recovers the
    * pair exactly.
    */
  def compute(input: UTF8String): InternalRow = {
    val toks = Tokens.tokenize(input).strings
    val nbg = math.max(toks.length - 1, 0)
    val counts = new java.util.LinkedHashMap[String, Int](nbg * 2)
    var i = 0
    while (i < toks.length - 1) {
      val k = toks(i) + " " + toks(i + 1)
      counts.put(k, counts.getOrDefault(k, 0) + 1)
      i += 1
    }
    val entries = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      val sep = e.getKey.indexOf(' ')
      entries(j) = InternalRow(
        UTF8String.fromString(e.getKey.substring(0, sep)),
        UTF8String.fromString(e.getKey.substring(sep + 1)),
        e.getValue)
      j += 1
    }
    InternalRow(nbg, new GenericArrayData(entries))
  }
}

/** See [[TextExpressions.bigramCounts]]. */
case class BigramCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = StructType(Seq(
    StructField("nbg", IntegerType, nullable = false),
    StructField("entries", ArrayType(StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false),
      StructField("n", IntegerType, nullable = false))), containsNull = false),
      nullable = false)))

  override def nullSafeEval(input: Any): Any =
    BigramCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.BigramCounts$$.MODULE$$.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): BigramCounts =
    copy(child = newChild)
}

object WinnowFps {
  // MessageDigest.getInstance allocates provider machinery per call; one
  // reusable instance per executor thread (reset() per gram). Pure-JVM
  // state — no native retention concern.
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic compare — the digest-space image of comparing
    * the digests' lowercase-hex strings (hex encoding is monotone per
    * byte), so winners match `min(md5_hex)` under Spark's binary string
    * ordering. */
  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** One scorer for the interpreted and generated paths. Tokens come from
    * [[Tokens]]; grams are md5 over the space-joined token bytes
    * (byte-identical to `md5(concat_ws(" ", tokens))`); windows are
    * the ng-w+1 FULL frames only (short docs emit an empty array, which
    * `explode` then drops — the columnar `p <= ng-w+1` filter).
    */
  def compute(input: UTF8String, k: Int, w: Int): ArrayData = {
    val t = Tokens.tokenize(input)
    val ng = t.nSplit - k + 1 // k = 1 digests an empty text's ""
    val nw = ng - w + 1
    if (nw <= 0) return new GenericArrayData(Array.empty[Any])
    val md = md5.get()
    val digests = new Array[Array[Byte]](ng)
    var i = 0
    while (i < ng) {
      val len = t.gram(i, k)
      md.reset()
      md.update(t.gramBytes, 0, len)
      digests(i) = md.digest()
      i += 1
    }
    // sliding minimum via monotonic index deque: amortized O(1) per gram.
    // Equal digests evict (non-strict eviction), so ties keep the LATER
    // index — irrelevant to output (equal digests hex identically) but
    // stated so nobody builds on the opposite invariant. The head usually
    // survives many consecutive windows, so hex-encode only when it
    // CHANGES (lastIdx memo) — the LinkedHashSet dedupes by value anyway;
    // this just skips the per-window allocation.
    val seen = new java.util.LinkedHashSet[UTF8String]
    val deque = new java.util.ArrayDeque[Int](w + 1)
    var lastIdx = -1
    var p = 0
    while (p < ng) {
      while (!deque.isEmpty && !less(digests(deque.peekLast()), digests(p)))
        deque.pollLast()
      deque.addLast(p)
      val winStart = p - w + 1
      if (winStart >= 0) {
        while (deque.peekFirst() < winStart) deque.pollFirst()
        val head = deque.peekFirst()
        if (head != lastIdx) {
          seen.add(hex(digests(head))): Unit
          lastIdx = head
        }
      }
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = it.next(); n += 1 }
    new GenericArrayData(out)
  }
}

/** See [[TextExpressions.winnowFps]]. Reference algorithm:
  * Schleimer, Wilkerson, Aiken — "Winnowing: Local Algorithms for Document
  * Fingerprinting" (SIGMOD 2003); parity with the columnar pipeline is
  * pinned in WinnowSpec.
  */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  require(k > 0 && w > 0, s"WinnowFps: k=$k and w=$w must be positive")

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.WinnowFps$$.MODULE$$.compute($a, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object CompressionRatio {
  // Deflater allocates native zlib state — reuse per thread instead of
  // constructing/ending one per row. The per-thread Deflater is never
  // end()ed, so each executor thread that ever ran this expression retains
  // its native zlib state (+ the 8 KB buffer) for the JVM's lifetime.
  // Bounded by the fixed executor thread pool — acceptable retention, not
  // a per-row leak; revisit with a Cleaner if executor threads ever churn.
  private val deflater = ThreadLocal.withInitial[java.util.zip.Deflater](() =>
    new java.util.zip.Deflater(6))
  private val buffer = ThreadLocal.withInitial[Array[Byte]](() => new Array[Byte](8192))
}

object HashedNgramLogit {
  /** Feature bucket: first 6 digest bytes big-endian (= the first 12
    * lowercase-hex chars parsed base 16 — 48 bits, always positive) mod d.
    * Shared by the scorer, the columnar twin, the local trainer, and —
    * by construction — the DuckDB oracle.
    */
  def bucket(gram: String, d: Int): Int =
    (FastMd5.hash48(gram) % d).toInt

  /** The gram bucket stream of one text — unigrams, then (optionally)
    * bigrams — the ONE feature extractor of the scorer ([[compute]]) and
    * the local trainer. Grams hash in place from the [[Tokens]] spans
    * ([[FastMd5]]: no String or digest allocation per gram — the sf10
    * classifier profile was dominated by MessageDigest machinery; hashes
    * bit-identical to [[bucket]], Md5ParitySpec). An empty or
    * all-whitespace text has no grams, matching the oracle's empty-token
    * filter.
    */
  def buckets(input: UTF8String, d: Int, includeBigrams: Boolean): Array[Int] = {
    val t = Tokens.tokenize(input)
    val nbg = if (includeBigrams) math.max(t.n - 1, 0) else 0
    val out = new Array[Int](t.n + nbg)
    var i = 0
    while (i < t.n) { out(i) = (FastMd5.hash48(t.bytes, t.starts(i), t.len(i)) % d).toInt; i += 1 }
    var j = 0
    while (j < nbg) { out(t.n + j) = (FastMd5.hashGram(t, j, 2, 48) % d).toInt; j += 1 }
    out
  }

  /** One scorer for interpreted eval: each gram occurrence contributes its
    * bucket's milli-weight. */
  def compute(input: UTF8String, weights: Array[Long], includeBigrams: Boolean): InternalRow = {
    val b = buckets(input, weights.length, includeBigrams)
    var sum = 0L
    var i = 0
    while (i < b.length) { sum += weights(b(i)); i += 1 }
    InternalRow(b.length, sum)
  }
}

/** See [[TextExpressions.hashedNgramLogit]]. */
case class HashedNgramLogit(child: Expression, weightsMilli: Seq[Long], includeBigrams: Boolean)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  require(weightsMilli.nonEmpty, "HashedNgramLogit: empty weight table")

  override def inputTypes = ColumnShim.stringInput

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", IntegerType, nullable = false),
    StructField("sum_wmilli", LongType, nullable = false)))

  @transient private lazy val wArr: Array[Long] = weightsMilli.toArray

  override def nullSafeEval(input: Any): Any =
    HashedNgramLogit.compute(input.asInstanceOf[UTF8String], wArr, includeBigrams)

  override protected def withNewChildInternal(newChild: Expression): HashedNgramLogit =
    copy(child = newChild)
}

object KgramHashes {
  /** One scorer for the interpreted path and the trainer-free oracle: the
    * 48-bit big-endian head of md5 over the space-joined k-gram (identical
    * to [[HashedNgramLogit.bucket]]'s value before the mod). Degenerate
    * whitespace-only tokenization and docs shorter than k emit an empty
    * array (the columnar/oracle `range` twin produces no rows there).
    */
  def compute(input: UTF8String, k: Int, bits: Int): ArrayData = {
    // byte-level token spans + in-place FastMd5 grams: no String, no
    // StringBuilder, no MessageDigest — bit-identical hashes (Md5ParitySpec)
    val t = Tokens.tokenize(input)
    val n = t.n - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = java.lang.Long.valueOf(FastMd5.hashGram(t, i, k, bits))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** See [[TextExpressions.kgramHashes]]. */
case class KgramHashes(child: Expression, k: Int, bits: Int = 48)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes with GraftKernel {

  require(k > 0, s"KgramHashes: k=$k must be positive")
  require(bits == 48 || bits == 64, s"KgramHashes: bits=$bits must be 48 or 64")

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    KgramHashes.compute(input.asInstanceOf[UTF8String], k, bits)

  override protected def withNewChildInternal(newChild: Expression): KgramHashes =
    copy(child = newChild)
}

/** A driver-local bigram LM snapshot — the vocabulary-bounded model of
  * [[graft.operators.Perplexity]] collected into plain JVM maps so scoring
  * can ride INSIDE a scan expression ([[BigramPpl]]) instead of exploding
  * pair rows through two broadcast joins and a re-aggregate. Same
  * size-bounded-collect contract as the k-means/codebook sidecars: the
  * model is vocabulary-bounded (bigram TYPES, not corpus size), empirically
  * MBs for a CCNet-style SLM; a model too large to ship in a plan should
  * use the join formulation ([[graft.operators.Perplexity.scoreJoined]]).
  *
  * All per-bigram log-prob micro-values are PRECOMPUTED here (seen pairs,
  * unseen-pair-per-context, no-context constant), so the per-occurrence
  * scoring loop is two hash probes — the `BigDecimal` HALF_UP rounding that
  * makes scores engine-exact never runs per row.
  */
case class BigramLmLocal(bigrams: Map[String, Long], contexts: Map[String, Long],
                         vocab: Set[String], alpha: Double) {
  def v: Double = vocab.size + 1.0

  /** round6(ln((n + α) / (cn + α·V))) in decimal micros — EXACTLY the
    * column path's `log(...).cast("decimal(18,6)")`: same double ops in
    * the same order (`Math.log`, numerator/denominator adds, one divide),
    * then Spark's `Cast` double→decimal rounding (shortest-repr string →
    * BigDecimal → HALF_UP at scale 6).
    */
  private def micros(n: Long, cn: Long): Long = {
    val logp = java.lang.Math.log((n + alpha) / (cn + alpha * v))
    new java.math.BigDecimal(java.lang.Double.toString(logp))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()
  }

  @transient lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.size * 2)
    vocab.foreach(s.add); s
  }
  /** w1 → (w2 → seen-pair micros, unseen-continuation micros), the
    * CONTEXT-NESTED layout of the former flat `"w1 w2" → micros` map: the
    * scoring loop probes the inner map per occurrence and re-resolves the
    * context entry only on token transition — no per-bigram "w1 w2" string
    * concatenation (r21: the one remaining per-occurrence allocation in
    * the hot loop). Values are the identical precomputed micros: seen pairs
    * with their context counts (cn = 0 for a pair whose w1 never appears as
    * a context — the flat map's `getOrElse` semantics), unseen
    * continuations of a trained context at micros(0, cn), and a context
    * absent here scores [[noCtxMicros]], exactly as the flat map's miss
    * path did.
    */
  @transient lazy val ctxMicros: java.util.HashMap[String, BigramLmLocal.Ctx] = {
    val m = new java.util.HashMap[String, BigramLmLocal.Ctx](contexts.size * 2)
    contexts.foreach { case (w1, cn) =>
      m.put(w1, new BigramLmLocal.Ctx(
        new java.util.HashMap[String, java.lang.Long](4), micros(0L, cn), cn))
    }
    bigrams.foreach { case (k, n) =>
      val w1 = k.substring(0, k.indexOf(' '))
      val w2 = k.substring(k.indexOf(' ') + 1)
      var c = m.get(w1)
      if (c == null) { // defensive: pair whose w1 the contexts map lacks
        c = new BigramLmLocal.Ctx(
          new java.util.HashMap[String, java.lang.Long](4), micros(0L, 0L), 0L)
        m.put(w1, c)
      }
      // cn is FIXED per w1 and already sits on the Ctx — no per-bigram
      // contexts lookup during build (r21 ADVICE); identical values
      // (Ctx.cn is the same contexts.getOrElse(w1, 0L), set above)
      c.inner.put(w2, micros(n, c.cn))
    }
    m
  }
  /** micros when w1 itself was never a context (cn = 0). */
  @transient lazy val noCtxMicros: Long = micros(0L, 0L)
}

object BigramLmLocal {
  /** One trained context's scoring state — see [[BigramLmLocal.ctxMicros]].
    * `cn` is the context's training count, carried so the build loop reads
    * it off the Ctx instead of re-probing the contexts map per bigram. */
  final class Ctx(val inner: java.util.HashMap[String, java.lang.Long],
                  val unseen: Long, val cn: Long)
}

object BigramPpl {
  val Unk = "<unk>"

  /** One scorer for the interpreted path and [[graft.operators.Perplexity]]'s
    * local parity checks: per-OCCURRENCE micro log-prob accumulation (long
    * adds — exact and order-free, and identical to the join path's
    * Σ round6(logp)·k over distinct pairs), then the column path's exact
    * finishing arithmetic: decimal(·,6)→double via correctly-rounded
    * BigDecimal conversion, `exp(−s/n)`, `round(…, 4)` as Spark's Round
    * (shortest-repr string → HALF_UP at scale 4).
    */
  def compute(input: UTF8String, m: BigramLmLocal): InternalRow = {
    val toks = Tokens.tokenize(input).strings
    val n = toks.length - 1
    if (n <= 0) return InternalRow(0L, null)
    def mapped(t: String): String = if (m.vocabSet.contains(t)) t else Unk
    var sum = 0L
    var ctx = m.ctxMicros.get(mapped(toks(0)))
    var i = 0
    while (i < n) {
      val w2 = mapped(toks(i + 1))
      // context-nested probes instead of a per-occurrence "w1 w2" concat:
      // seen pair → its micros; trained context, unseen pair → ctx.unseen;
      // untrained context → noCtxMicros (identical values to the flat map)
      sum += (if (ctx == null) m.noCtxMicros
              else {
                val seen = ctx.inner.get(w2)
                if (seen != null) seen.longValue() else ctx.unseen
              })
      ctx = m.ctxMicros.get(w2)
      i += 1
    }
    val s = new java.math.BigDecimal(java.math.BigInteger.valueOf(sum), 6).doubleValue()
    val ppl = java.lang.Math.exp(-s / n)
    val r4 = new java.math.BigDecimal(java.lang.Double.toString(ppl))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    InternalRow(n.toLong, r4)
  }
}

/** See [[TextExpressions.bigramPpl]]. */
case class BigramPpl(child: Expression, model: BigramLmLocal)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", LongType, nullable = false),
    StructField("ppl", DoubleType, nullable = true)))

  override def nullSafeEval(input: Any): Any =
    BigramPpl.compute(input.asInstanceOf[UTF8String], model)

  override protected def withNewChildInternal(newChild: Expression): BigramPpl =
    copy(child = newChild)
}

object TokStats {
  /** One scorer for the interpreted and generated paths: token count and
    * non-whitespace character count in ONE byte-level pass — no edge-strip
    * string copy, no token array, no regex. Parity contract (pinned in
    * TextFunctionsSpec against the column twins):
    *  - tokens are the [[Tokens]] runs (edge-strip by `\s`, split `\s+`),
    *    so ntok = number of non-whitespace runs, with the degenerate
    *    empty/all-whitespace input counting 1 (the split-of-empty [""]
    *    artifact both the column form and the DuckDB twins share);
    *  - nonspace = CODE POINTS outside Java-regex `\s` (= the 6 ASCII
    *    whitespace chars; `\s` is ASCII-only without UNICODE flags), which
    *    equals `length(regexp_replace(text, "\\s+", ""))` — continuation
    *    bytes don't start a code point and are not counted.
    */
  def compute(input: UTF8String): InternalRow = {
    val n = input.numBytes
    var ntok = 0
    var nonspace = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val b = input.getByte(i)
      if (Tokens.isWs(b)) {
        inTok = false
      } else {
        if (!inTok) { ntok += 1; inTok = true }
        if ((b & 0xc0) != 0x80) nonspace += 1
      }
      i += 1
    }
    InternalRow(if (ntok == 0) 1 else ntok, nonspace)
  }
}

/** See [[TextExpressions.tokStats]]. */
case class TokStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = StructType(Seq(
    StructField("ntok", IntegerType, nullable = false),
    StructField("nonspace", IntegerType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    TokStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.TokStats$$.MODULE$$.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): TokStats =
    copy(child = newChild)
}

object FilterLines {

  /** Declarative per-line keep rules — the C4/RefinedWeb boilerplate algebra
    * (Raffel et al. 2020 §2.2's line filters are exactly this shape). A line
    * is KEPT iff every enabled rule holds:
    *
    *  - `minChars`/`maxChars`: code-point length bounds (inclusive);
    *  - `minTokens`: at least this many whitespace-separated tokens
    *    (Java-regex ASCII `\s` runs; an empty line has 0 tokens);
    *  - `blockWords`: the line contains NONE of these as a whole word —
    *    Java-regex `\b<word>\b` semantics with the ASCII `\w` class, so the
    *    words themselves must be ASCII `[A-Za-z0-9_]+` (validated; use
    *    `blockSubstrings` for phrases or non-ASCII needles);
    *  - `blockSubstrings`: the line contains none of these literally;
    *  - `requireEndPunct`: the line's last code point is one of `. ! ? "`
    *    (the C4 terminal-punctuation rule).
    */
  case class LineRules(minChars: Int = 0, maxChars: Int = Int.MaxValue,
                       minTokens: Int = 0,
                       blockWords: Seq[String] = Nil,
                       blockSubstrings: Seq[String] = Nil,
                       requireEndPunct: Boolean = false) {
    require(minChars >= 0 && minTokens >= 0,
      s"LineRules: minChars/minTokens must be >= 0, got $minChars/$minTokens")
    require(maxChars >= minChars,
      s"LineRules: maxChars=$maxChars < minChars=$minChars")
    blockWords.foreach(w => require(
      w.nonEmpty && w.forall(ch =>
        (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
        (ch >= '0' && ch <= '9') || ch == '_'),
      s"LineRules: blockWords must be non-empty ASCII [A-Za-z0-9_]+ (\\b semantics), got '$w'" +
        " — use blockSubstrings for anything else"))
    blockSubstrings.foreach(s => require(s.nonEmpty,
      "LineRules: blockSubstrings must be non-empty"))
  }

  /** Byte-level precompile of (sep, rules) — built once per expression
    * instance (driver side), shipped as a codegen reference object, shared
    * across rows. */
  final class Compiled(sep: String, rules: LineRules) extends Serializable {
    val sepBytes: Array[Byte] = sep.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val words: Array[Array[Byte]] =
      rules.blockWords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val subs: Array[Array[Byte]] =
      rules.blockSubstrings.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val minChars: Int = rules.minChars
    val maxChars: Int = rules.maxChars
    val minTokens: Int = rules.minTokens
    val requireEndPunct: Boolean = rules.requireEndPunct
  }

  // Java-regex ASCII classes: \w = [A-Za-z0-9_] here, \s = Tokens.isWs.
  // Bytes >= 0x80 (negative) are neither — consistent with the decoded
  // regex view, where any non-ASCII code point is non-word non-space.
  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9') || b == '_'

  private def matchesAt(b: Array[Byte], i: Int, pat: Array[Byte]): Boolean = {
    var k = 0
    while (k < pat.length) {
      if (b(i + k) != pat(k)) return false
      k += 1
    }
    true
  }

  // Byte-wise search is code-point exact: a valid UTF-8 needle's first byte
  // is ASCII or a lead byte, neither of which equals a continuation byte,
  // so matches only start on code-point boundaries.
  private def containsNeedle(b: Array[Byte], s: Int, e: Int, pat: Array[Byte],
                             wordBounded: Boolean): Boolean = {
    var i = s
    val last = e - pat.length
    while (i <= last) {
      if (matchesAt(b, i, pat) &&
          (!wordBounded ||
            ((i == s || !isWordByte(b(i - 1))) &&
             (i + pat.length == e || !isWordByte(b(i + pat.length)))))) return true
      i += 1
    }
    false
  }

  private def keepLine(b: Array[Byte], s: Int, e: Int, c: Compiled): Boolean = {
    // one byte pass: code points ((b & 0xC0) != 0x80 starts one) + token runs
    var cp = 0
    var toks = 0
    var inTok = false
    var i = s
    while (i < e) {
      val x = b(i)
      if ((x & 0xc0) != 0x80) cp += 1
      if (Tokens.isWs(x)) inTok = false
      else if (!inTok) { toks += 1; inTok = true }
      i += 1
    }
    if (cp < c.minChars || cp > c.maxChars || toks < c.minTokens) return false
    if (c.requireEndPunct) {
      // the punctuation set is ASCII, so "last code point" == last byte
      // whenever it matches (a multi-byte final char ends in a continuation
      // byte, which can't equal any of them)
      if (e == s) return false
      val last = b(e - 1)
      if (!(last == '.' || last == '!' || last == '?' || last == '"')) return false
    }
    var w = 0
    while (w < c.words.length) {
      if (containsNeedle(b, s, e, c.words(w), wordBounded = true)) return false
      w += 1
    }
    var u = 0
    while (u < c.subs.length) {
      if (containsNeedle(b, s, e, c.subs(u), wordBounded = false)) return false
      u += 1
    }
    true
  }

  /** One scorer for the interpreted and generated paths. Line segmentation
    * matches `split(text, quote(sep), -1)`: the separator is a LITERAL,
    * non-overlapping occurrences scanned left to right, trailing empty
    * segments preserved, and the empty input is one empty line. Survivors
    * rejoin in order with the same separator — output bytes are a subset of
    * input bytes, so the assembly buffer never exceeds the input length.
    */
  def compute(input: UTF8String, c: Compiled): InternalRow = {
    val bytes = input.getBytes
    val n = bytes.length
    val sep = c.sepBytes
    val out = new Array[Byte](n)
    var outLen = 0
    var kept = 0L
    var dropped = 0L
    var lineStart = 0
    var done = false
    while (!done) {
      var sepPos = -1
      var i = lineStart
      val lim = n - sep.length
      while (sepPos < 0 && i <= lim) {
        if (matchesAt(bytes, i, sep)) sepPos = i else i += 1
      }
      val e = if (sepPos >= 0) sepPos else n
      if (keepLine(bytes, lineStart, e, c)) {
        if (kept > 0) {
          System.arraycopy(sep, 0, out, outLen, sep.length)
          outLen += sep.length
        }
        System.arraycopy(bytes, lineStart, out, outLen, e - lineStart)
        outLen += e - lineStart
        kept += 1
      } else dropped += 1
      if (sepPos >= 0) lineStart = sepPos + sep.length else done = true
    }
    InternalRow(UTF8String.fromBytes(java.util.Arrays.copyOf(out, outLen)), kept, dropped)
  }
}

/** See [[TextExpressions.filterLines]]. */
case class FilterLines(child: Expression, sep: String, rules: FilterLines.LineRules)
    extends UnaryExpression with ExpectsInputTypes with GraftKernel {

  require(sep.nonEmpty, "FilterLines: sep must be non-empty")

  override def inputTypes = ColumnShim.stringInput
  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("n_dropped", LongType, nullable = false)))

  @transient private lazy val compiled = new FilterLines.Compiled(sep, rules)

  override def nullSafeEval(input: Any): Any =
    FilterLines.compute(input.asInstanceOf[UTF8String], compiled)

  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("graftLineRules", compiled,
      classOf[FilterLines.Compiled].getName)
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.FilterLines$$.MODULE$$.compute($a, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): FilterLines =
    copy(child = newChild)
}
