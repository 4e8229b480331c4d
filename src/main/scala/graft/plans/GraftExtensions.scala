package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native expressions as
  * SQL functions, so the engine surface is reachable from plain
  * `spark.sql(...)` (and thus from any SQL-speaking client) — not just the
  * Scala DSL.
  *
  * Activate with:
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)            // or
  *     .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * SQL surface:
  *  - `graft_minhash_state(text)` → struct<shingle_hashes, signature, band_hashes>
  *  - `graft_simhash(text)`       → bigint
  *  - `graft_langid(text)`        → string (language code or 'und')
  *  - `graft_fingerprint(text)`   → bigint (two-lane polynomial rolling hash)
  *  - `graft_quality(text)`       → double (unrounded composite quality score)
  *  - `graft_stopword_ratio(text)` → double (unrounded stopword density)
  *  - `graft_repetition(text)`    → struct<n_tokens, dup_word_frac, dup_bigram_frac, top_word_frac>
  *  - `graft_cosine(a, b)`        → double (fused one-pass cosine over array<double>)
  *  - `graft_pii(text)`           → struct<n_emails, n_ips, n_phones, redacted>
  *  - `graft_nfc(text)`           → string (Unicode NFC normalization, UAX#15)
  *  - `graft_normalize(text)`     → string (NFC → lower → whitespace collapse + trim)
  *  - `graft_compress_ratio(text)` → double (zlib deflate ratio — degenerate-text signal)
  *  - `graft_bpeish_count(text)`  → int (BPE-ish token count, state-machine regex twin)
  *  - `graft_winnow_fps(text, k, w)` → array<string> (winnowed md5 fingerprints; k, w literal ints)
  *  - `graft_term_counts(text)`   → struct<ntok, entries array<struct<term, n>>>
  *  - `graft_bigram_counts(text)` → struct<nbg, entries array<struct<w1, w2, n>>>
  *  - `graft_quantize8(vec)`      → struct<scale double, codes array<tinyint>> (int8 SQ)
  *  - `graft_topk(score, id, k)`  → AGGREGATE: array<struct<score, id>> top-k by score desc, id asc ties (k literal int)
  *  - `graft_url_canonical(url)`  → string (crawl-dedup URL canonical form; tracking params stripped)
  *  - `graft_money_sum(x, scale)` → AGGREGATE: double — exact `sum(cast(x as decimal(18,scale)))` via the 128-bit fixed-point accumulator (scale literal int)
  *
  * Optimizer rules, injected into the operator-optimization fixed point:
  *  - [[CollectSizeToCount]], [[TopNThroughRiJoin]], [[RiJoinElimination]]
  *    (RiRules.scala; the last two read the [[Constraints]] RELY registry)
  *  - [[LateKernelMaterialization]] (LateKernels.scala): a top-K evaluates
  *    graft kernels only on the rows it keeps
  *  - [[PreAggregateGroupingSets]] (GroupingSetRules.scala)
  *
  * Physical rules, injected as a pre-columnar-transition rule (it runs just
  * before `CollapseCodegenStages`, with or without adaptive execution):
  *  - [[ParameterizeFilterLiterals]] (ParamLiterals.scala): primitive
  *    literals under a `FilterExec` comparison or `In` read their value from
  *    the generated class's `references`, so a request shape compiles once
  *    and not once per slug or cursor value
  *
  * Planner strategy:
  *  - [[graft.operators.FusedTopK.Strategy]]: plans the fused top-k and
  *    near-dup pair scans as `FusedTopKExec` / `FusedPairsExec`
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // RI-aware optimizer rules (RiRules.scala), fed by the Constraints RELY
    // registry the catalog populates from its declared relations. Injected
    // into the operator-optimization fixed point so they cooperate with
    // CollapseProject / column pruning / limit pushdown.
    ext.injectOptimizerRule(_ => CollectSizeToCount)
    ext.injectOptimizerRule(_ => TopNThroughRiJoin)
    // Constraint-free: graft kernels under a top-K run on the rows it
    // keeps, not on every row (LateKernels.scala).
    ext.injectOptimizerRule(_ => LateKernelMaterialization)
    ext.injectOptimizerRule(_ => RiJoinElimination)
    ext.injectOptimizerRule(_ => PreAggregateGroupingSets)
    ext.injectColumnar(_ => ParameterizeFilterLiterals.AsColumnarRule)
    // the fused top-k and near-dup pair scans (graft.operators.FusedTopK)
    ext.injectPlannerStrategy(_ => graft.operators.FusedTopK.Strategy)
  }
}

object GraftExtensions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("graft_minhash_state"),
      new ExpressionInfo(classOf[MinHashState].getName, "graft_minhash_state"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_minhash_state(text) takes exactly 1 argument")
        MinHashState(children.head, k = 32, w = 3, bands = 8, seed = 42L)
      }),
    (
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_simhash(text) takes exactly 1 argument")
        SimHash64(children.head)
      }),
    (
      new FunctionIdentifier("graft_langid"),
      new ExpressionInfo(classOf[LangId].getName, "graft_langid"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_langid(text) takes exactly 1 argument")
        LangId(children.head, graft.functions.TextFunctions.langMarkers.toSeq.sortBy(_._1))
      }),
    (
      new FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[Fingerprint].getName, "graft_fingerprint"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_fingerprint(text) takes exactly 1 argument")
        Fingerprint(children.head)
      }),
    (
      new FunctionIdentifier("graft_quality"),
      new ExpressionInfo(classOf[QualityScore].getName, "graft_quality"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_quality(text) takes exactly 1 argument")
        QualityScore(children.head, graft.functions.TextFunctions.defaultStopwords)
      }),
    (
      new FunctionIdentifier("graft_stopword_ratio"),
      new ExpressionInfo(classOf[StopwordRatio].getName, "graft_stopword_ratio"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_stopword_ratio(text) takes exactly 1 argument")
        StopwordRatio(children.head, graft.functions.TextFunctions.defaultStopwords)
      }),
    (
      new FunctionIdentifier("graft_repetition"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "graft_repetition"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_repetition(text) takes exactly 1 argument")
        RepetitionStats(children.head)
      }),
    (
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine(a, b) takes exactly 2 arguments")
        CosineSim(children.head, children(1))
      }),
    (
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_nfc(text) takes exactly 1 argument")
        UnicodeNormalize(children.head, "NFC")
      }),
    (
      new FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[CollapseWhitespace].getName, "graft_normalize"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_normalize(text) takes exactly 1 argument")
        // Same composition as TextFunctions.normalizeText: NFC → Spark's
        // own Lower (ICU-aware) → one-pass whitespace collapse.
        CollapseWhitespace(org.apache.spark.sql.catalyst.expressions.Lower(
          UnicodeNormalize(children.head, "NFC")))
      }),
    (
      new FunctionIdentifier("graft_compress_ratio"),
      new ExpressionInfo(classOf[CompressionRatio].getName, "graft_compress_ratio"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_compress_ratio(text) takes exactly 1 argument")
        CompressionRatio(children.head)
      }),
    (
      new FunctionIdentifier("graft_pii"),
      new ExpressionInfo(classOf[PiiStats].getName, "graft_pii"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_pii(text) takes exactly 1 argument")
        PiiStats(children.head)
      }),
    (
      new FunctionIdentifier("graft_bpeish_count"),
      new ExpressionInfo(classOf[BpeishCount].getName, "graft_bpeish_count"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_bpeish_count(text) takes exactly 1 argument")
        BpeishCount(children.head)
      }),
    (
      new FunctionIdentifier("graft_winnow_fps"),
      new ExpressionInfo(classOf[WinnowFps].getName, "graft_winnow_fps"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "graft_winnow_fps(text, k, w) takes exactly 3 arguments")
        WinnowFps(children.head, litInt(children(1), "graft_winnow_fps", "k"),
          litInt(children(2), "graft_winnow_fps", "w"))
      }),
    (
      new FunctionIdentifier("graft_term_counts"),
      new ExpressionInfo(classOf[TermCounts].getName, "graft_term_counts"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_term_counts(text) takes exactly 1 argument")
        TermCounts(children.head)
      }),
    (
      new FunctionIdentifier("graft_bigram_counts"),
      new ExpressionInfo(classOf[BigramCounts].getName, "graft_bigram_counts"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_bigram_counts(text) takes exactly 1 argument")
        BigramCounts(children.head)
      }),
    (
      new FunctionIdentifier("graft_quantize8"),
      new ExpressionInfo(classOf[Int8Quantize].getName, "graft_quantize8"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_quantize8(vec) takes exactly 1 argument")
        Int8Quantize(children.head)
      }),
    (
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKByScore].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "graft_topk(score, id, k) takes exactly 3 arguments")
        // the analyzer wraps a bare AggregateFunction builder result in the
        // AggregateExpression itself (the same contract Spark's built-in
        // registry entries rely on)
        TopKByScore(children.head, children(1), litInt(children(2), "graft_topk", "k"))
      }),
    (
      new FunctionIdentifier("graft_url_canonical"),
      new ExpressionInfo(classOf[UrlCanonical].getName, "graft_url_canonical"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_url_canonical(url) takes exactly 1 argument")
        UrlCanonical(children.head, graft.functions.TextFunctions.trackingParamPattern)
      }),
    (
      new FunctionIdentifier("graft_money_sum"),
      new ExpressionInfo(classOf[Decimal128Sum].getName, "graft_money_sum"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_money_sum(x, scale) takes exactly 2 arguments")
        val s = litInt(children(1), "graft_money_sum", "scale")
        // AGGREGATE: the exact double `sum(cast(x as decimal(18,s)))
        // .cast(double)` yields, via the 128-bit fixed-point accumulator
        Decimal128Sum(DoubleToScaledLong(children.head, s), s)
      })
  )

  /** A literal/foldable integer argument (k, w, …) evaluated at analysis
    * time — a non-foldable expression here would mean a different operator
    * shape per row, which none of these functions can support.
    */
  private def litInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable, s"$fn: '$arg' must be a literal integer")
    e.eval() match {
      case i: Int => i
      case l: Long if l == l.toInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: '$arg' must be a literal integer, got $other")
    }
  }
}
