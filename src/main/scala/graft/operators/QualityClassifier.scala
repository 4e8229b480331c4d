package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.{HashedNgramLogit, TextExpressions}

/** Hashed-ngram linear quality classifier — the fastText-style model-based
  * curation stage (Joulin et al. 2016; DSIR, Xie et al. 2023): a document's
  * unigrams + bigrams hash into a fixed weight table, the weights sum to a
  * logit, sign decides keep/drop. The published recipe behind "classifier
  * quality filtering" in LLM corpus pipelines (e.g. GPT-3's WebText
  * classifier, CCNet's optional fastText stage) — heuristic gates
  * (quality/Gopher) catch pathologies, the classifier learns a DOMAIN.
  *
  * Scale shape: scoring is a pure scan projection — the model (a few KB to
  * a few MB of milli-weights) rides the expression into every task, the
  * corpus is read once, nothing shuffles. Training runs where the labels
  * are: a few thousand curated samples fit on the driver ([[trainLocal]]),
  * then the frozen model scores 100 TB.
  *
  * All arithmetic is in integer MILLI-units (weights quantized to 3
  * decimals) so the logit is exact and order-free — the money-sum
  * discipline applied to model weights. The feature hash is the first 48
  * bits of md5 (see [[graft.plans.HashedNgramLogit.bucket]]), which DuckDB
  * recomputes exactly — unlike the xxhash64 dedup family, this operator
  * has a full SQL oracle.
  */
object QualityClassifier {

  /** A trained (or formula) model: per-bucket milli-weights + milli-bias. */
  final case class NgramModel(weightsMilli: Array[Long], biasMilli: Long = 0L,
                              includeBigrams: Boolean = true) {
    require(weightsMilli.nonEmpty, "NgramModel: empty weight table")
    def numBuckets: Int = weightsMilli.length
  }

  /** Deterministic formula weights — an LCG over the bucket index, milli
    * units in [-1000, 1000]: `w(j) = (j*1103515245 + 12345) % 2001 - 1000`.
    * Not a useful classifier; it exists so the cross-engine oracle can
    * recompute the exact same model without shipping a weights table.
    */
  def formulaModel(d: Int, includeBigrams: Boolean = true): NgramModel = {
    require(d > 0, s"QualityClassifier.formulaModel: d must be positive, got $d")
    NgramModel(
      Array.tabulate(d)(j => (j.toLong * 1103515245L + 12345L) % 2001L - 1000L),
      biasMilli = 0L, includeBigrams = includeBigrams)
  }

  /** Score every document: `(id, n_grams, logit_milli, score, label)`.
    * `logit_milli` is the exact integer `bias + Σ w[bucket(g)]` over gram
    * OCCURRENCES; `score` is the fastText mean logit (`logit/1000/n_grams`,
    * rounded 4 like the other quality signals); `label` is `logit > 0`.
    * Zero-gram documents (null/whitespace-only text) drop — the oracle's
    * gram unnest cannot see them either.
    */
  def score(docs: DataFrame, model: NgramModel,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    Seq(idCol, textCol).foreach(c => require(docs.columns.contains(c),
      s"QualityClassifier.score: input has no '$c' column"))
    val st = TextExpressions.hashedNgramLogit(
      col(textCol), model.weightsMilli, model.includeBigrams)
    // Zero-gram drop as a CHEAP text predicate instead of [[finish]]'s
    // `n_grams > 0`: Catalyst pushes a filter on a projected field below the
    // projection by inlining the expression, so the full hashed-ngram logit
    // evaluated TWICE per row — once in the Filter, once in the Project
    // (r21 plan audit; the optimization guide's duplicated-UDF shape).
    // Equivalence: n_grams > 0 ⟺ ntok ≥ 1 ⟺ text has a non-whitespace char,
    // and the tokenizer's whitespace class (Tokens.isWs) is exactly Java
    // regex `\s` = [ \t\n\x0B\f\r], so `rlike("\\S")` decides ntok ≥ 1
    // bit-identically — including control chars ≤ U+0020 outside `\s`
    // (e.g. U+001C FILE SEPARATOR) that a trim()-based predicate would misclassify.
    // Pinned against scoreColumnar on exactly those edges in
    // QualityClassifierSpec.
    project(docs.filter(col(textCol).isNotNull && col(textCol).rlike("\\S"))
      .select(col(idCol), st.getField("n_grams").as("n_grams"),
        (lit(model.biasMilli) + st.getField("sum_wmilli")).as("logit_milli")))
  }

  /** Column-algebra twin of [[score]] (parity spec): same tokens, bucket via
    * `conv(substr(md5(g),1,12),16,10) % D`, weight lookup from an array
    * literal. Interpreted higher-order functions — the twin documents the
    * algebra; the native path is the production one.
    */
  def scoreColumnar(docs: DataFrame, model: NgramModel,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = model.numBuckets
    val tw = filter(split(trim(col(textCol)), "\\s+"), t => t =!= lit(""))
    val bi = when(size(tw) < lit(2), array().cast("array<string>"))
      .otherwise(zip_with(
        slice(tw, lit(1), size(tw) - lit(1)),
        slice(tw, lit(2), size(tw) - lit(1)),
        (a, b) => concat(a, lit(" "), b)))
    val grams = if (model.includeBigrams) concat(tw, bi) else tw
    val buckets = transform(grams, g =>
      (conv(substr(md5(g), lit(1), lit(12)), 16, 10).cast("long") % d).cast("int"))
    val sumw = aggregate(buckets, lit(0L),
      (acc, j) => acc + element_at(typedLit(model.weightsMilli.toSeq), j + lit(1)))
    finish(docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(grams).as("n_grams"),
        (lit(model.biasMilli) + sumw).as("logit_milli")))
  }

  /** [[finish]] keeps the zero-gram filter for the columnar twin (whose
    * gram arithmetic is cheap enough that the pushed-down duplicate does
    * not matter); the native [[score]] pre-filters on the text instead and
    * takes only the projection half.
    */
  private def finish(scored: DataFrame): DataFrame =
    project(scored.filter(col("n_grams") > 0))

  private def project(scored: DataFrame): DataFrame =
    scored
      // + 0.0 collapses IEEE -0.0 (a tiny negative logit rounding to zero)
      // to +0.0 — the oracle applies the same normalization
      .withColumn("score",
        round(col("logit_milli") / lit(1000.0) / col("n_grams"), 4) + lit(0.0))
      .withColumn("label", col("logit_milli") > 0)

  /** Deterministic driver-side perceptron in milli-units: each
    * misclassified sample moves its gram buckets (and the bias) `lrMilli`
    * toward the label. Spec-scale by design — labeled curation sets are
    * thousands of documents, not corpus-scale; the DISTRIBUTED half is
    * [[score]]. `label` true = positive/keep class.
    */
  def trainLocal(samples: Seq[(String, Boolean)], d: Int = 4096,
                 includeBigrams: Boolean = true, epochs: Int = 10,
                 lrMilli: Long = 10L): NgramModel = {
    require(samples.nonEmpty, "QualityClassifier.trainLocal: no samples")
    require(d > 0 && epochs > 0 && lrMilli > 0,
      s"QualityClassifier.trainLocal: d=$d, epochs=$epochs, lrMilli=$lrMilli must be positive")
    val feats = samples.map { case (text, lab) =>
      (HashedNgramLogit.buckets(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), d, includeBigrams),
        if (lab) 1L else -1L)
    }
    val w = new Array[Long](d)
    var bias = 0L
    for (_ <- 1 to epochs; (bs, y) <- feats) {
      var s = bias
      bs.foreach(b => s += w(b))
      val yhat = if (s > 0) 1L else -1L
      if (yhat != y) {
        bs.foreach(b => w(b) += y * lrMilli)
        bias += y * lrMilli
      }
    }
    NgramModel(w, bias, includeBigrams)
  }
}
