package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Bigram language-model perplexity filtering — the CCNet/Wikipedia-LM
  * quality signal: train a small n-gram LM on a trusted reference slice,
  * score every candidate document by its per-token perplexity under that
  * model, and gate or bucket the corpus on the score (low perplexity ≈
  * looks like the reference distribution). The published pipelines (CCNet,
  * Gopher, Llama's pretraining filters) all carry a variant of this next
  * to the heuristic quality score ([[graft.plans.TextExpressions]]) — the
  * LM catches fluent-vs-gibberish distinctions that length/punctuation
  * ratios cannot.
  *
  * Model: add-alpha-smoothed bigram LM over a capped vocabulary,
  *
  *   P(w2 | w1) = (c(w1, w2) + α) / (c(w1, ·) + α·V)
  *   ppl(d)     = exp(− mean over d's bigrams of ln P(w2 | w1))
  *
  * with out-of-vocabulary tokens mapped to the `<unk>` symbol (the
  * standard convention — a literal `<unk>` token in the data merges with
  * it) and V = |vocab| + 1 counting that symbol.
  *
  * Scale shape (100 TB corpus, vocabulary-bounded model):
  *  - Bigram pairs come from the native scan-stage
  *    [[graft.plans.TextExpressions.bigramCounts]] — distinct pairs per
  *    document with multiplicities, never occurrences; document bodies
  *    never ride any exchange.
  *  - Vocabulary selection is `orderBy(count).limit(V)` → Spark plans
  *    TakeOrderedAndProject: each partition keeps its local top-V, only
  *    V-sized partials reach the driver-side merge — then the capped
  *    result is COLLECTED (≤ V strings by construction — the same
  *    bounded-collect contract as [[LocalKMeans]]) and the OOV→`<unk>`
  *    map evaluates as a native `InSet` inside the scan. The broadcast-
  *    join formulation this replaced paid four broadcast exchange
  *    materializations per train+score just to test set membership.
  *  - Bigram counting's one exchange carries ≤ partitions × bigram-types
  *    slim rows (map-side partial aggregation).
  *  - Context counts c(w1, ·) derive from the bigram model by a second
  *    aggregation over the MODEL (vocabulary-sized), not the corpus.
  *  - Scoring broadcasts the model (a trained CCNet-style SLM is MBs —
  *    bounded by bigram types, empirically ≪ V²; for a model too big to
  *    broadcast, pre-aggregate per-document bigram counts and shuffle-join
  *    on (w1, w2) instead) and sums log-probs with map-side partials.
  *
  * Per-bigram log-probs are rounded to DECIMAL(18,6) before the sum (the
  * engine-parity money-sum discipline — exact, order-free), so the DuckDB
  * oracle reproduces the score bit-for-bit.
  */
object Perplexity {

  /** A trained bigram LM. `bigrams` = `(w1, w2, n)` and `contexts` =
    * `(w1, cn)` are vocabulary-bounded relations (broadcast at scoring);
    * `vocab` is the capped word set itself (`<unk>` NOT included — V
    * counts it separately, so `v = vocab.size + 1`).
    */
  final case class BigramLm(bigrams: DataFrame, contexts: DataFrame,
                            vocab: Set[String], alpha: Double) {
    def v: Double = vocab.size + 1.0

    /** Release the model's localCheckpoint blocks. Long-lived sessions
      * training many LMs (per-domain, per-round) should call this when a
      * model retires — the ContextCleaner frees the blocks on GC anyway,
      * but under storage-memory pressure "eventually" is too late.
      */
    def unpersist(): Unit = { bigrams.unpersist(): Unit }
  }

  val Unk = "<unk>"

  /** Ordered token bigrams of `textCol` as `array<struct<w1, w2>>` —
    * columnar (zip of the token array with its own tail). The PARITY TWIN
    * of the native [[graft.plans.TextExpressions.bigramCounts]] hot path
    * (zip_with/slice evaluate interpreted and explode every occurrence;
    * the native expression counts inside codegen and explodes only
    * distinct pairs — equality pinned in PerplexitySpec). Texts with
    * fewer than two tokens yield an empty array.
    */
  def bigramsCol(textCol: Column): Column = {
    val toks = TextFunctions.tokens(textCol)
    val n = greatest(size(toks) - 1, lit(0))
    zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** `(leading cols…, w1, w2, __k)` vocab-mapped weighted bigram rows from
    * the native per-document counter — distinct pairs with multiplicities,
    * OOV already folded to `<unk>` by a scan-stage `InSet` membership test.
    */
  private def bigramRows(df: DataFrame, textCol: String, keep: Seq[Column],
                         vocab: Set[String]): DataFrame = {
    def mapped(c: Column): Column =
      if (vocab.isEmpty) lit(Unk) // empty-IN is malformed in Spark; all tokens are OOV
      else when(c.isInCollection(vocab), c).otherwise(lit(Unk))
    df.select(keep :+
        explode(graft.plans.TextExpressions.bigramCounts(col(textCol))
          .getField("entries")).as("__b"): _*)
      .select(keep ++ Seq(mapped(col("__b.w1")).as("w1"),
        mapped(col("__b.w2")).as("w2"),
        col("__b.n").cast("long").as("__k")): _*)
  }

  /** Train on `corpus` (typically the trusted reference slice): top
    * `vocabSize` tokens by (count desc, token asc — total order), bigram
    * and context counts over the vocab-mapped token stream.
    */
  def train(corpus: DataFrame, textCol: String = "text",
            vocabSize: Int = 10000, alpha: Double = 0.1): BigramLm = {
    require(vocabSize > 0, s"Perplexity.train: vocabSize=$vocabSize must be positive")
    require(alpha > 0, s"Perplexity.train: alpha=$alpha must be positive (zero breaks smoothing)")
    require(corpus.columns.contains(textCol),
      s"Perplexity.train: input has no '$textCol' column")
    val live = corpus.filter(col(textCol).isNotNull)
    // Unigram counts from the native TermCounts (distinct terms per doc
    // reach the partial agg, not occurrences); top-V runs distributed
    // (TakeOrderedAndProject), and only the ≤ V winners are collected.
    val vocab = live
      .select(explode(graft.plans.TextExpressions.termCounts(col(textCol))
        .getField("entries")).as("__t"))
      .select(col("__t.term").as("w"), col("__t.n").cast("long").as("__k"))
      .groupBy("w").agg(sum(col("__k")).as("__n"))
      .orderBy(desc("__n"), col("w")).limit(vocabSize)
      .select(col("w"))
      .collect().map(_.getString(0)).toSet
    // Bigram model feeds the scoring join AND the context aggregate —
    // checkpoint it, or the corpus would bigram-count twice.
    val bigrams = bigramRows(live, textCol, Seq.empty, vocab)
      .groupBy("w1", "w2").agg(sum(col("__k")).as("n"))
      .localCheckpoint(eager = false)
    val contexts = bigrams.groupBy("w1").agg(sum("n").as("cn"))
    BigramLm(bigrams, contexts, vocab, alpha)
  }

  /** Per-document perplexity under `lm`: `(idCol, n_bigrams, ppl)` with
    * `ppl` rounded to 4dp, ordered by id. Documents with fewer than two
    * tokens (no bigrams) emit no row — they have no perplexity, and a
    * curation gate should handle them by length instead.
    *
    * ONE scan pass: the model snapshots into a
    * [[graft.plans.BigramLmLocal]] (vocabulary-bounded collect — bigram
    * TYPES, not corpus rows; the same bounded contract as the k-means and
    * codebook sidecars) and every document scores inside the native
    * [[graft.plans.BigramPpl]] expression — no pair explosion, no model
    * joins, no re-aggregate; the only exchange left is the output sort.
    * Bit-identical to [[scoreJoined]] (micro log-probs pre-rounded with
    * the same decimal discipline), which remains the formulation for a
    * model too large to ship inside a plan.
    */
  def score(docs: DataFrame, lm: BigramLm,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    scoreCarrying(docs, lm, idCol, textCol, carry = Nil).orderBy(col(idCol))

  /** [[score]] with extra input columns carried through the scoring
    * projection, UNSORTED: `(idCol, carry…, n_bigrams, ppl)`. Compositions
    * that need document metadata next to the score (per-language ranking,
    * source-sliced gating) read it off the SAME scan instead of joining the
    * corpus-sized score relation back against the corpus on `idCol` — at
    * scale that join is a second full scan plus a corpus-wide exchange of
    * both sides for columns the scoring pass already had in hand. Row set
    * and score values are exactly [[score]]'s (same expression, same
    * filters); only the column set and the absence of the presentation sort
    * differ.
    */
  def scoreCarrying(docs: DataFrame, lm: BigramLm, idCol: String = "doc_id",
                    textCol: String = "text", carry: Seq[String] = Nil): DataFrame = {
    (Seq(idCol, textCol) ++ carry).foreach(c => require(docs.columns.contains(c),
      s"Perplexity.score: input has no '$c' column"))
    // ONE bounded collect: contexts c(w1,·) = Σ_w2 c(w1,w2) derive from the
    // collected bigram TYPES on the driver (same long sums, same values —
    // lm.contexts is literally this groupBy distributed). The second
    // collect was a whole extra job re-reading the model checkpoint per
    // score() call. lm.contexts stays for [[scoreJoined]]'s broadcast path.
    val bigramTypes = lm.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val local = graft.plans.BigramLmLocal(
      bigrams = bigramTypes.map { case (w1, w2, n) => (w1 + " " + w2, n) }.toMap,
      contexts = bigramTypes.groupMapReduce(_._1)(_._3)(_ + _),
      vocab = lm.vocab, alpha = lm.alpha)
    val keep = (col(idCol) +: carry.map(col)).toIndexedSeq
    // No-bigram drop as a CHEAP token count instead of filtering the
    // projected `__p.n_bigrams > 0`: Catalyst inlines a filter on a
    // projected field below the projection, so BigramPpl — the whole
    // tokenize + model-lookup pass — evaluated TWICE per row (once in the
    // Filter, once in the Project; r21 plan audit, the guide's
    // duplicated-UDF shape). n_bigrams > 0 ⟺ at least two
    // `graft.plans.Tokens` runs, which TokStats counts in one codegen'd
    // byte pass with no allocation.
    // Pinned against scoreJoined on the edge shapes in PerplexitySpec.
    docs.filter(col(textCol).isNotNull &&
        graft.plans.TextExpressions.tokStats(col(textCol)).getField("ntok") >= 2)
      .select(keep :+
        graft.plans.TextExpressions.bigramPpl(col(textCol), local).as("__p"): _*)
      .select(keep ++ Seq(col("__p.n_bigrams").as("n_bigrams"),
        col("__p.ppl").as("ppl")): _*)
  }

  /** The broadcast-join scoring formulation — [[score]]'s parity twin
    * (equality pinned in PerplexitySpec) and the fallback when the trained
    * model is too large to ship as an expression payload: pair rows join
    * the broadcast model relations and re-aggregate per document.
    */
  def scoreJoined(docs: DataFrame, lm: BigramLm,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    Seq(idCol, textCol).foreach(c => require(docs.columns.contains(c),
      s"Perplexity.scoreJoined: input has no '$c' column"))
    val pairs = bigramRows(docs.filter(col(textCol).isNotNull), textCol,
      Seq(col(idCol)), lm.vocab)
    // Weighted by the per-document pair multiplicity __k: k · round6(logp)
    // is EXACTLY Σ_k round6(logp) (decimal × integer), so the score equals
    // the per-occurrence formulation the DuckDB oracle computes.
    pairs
      .join(broadcast(lm.bigrams), Seq("w1", "w2"), "left")
      .join(broadcast(lm.contexts), Seq("w1"), "left")
      .withColumn("__logp",
        graft.plans.Decimal128.scaled(
          log((coalesce(col("n"), lit(0L)) + lit(lm.alpha)) /
              (coalesce(col("cn"), lit(0L)) + lit(lm.alpha) * lit(lm.v))), 6))
      .groupBy(col(idCol))
      .agg(graft.plans.Decimal128.sum128(
          graft.plans.Decimal128.mul(col("__logp"), col("__k")), 6).as("__s"),
        sum(col("__k")).as("n_bigrams"))
      .withColumn("ppl",
        round(exp(-col("__s") / col("n_bigrams")), 4))
      .select(col(idCol), col("n_bigrams"), col("ppl"))
      .orderBy(col(idCol))
  }
}
