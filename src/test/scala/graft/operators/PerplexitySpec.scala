package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PerplexitySpec extends SparkSpec {
  import spark.implicits._

  private def ppl(rows: Seq[(Long, Long, Double)], id: Long): Double =
    rows.find(_._1 == id).map(_._3)
      .getOrElse(fail(s"no perplexity row for doc $id"))

  private def scoreAll(train: Seq[String], docs: Seq[(Long, String)],
                       vocabSize: Int = 10000): Seq[(Long, Long, Double)] = {
    val lm = Perplexity.train(
      train.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      vocabSize = vocabSize)
    Perplexity.score(docs.toDF("doc_id", "text"), lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("hand-computed probabilities on a two-word corpus") {
    // train: bigrams {a b: 3, b a: 1}; vocab {a, b}, V = 3; contexts a→3, b→1
    val got = scoreAll(Seq("a b a b", "a b"), Seq((10L, "a b"), (11L, "z z"), (12L, "b a")))
    // P(b|a) = 3.1/3.3 → ppl = exp(-ln(3.1/3.3)) ≈ 3.3/3.1 (up to the 6dp logp round)
    assert(math.abs(ppl(got, 10L) - 3.3 / 3.1) < 1e-3)
    // both-OOV bigram: P(unk|unk) = 0.1/(0 + 0.1·3) = 1/3 → ppl = 3
    assert(ppl(got, 11L) == 3.0)
    // unseen in-vocab bigram (b a occurs once): P(a|b) = 1.1/1.3
    assert(math.abs(ppl(got, 12L) - 1.3 / 1.1) < 1e-3)
    assert(got.forall(_._2 == 1L), "each doc has exactly one bigram")
  }

  test("reference-like text scores lower perplexity than gibberish") {
    val reference = Seq.fill(20)("the quick brown fox jumps over the lazy dog")
    val got = scoreAll(reference, Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"),
      (3L, "zq xv wk jj qp mz")))
    assert(ppl(got, 1L) < ppl(got, 2L), s"in-order should beat shuffled: $got")
    assert(ppl(got, 1L) < ppl(got, 3L), s"in-order should beat OOV noise: $got")
    // (no claim between 2 and 3: add-alpha gives the all-OOV doc the
    // near-uniform 1/V bigram probability, which can beat in-vocab pairs
    // whose contexts are heavy but whose continuations are unseen)
  }

  test("vocab cap maps tail tokens to <unk>; ties break lexicographically") {
    // counts: a=3, b=2, c=2 → vocabSize=2 keeps {a, b} (count desc, token asc)
    val got = scoreAll(Seq("a a a b b c c"), Seq((1L, "c c")), vocabSize = 2)
    // c → <unk>; train bigrams over mapped stream: (a a)×2, (a b), (b b),
    // (b unk), (unk unk) — so (unk unk) has n=1, ctx(unk)=1, V=3:
    // P = 1.1/1.3
    assert(math.abs(ppl(got, 1L) - 1.3 / 1.1) < 1e-3)
  }

  test("short and null texts emit no row; empty output on all-short input") {
    val lm = Perplexity.train(Seq((0L, "a b")).toDF("doc_id", "text"))
    val out = Perplexity.score(
      Seq((1L, "solo"), (2L, null), (3L, ""), (4L, "a b")).toDF("doc_id", "text"), lm)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("no-bigram drop via the rlike pre-filter matches tokenizer semantics on control chars (r21)") {
    // r21 replaced the pushed-down `__p.n_bigrams > 0` filter (which
    // re-evaluated BigramPpl in the Filter) with a cheap text pre-filter,
    // now TokStats' `ntok >= 2` over the same Tokens runs. Control chars
    // outside \s (FS = \u001C here) are token CHARACTERS: "\u001C \u001C" is
    // two tokens -> one bigram -> kept; "x\u000By" splits on VT (a \s char)
    // into two tokens -> kept; "solo", "\u001C" alone, and all-\s texts drop.
    val lm = Perplexity.train(Seq((0L, "a b")).toDF("doc_id", "text"))
    val out = Perplexity.score(
      Seq((1L, "\u001C \u001C"), (2L, "x\u000By"), (3L, "solo"), (4L, "\t\r\n"),
        (5L, "\u001C"), (6L, " a  b "), (7L, null.asInstanceOf[String]))
        .toDF("doc_id", "text"), lm)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 1L), (2L, 1L), (6L, 1L)), s"got $out")
  }

  test("score plans as a pure scan projection: no join, no aggregate exchange") {
    val docs = (0L until 50L).map(i => (i, s"tok${i % 7} tok${(i + 1) % 7} tok${(i + 2) % 7}"))
      .toDF("doc_id", "text")
    val lm = Perplexity.train(docs.filter(col("doc_id") % 2 === 0))
    val plan = Perplexity.score(docs, lm).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "one-pass scoring must not join:\n" + plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate") &&
      !plan.contains("SortAggregate"), "one-pass scoring must not re-aggregate:\n" + plan)
  }

  test("scoreJoined: model joins broadcast; no sort-merge join in the scoring plan") {
    val docs = (0L until 50L).map(i => (i, s"tok${i % 7} tok${(i + 1) % 7} tok${(i + 2) % 7}"))
      .toDF("doc_id", "text")
    val lm = Perplexity.train(docs.filter(col("doc_id") % 2 === 0))
    val plan = Perplexity.scoreJoined(docs, lm).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), "model/vocab joins must broadcast:\n" + plan)
  }

  test("one-pass native score is bit-identical to the join formulation") {
    val rnd = new scala.util.Random(7)
    val vocabWords = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "the", "of")
    val docs = (0L until 300L).map { i =>
      val n = rnd.nextInt(12) // includes 0- and 1-token docs (no-row cases)
      (i, Seq.fill(n)(vocabWords(rnd.nextInt(vocabWords.size))).mkString(" "))
    } :+ ((300L, null.asInstanceOf[String])) :+ ((301L, "")) :+ ((302L, " \t\r\n")) :+
      ((303L, "\u0000alpha beta\u001c")) :+ ((304L, "\u001f the \u00a0 of \u0000"))
    val df = docs.toDF("doc_id", "text")
    val lm = Perplexity.train(df.filter(col("doc_id") % 3 =!= 0), vocabSize = 5)
    val fast = Perplexity.score(df, lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val joined = Perplexity.scoreJoined(df, lm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fast == joined, "native one-pass ppl must equal the join path exactly")
    assert(fast.nonEmpty)
  }

  test("native bigram counts equal the columnar zip_with twin per document") {
    val docs = Seq(
      (1L, "a b a b a"), (2L, "solo"), (3L, ""), (4L, "  x   y  z "),
      (5L, "ü ü ß"), (6L, "a a a a a a"), (7L, "tab\tsep\nnewline mix")
    ).toDF("doc_id", "text")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val native = docs.select(col("doc_id"),
        explode(graft.plans.TextExpressions.bigramCounts(col("text"))
          .getField("entries")).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"), col("b.n").cast("long"))
    val columnar = docs.select(col("doc_id"),
        explode(Perplexity.bigramsCol(col("text"))).as("b"))
      .groupBy(col("doc_id"), col("b.w1"), col("b.w2"))
      .agg(count(lit(1)).as("n"))
    assert(key(native.collect()) == key(columnar.collect()))
    // nbg equals the occurrence total
    val nbg = docs.select(col("doc_id"),
        graft.plans.TextExpressions.bigramCounts(col("text")).getField("nbg").as("nbg"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(nbg == Map(1L -> 4, 2L -> 0, 3L -> 0, 4L -> 2, 5L -> 2, 6L -> 5, 7L -> 3))
  }

  test("train rejects bad parameters and missing columns") {
    val df = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Perplexity.train(df, vocabSize = 0))
    intercept[IllegalArgumentException](Perplexity.train(df, alpha = 0.0))
    intercept[IllegalArgumentException](Perplexity.train(df.select("doc_id")))
    intercept[IllegalArgumentException](
      Perplexity.score(df.select("text"), Perplexity.train(df)))
  }
}
