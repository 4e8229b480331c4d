package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Native RepetitionStats vs an independent plain-Scala reimplementation —
  * the spec-side model tokenizes and counts with its own code, not the
  * expression's helpers.
  */
class RepetitionSpec extends SparkSpec {

  private def model(text: String): (Int, Double, Double, Double) = {
    val toks = text.replaceAll("^\\s+|\\s+$", "").split("\\s+")
    val n = toks.length
    val dupW = (n - toks.distinct.length).toDouble / n
    val bigrams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
    val dupB = if (bigrams.isEmpty) 0.0
               else (bigrams.length - bigrams.distinct.length).toDouble / bigrams.length
    val topW = toks.groupBy(identity).values.map(_.length).max.toDouble / n
    (n, dupW, dupB, topW)
  }

  private def native(texts: Seq[String]) = {
    import spark.implicits._
    texts.toDF("text")
      .select(TextFunctions.repetitionStats(col("text")).as("r"))
      .select("r.n_tokens", "r.dup_word_frac", "r.dup_bigram_frac", "r.top_word_frac")
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
  }

  test("matches the independent model on crafted and random texts") {
    val crafted = Seq(
      "the the the the",                       // one word dominates everything
      "a b a b a b",                           // repeated bigrams
      "all words unique here now",             // no repetition
      "x",                                     // single token: no bigrams
      "",                                      // empty → [""] single token
      "   leading and trailing   ",            // edge whitespace
      "a\u0000b c\td\ne a\u0000b c\td",        // control chars + repeated pair
      "  \t\r\n ",                              // all whitespace → [""]
      "\u0000x\u001c x \u001f",                  // control-character edges
      "a\u00a0b a\u3000b a\u00a0b"                // NBSP / U+3000 are token chars
    )
    val rnd = new scala.util.Random(3)
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val random = (0 until 50).map(_ =>
      (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val texts = crafted ++ random
    val got = native(texts)
    texts.zip(got).foreach { case (t, (n, dw, db, tw)) =>
      val (en, edw, edb, etw) = model(t)
      assert((n, dw, db, tw) == ((en, edw, edb, etw)), s"mismatch for '$t'")
    }
  }

  test("null text propagates null struct") {
    val r = spark.sql("SELECT cast(null as string) AS text")
      .select(TextFunctions.repetitionStats(col("text")).as("r"))
      .collect()
    assert(r.head.isNullAt(0))
  }

  test("degenerate boilerplate scores high, diverse text scores low") {
    val Seq((_, dwBad, _, twBad), (_, dwGood, _, twGood)) = native(Seq(
      "buy now buy now buy now buy now buy now",
      "the quick brown fox jumps over a lazy dog")).toSeq
    assert(dwBad > 0.7 && twBad >= 0.4)
    assert(dwGood < 0.2 && twGood < 0.2)
  }
}
