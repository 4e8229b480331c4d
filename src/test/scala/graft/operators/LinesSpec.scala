package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LinesSpec extends SparkSpec {
  import spark.implicits._

  private def doc(id: Long, lines: String*): (Long, String) = (id, lines.mkString("\n"))

  test("dedupLines keeps the first occurrence globally, reassembles in order") {
    val df = Seq(
      doc(1L, "alpha", "boiler", "beta"),
      doc(2L, "boiler", "gamma"),
      doc(3L, "gamma", "boiler", "alpha", "delta")
    ).toDF("doc_id", "text")
    val out = Lines.dedupLines(df).orderBy("doc_id")
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "alpha\nboiler\nbeta", 3L, 0L)))
    assert(out(1) == ((2L, "gamma", 1L, 1L)))
    assert(out(2) == ((3L, "delta", 1L, 3L)))
  }

  test("dedupLines: first occurrence within one document wins over later ordinals") {
    val df = Seq(doc(5L, "x", "y", "x", "x")).toDF("doc_id", "text")
    val out = Lines.dedupLines(df)
      .select("text", "n_lines_kept", "n_lines_dropped")
      .as[(String, Long, Long)].head()
    assert(out == (("x\ny", 2L, 2L)))
  }

  test("dedupLines: doc losing every line comes back empty, not NULL; NULL text stays NULL") {
    val df = Seq(
      (1L, Some("same")),
      (2L, Some("same")),
      (3L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = Lines.dedupLines(df).orderBy("doc_id")
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, Option[String], Long, Long)].collect()
    assert(out(0) == ((1L, Some("same"), 1L, 0L)))
    assert(out(1) == ((2L, Some(""), 0L, 1L)))
    assert(out(2) == ((3L, None, 0L, 0L)))
  }

  test("dedupLines: empty-string lines dedup like any other line") {
    val df = Seq(doc(1L, "a", "", "b"), doc(2L, "", "c")).toDF("doc_id", "text")
    val out = Lines.dedupLines(df).orderBy("doc_id")
      .select("text", "n_lines_dropped").as[(String, Long)].collect()
    assert(out(0) == (("a\n\nb", 0L)))
    assert(out(1) == (("c", 1L)))
  }

  test("dedupLines preserves non-text columns and is deterministic under repartition") {
    val df = Seq((1L, "k\nv", "en"), (2L, "k\nw", "fr")).toDF("doc_id", "text", "lang")
    val out = Lines.dedupLines(df.repartition(7)).orderBy("doc_id")
      .select("lang", "text").as[(String, String)].collect()
    assert(out.toSeq == Seq(("en", "k\nv"), ("fr", "w")))
  }

  test("filterLines keeps predicate-true lines only; NULL predicate drops") {
    val df = Seq(
      doc(1L, "keep data here", "drop me", "more data"),
      (2L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Lines.filterLines(df, l => l.contains("data")).orderBy("doc_id")
      .select("text", "n_lines_kept", "n_lines_dropped")
      .as[(Option[String], Long, Long)].collect()
    assert(out(0) == ((Some("keep data here\nmore data"), 2L, 1L)))
    assert(out(1) == ((None, 0L, 0L)))
  }

  test("filterLines with always-false predicate empties the doc but keeps the row") {
    val df = Seq(doc(9L, "a", "b")).toDF("doc_id", "text")
    val out = Lines.filterLines(df, _ => lit(false))
      .select("text", "n_lines_kept", "n_lines_dropped")
      .as[(String, Long, Long)].head()
    assert(out == (("", 0L, 2L)))
  }

  test("custom separator is honored (quote-escaped, not a regex)") {
    val df = Seq((1L, "a.b|c.d|a.b")).toDF("doc_id", "text")
    val out = Lines.dedupLines(df, sep = "|").select("text").as[String].head()
    assert(out == "a.b|c.d")
  }

  test("column-collision and missing-column guards") {
    val df = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Lines.dedupLines(df.withColumn("n_lines_kept", lit(1)))
    }
    intercept[IllegalArgumentException] {
      Lines.filterLines(df, _ => lit(true), textCol = "nope")
    }
  }

  test("randomized parity with a sequential reference model (global first-occurrence policy)") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docs: Seq[(Long, String)] = (0L until 120L).map { i =>
      val nLines = 1 + rnd.nextInt(6)
      (i, Seq.fill(nLines)(vocab(rnd.nextInt(vocab.size))).mkString("\n"))
    }
    // Reference: iterate docs by id, lines by ordinal; a line survives iff
    // never encountered before (the earlier occurrence is the winner).
    val seen = scala.collection.mutable.Set[String]()
    val expected = docs.map { case (id, text) =>
      val lines = text.split("\n", -1).toSeq
      val kept = lines.filter(l => seen.add(l))
      (id, kept.mkString("\n"), kept.size.toLong, (lines.size - kept.size).toLong)
    }
    val out = Lines.dedupLines(docs.toDF("doc_id", "text").repartition(13))
      .orderBy("doc_id")
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == expected)
  }

  test("randomized filterLines parity with a sequential reference model") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("keep one", "drop two", "keep three", "drop four")
    val docs: Seq[(Long, String)] = (0L until 80L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString("\n"))
    }
    val expected = docs.map { case (id, text) =>
      val lines = text.split("\n", -1).toSeq
      val kept = lines.filter(_.startsWith("keep"))
      (id, kept.mkString("\n"), kept.size.toLong, (lines.size - kept.size).toLong)
    }
    val out = Lines.filterLines(docs.toDF("doc_id", "text").repartition(9),
        l => l.startsWith("keep"))
      .orderBy("doc_id")
      .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == expected)
  }

  // ---- filterLinesFast: native one-pass rules expression -------------------

  private def rules(minChars: Int = 0, maxChars: Int = Int.MaxValue, minTokens: Int = 0,
                    blockWords: Seq[String] = Nil, blockSubstrings: Seq[String] = Nil,
                    requireEndPunct: Boolean = false) =
    graft.plans.FilterLines.LineRules(minChars, maxChars, minTokens,
      blockWords, blockSubstrings, requireEndPunct)

  private def runBoth(docs: Seq[(Long, String)], r: graft.plans.FilterLines.LineRules,
                      sep: String = "\n") = {
    val df = docs.toDF("doc_id", "text")
    val fast = Lines.filterLinesFast(df, r, sep = sep)
      .orderBy("doc_id").select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    val hof = Lines.filterLines(df, Lines.rulesPredicate(r), sep = sep)
      .orderBy("doc_id").select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(fast == hof, s"native ≠ column twin for $r")
    fast
  }

  test("filterLinesFast: word blocklist is \\b-bounded (blocks 'the', not 'theory')") {
    val out = runBoth(
      Seq((1L, "the start\ntheory holds\nend of the line\nclean line")),
      rules(blockWords = Seq("the")))
    assert(out == Seq((1L, "theory holds\nclean line", 2L, 2L)))
  }

  test("filterLinesFast: length + token + end-punctuation rules; NULL text row survives") {
    val docs = Seq(
      (1L, "Too short.\nThis line is long enough to pass the gate.\nno terminal punct here\nOk."),
      (2L, null.asInstanceOf[String]))
    val df = docs.toDF("doc_id", "text")
    val out = Lines.filterLinesFast(df,
        rules(minChars = 12, minTokens = 3, requireEndPunct = true))
      .orderBy("doc_id").select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, "This line is long enough to pass the gate.", 1L, 3L),
      (2L, null, 0L, 0L)))
  }

  test("filterLinesFast: code-point lengths and blocklists are UTF-8 exact (non-BMP)") {
    // "😀😀😀" is 3 code points (12 UTF-8 bytes, 6 UTF-16 units): a
    // maxChars=3 gate must keep it; the substring blocklist must match the
    // multi-byte needle only on real occurrences.
    val out = runBoth(
      Seq((1L, "😀😀😀\nabcd\nnoise™here\nok")),
      rules(maxChars = 4, blockSubstrings = Seq("™")))
    assert(out == Seq((1L, "😀😀😀\nabcd\nok", 3L, 1L)))
  }

  test("filterLinesFast: empty input, trailing separators, multi-char separator") {
    // empty text is ONE empty line (split artifact both paths share)
    assert(runBoth(Seq((1L, "")), rules()) == Seq((1L, "", 1L, 0L)))
    assert(runBoth(Seq((1L, "")), rules(minChars = 1)) == Seq((1L, "", 0L, 1L)))
    // trailing separators yield empty segments that the rules see
    assert(runBoth(Seq((1L, "ab\n\n")), rules(minChars = 1)) == Seq((1L, "ab", 1L, 2L)))
    // multi-char literal separator (no regex interpretation)
    assert(runBoth(Seq((1L, "keep||drop me||keep2")), rules(blockWords = Seq("drop")),
      sep = "||") == Seq((1L, "keep||keep2", 2L, 1L)))
  }

  test("filterLinesFast randomized parity against the column-twin predicate") {
    val rnd = new scala.util.Random(29)
    // 'thé'/'spamé'/'éx': non-ASCII letters ABUTTING block-word needles —
    // Java \b would treat é as a word char and miss the boundary the
    // native ASCII scanner (and RE2 oracle) sees; 'ok.\r' ends a line in
    // \r, where Java $ matches before the terminator but \z and the
    // native last-byte check do not.
    val words = Vector("the", "quick", "brown", "fox", "spam", "x", "théâtre", "ok.", "",
      "thé", "spamé", "éx", "éthe", "ok.\r")
    val docs: Seq[(Long, String)] = (0L until 150L).map { i =>
      val nLines = rnd.nextInt(6)
      val lines = Seq.fill(nLines)(
        Seq.fill(rnd.nextInt(5))(words(rnd.nextInt(words.size))).mkString(" "))
      (i, lines.mkString("\n"))
    }
    runBoth(docs, rules(minChars = 2, maxChars = 18, minTokens = 1,
      blockWords = Seq("spam", "x"), blockSubstrings = Seq("théâ")))
    runBoth(docs, rules(requireEndPunct = true))
    runBoth(docs, rules(minTokens = 2, blockWords = Seq("the")))
  }

  test("LineRules validation: non-ASCII or empty block words rejected") {
    intercept[IllegalArgumentException](rules(blockWords = Seq("café")))
    intercept[IllegalArgumentException](rules(blockWords = Seq("")))
    intercept[IllegalArgumentException](rules(blockWords = Seq("two words")))
    intercept[IllegalArgumentException](rules(blockSubstrings = Seq("")))
    intercept[IllegalArgumentException](rules(minChars = 5, maxChars = 4))
  }
}
