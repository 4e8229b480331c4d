package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, "the quick brown fox and the lazy dog"),
    (2L, "  spaced   out   tokens  "),
    (3L, "der hund und die katze und das haus nicht"),
    (4L, "le chat et la maison et les arbres des champs"),
    (5L, "xyzzy plugh") // no markers in any language
  ).toDF("doc_id", "text")

  test("token count handles repeated whitespace and trimming") {
    val out = df.select($"doc_id", TextFunctions.tokenCount($"text").as("n"))
      .orderBy("doc_id").collect().map(_.getInt(1)).toSeq
    assert(out == Seq(8, 3, 9, 10, 2))
  }

  test("avg token length") {
    val v = df.filter($"doc_id" === 2L)
      .select(TextFunctions.avgTokenLen($"text")).head().getDouble(0)
    assert(math.abs(v - (6 + 3 + 6) / 3.0) < 0.0001) // "spaced","out","tokens"
  }

  test("language ID picks the language with most marker hits; und fallback") {
    val out = df.select($"doc_id", TextFunctions.langId($"text").as("lang"))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(out == Seq("en", "und", "de", "fr", "und"))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val fp = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "alpha beta gamma"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(3L))
    assert(fp(1L) != fp(2L))
  }

  test("langId ties break to the first language in sorted-code order") {
    // "der" scores de=1, "the" scores en=1 → tie → "de" (first in sorted order)
    val out = Seq((1L, "der the"), (2L, "the le"), (3L, "le el"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextFunctions.langId($"text").as("lang"))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(out == Seq("de", "en", "es"))
  }

  test("native langId matches the column-algebra twin") {
    val tied = Seq((100L, "der the"), (101L, "le el"), (102L, "")).toDF("doc_id", "text")
    val both = df.union(tied).select(
        TextFunctions.langId($"text").as("native"),
        TextFunctions.langIdColumns($"text").as("cols"))
      .collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1), r.toString))
  }

  test("native fingerprint matches the column-algebra twin") {
    val both = df.select(
        TextFunctions.fingerprint($"text").as("native"),
        TextFunctions.fingerprintColumns($"text").as("cols"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("quality score is within [0,1] and rewards stopword-bearing text") {
    val q = df.select($"doc_id", TextFunctions.qualityScore($"text").as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(1L) > q(5L))
  }

  // Edge fixtures for the native-vs-twin parity tests: control characters
  // <= U+0020 OUTSIDE the \s class (NUL = \u0000, file/unit separators =
  // \u001c/\u001f) at the string edges — Java String.trim strips them while
  // regex \s does not, the exact divergence a trim-based native tokenizer
  // would hide on clean text fixtures.
  private lazy val edgy = Seq(
    (200L, "\u0000the quick fox\u001c"),
    (201L, "\t der \n the \r"),
    (202L, ""),
    (203L, "   "),
    (204L, "\u001fder\u0000 the"),
    (205L, "\u00a0the\u3000 der \u2028")   // Unicode spaces outside \s are token chars
  ).toDF("doc_id", "text")

  test("native quality/stopword-ratio match the column-algebra twins (incl. control chars)") {
    val both = df.union(edgy).select(
        TextFunctions.qualityScore($"text").as("nq"),
        TextFunctions.qualityScoreColumns($"text").as("cq"),
        TextFunctions.stopwordRatio($"text").as("nr"),
        TextFunctions.stopwordRatioColumns($"text").as("cr"))
      .collect()
    both.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1), s"quality: $r")
      assert(r.getDouble(2) == r.getDouble(3), s"ratio: $r")
    }
  }

  test("native langId/fingerprint match twins on control-character edges") {
    val both = edgy.select(
        TextFunctions.langId($"text").as("nl"),
        TextFunctions.langIdColumns($"text").as("cl"),
        TextFunctions.fingerprint($"text").as("nf"),
        TextFunctions.fingerprintColumns($"text").as("cf"))
      .collect()
    both.foreach { r =>
      assert(r.getString(0) == r.getString(1), s"langId: $r")
      assert(r.getLong(2) == r.getLong(3), s"fingerprint: $r")
    }
  }

  test("null text propagates null through native quality/ratio") {
    val out = Seq((1L, Option.empty[String]), (2L, Some("the fox")))
      .toDF("doc_id", "text")
      .select(TextFunctions.qualityScore($"text"), TextFunctions.stopwordRatio($"text"),
              TextFunctions.langId($"text"))
      .orderBy(lit(1)).collect()
    assert(out.exists(r => r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2)))
  }

  test("unicodeNormalize: NFC composes, NFKC folds compatibility forms, idempotent, null-safe") {
    import graft.plans.TextExpressions
    val rows = Seq(
      (1L, Some("cafe\u0301")),          // decomposed e + combining acute
      (2L, Some("caf\u00e9")),           // already composed — fast path
      (3L, Some("\ufb01le")),            // NFKC: fi-ligature folds to "fi"; NFC keeps it
      (4L, None: Option[String])
    ).toDF("doc_id", "text")
    val out = rows.select(
        TextExpressions.unicodeNormalize($"text").as("nfc"),
        TextExpressions.unicodeNormalize($"text", "NFKC").as("nfkc"))
      .orderBy(rows("doc_id")).collect()
    assert(out(0).getString(0) == "caf\u00e9" && out(0).getString(1) == "caf\u00e9")
    assert(out(1).getString(0) == "caf\u00e9")
    assert(out(2).getString(0) == "\ufb01le" && out(2).getString(1) == "file")
    assert(out(3).isNullAt(0) && out(3).isNullAt(1))
    // idempotent: normalizing the normalized output changes nothing
    val twice = rows.filter($"text".isNotNull).select(
      (TextExpressions.unicodeNormalize(TextExpressions.unicodeNormalize($"text"))
        === TextExpressions.unicodeNormalize($"text")).as("eq")).collect()
    assert(twice.forall(_.getBoolean(0)))
    intercept[IllegalArgumentException] {
      TextExpressions.unicodeNormalize(lit("x"), "NFX")
    }
  }

  test("normalizeText: NFC + lowercase + whitespace collapse + trim, so variants hash identically") {
    val rows = Seq(
      (1L, "  The   QUICK\tFox "),
      (2L, "the quick fox"),
      (3L, "Cafe\u0301  MENU"),
      (4L, "caf\u00e9 menu")
    ).toDF("doc_id", "text")
    val out = rows.select(TextFunctions.normalizeText($"text").as("n"))
      .orderBy(rows("doc_id")).collect().map(_.getString(0)).toSeq
    assert(out(0) == "the quick fox" && out(0) == out(1))
    assert(out(2) == "caf\u00e9 menu" && out(2) == out(3))
  }

  test("native NormalizeText matches the column chain bit-for-bit on edge inputs") {
    val edge = Seq(
      Some("  The   QUICK\tFox "),
      Some("Cafe\u0301  MENU"),        // decomposed accent + case
      Some("caf\u00e9 menu"),
      Some(""),
      Some("   \t\n  "),              // all whitespace
      Some("a\u0000b  C"),             // NUL is NOT \s — stays inside a token
      Some("STRA\u00dfE"),             // sharp s lowercase mapping
      Some("\u0130stanbul"),           // dotted capital I (locale trap)
      None
    ).toDF("text")
    val rows = edge.select(
        TextFunctions.normalizeText($"text").as("native"),
        TextFunctions.normalizeTextColumns($"text").as("cols"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getString(0) == r.getString(1), s"diverged: $r")
    }
  }

  test("compressionRatio: repetitive << prose << random; deterministic; null/empty edges") {
    val rnd = new scala.util.Random(11)
    val repetitive = ("spam " * 200).trim
    val prose = "the quick brown fox jumps over the lazy dog and then wanders " * 12
    val random = Seq.fill(1000)(('a' + rnd.nextInt(26)).toChar).mkString
    val df = Seq(
      (1L, Some(repetitive)), (2L, Some(prose)), (3L, Some(random)),
      (4L, Some("")), (5L, None: Option[String])
    ).toDF("id", "text")
    val out = df.select($"id", TextFunctions.compressionRatio($"text").as("r"))
      .orderBy("id").collect()
    val rRep = out(0).getDouble(1); val rProse = out(1).getDouble(1); val rRand = out(2).getDouble(1)
    assert(rRep < rProse && rProse < rRand, s"ordering violated: $rRep $rProse $rRand")
    assert(rRep < 0.1 && rRand > 0.5)
    assert(out(3).getDouble(1) == 1.0) // empty text: nothing saved
    assert(out(4).isNullAt(1))
    // deterministic under repartitioning (thread-local deflater state resets)
    val again = df.repartition(5)
      .select($"id", TextFunctions.compressionRatio($"text").as("r"))
      .orderBy("id").collect().map(r => if (r.isNullAt(1)) -1.0 else r.getDouble(1)).toSeq
    assert(again == out.map(r => if (r.isNullAt(1)) -1.0 else r.getDouble(1)).toSeq)
  }

  test("native bpeish count matches the regex formulation on every alternation edge") {
    // The native state machine replaces regexp_count on a FIXED pattern;
    // parity must hold on the branch boundaries: CamelCase ([A-Z][a-z]*),
    // digit runs ([0-9] matches ONE digit each), ASCII-only \s (NBSP is a
    // symbol token), surrogate pairs (one [^...] match, not two).
    val df = Seq(
      (1L, Some("plain lower words")),
      (2L, Some("CamelCaseAndABBRev")),
      (3L, Some("digits 12345 mix3d")),
      (4L, Some("punct!... and,separators;")),
      (5L, Some("nbsp separated")),        // U+00A0: NOT Java \s → symbol token
      (6L, Some("emoji 😀 pair")),    // surrogate pair: ONE token
      (7L, Some("\t \n\f\r")),            // all skip chars: zero tokens
      (8L, Some("")),
      (9L, None: Option[String])
    ).toDF("id", "text")
    val out = df.select($"id",
        TextFunctions.bpeishTokenCount($"text").as("native"),
        regexp_count($"text", lit(TextFunctions.bpeishPattern)).as("regex"))
      .orderBy("id").collect()
    for (r <- out if !r.isNullAt(1) || !r.isNullAt(2))
      assert(r.getInt(1) == r.getInt(2), s"row ${r.getLong(0)}: native ${r.get(1)} != regex ${r.get(2)}")
    assert(out(8).isNullAt(1) && out(8).isNullAt(2)) // null propagates on both
    // spot-check absolute values so BOTH formulations can't drift together
    val byId = out.filter(!_.isNullAt(1)).map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byId(2L) == 7)  // Camel|Case|And|A|B|B|Rev — [A-Z][a-z]* takes ONE capital each
    assert(byId(3L) == 9)  // digits | 1|2|3|4|5 (one per digit) | mix|3|d
    assert(byId(5L) == 3)  // nbsp | U+00A0 symbol | separated
    assert(byId(6L) == 3)  // "emoji", the emoji (one code point), "pair"
    assert(byId(7L) == 0)
  }

  test("URL extraction, domains, and blocklist gate (incl. evasion edges)") {
    val df = Seq(
      (1L, Some("read https://good.example.com/a and http://bad.example.com/x?q=1 today")),
      (2L, Some("no links here")),
      (3L, Some("dup https://good.example.com/a https://good.example.com/b")),
      (4L, None: Option[String]),
      (5L, Some("sentence ends https://bad.example.com. next")),      // trailing dot
      (6L, Some("sub https://evil.bad.example.com/x")),               // subdomain
      (7L, Some("caps HTTPS://BAD.EXAMPLE.COM/z")),                   // case
      (8L, Some("auth https://anything@bad.example.com/x")),          // userinfo
      (9L, Some("evade https://a@b@bad.example.com/x"))               // double-@: host is after the LAST @
    ).toDF("id", "text")
    val urls = df.select($"id", TextFunctions.extractUrls($"text").as("u"))
      .orderBy("id").collect()
    assert(urls(0).getSeq[String](1) ==
      Seq("https://good.example.com/a", "http://bad.example.com/x?q=1"))
    assert(urls(1).getSeq[String](1).isEmpty)
    assert(urls(3).isNullAt(1))
    // the userinfo-form URL extracts in full, not truncated at the '@'
    assert(urls(7).getSeq[String](1) == Seq("https://anything@bad.example.com/x"))
    val doms = df.select($"id", TextFunctions.urlDomains($"text").as("d"))
      .orderBy("id").collect()
    assert(doms(0).getSeq[String](1) == Seq("good.example.com", "bad.example.com"))
    assert(doms(2).getSeq[String](1) == Seq("good.example.com", "good.example.com"))
    // trailing punctuation never joins the captured host; hosts lowercase
    assert(doms(4).getSeq[String](1) == Seq("bad.example.com"))
    assert(doms(6).getSeq[String](1) == Seq("bad.example.com"))
    // userinfo is skipped — the REAL host is captured, not 'anything'
    // (advisory regression: the gate was evadable via user@host URLs);
    // a SECOND '@' must not re-open it (everything before the LAST '@'
    // is userinfo per WHATWG/curl — review regression)
    assert(doms(7).getSeq[String](1) == Seq("bad.example.com"))
    assert(doms(8).getSeq[String](1) == Seq("bad.example.com"))
    val kept = df.filter(TextFunctions.domainGateCondition($"text", Seq("bad.example.com")))
      .select("id").as[Long].collect().toSet
    // exact cite (1), trailing-dot (5), subdomain (6), uppercase (7),
    // userinfo-form (8) and double-@ (9) all drop; NULL never passes
    assert(kept == Set(2L, 3L))
    intercept[IllegalArgumentException] {
      TextFunctions.domainGateCondition($"text", Seq())
    }
  }
  test("normalizeUrl: case, ports, fragments, tracking params — and what survives") {
    def n(u: String): String = Seq(Tuple1(u)).toDF("u")
      .select(TextFunctions.normalizeUrl($"u")).head().getString(0)
    // the full decoration kit collapses
    assert(n("HTTPS://Site1.Example.COM:443/Path/2?utm_source=x&id=3&fbclid=c9#frag")
      == "https://site1.example.com/Path/2?id=3")
    // http default port; PATH case preserved (server-defined)
    assert(n("HTTP://Host.COM:80/CaseSensitive") == "http://host.com/CaseSensitive")
    // non-default port survives
    assert(n("http://host.com:8080/a") == "http://host.com:8080/a")
    // all params tracking -> the ? goes too
    assert(n("https://h.com/p?utm_source=a&utm_medium=b") == "https://h.com/p")
    // non-tracking params keep their ORDER
    assert(n("https://h.com/p?b=2&a=1") == "https://h.com/p?b=2&a=1")
    // utm-lookalike VALUE is not a param key
    assert(n("https://h.com/p?q=utm_source%3Dx") == "https://h.com/p?q=utm_source%3Dx")
    // not URL-shaped: untouched
    assert(n("not a url #tag") == "not a url #tag")
    // bare authority, no path
    assert(n("https://H.com") == "https://h.com")
  }

  test("native TokStats equals the column twins on every edge") {
    val cases: Seq[Option[String]] = Seq(
      Some("a b c"), Some(""), Some("   "), Some("\t\n\u000b\u000c\r"),
      Some("solo"), Some("  edge strip  "), Some("tab\tsep\nnewline mix"),
      Some("\u00fc\u00e9 \u00df"),          // multi-byte chars
      Some("\ud83d\ude00 \ud83d\udc4d"),   // astral (4-byte UTF-8)
      Some("a\u00a0b"),                       // NBSP is NOT Java \s
      Some("x " * 300 + "tail"), None)
    val df = cases.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
      .toDF("id", "text")
    val got = df.select($"id",
        TextFunctions.tokenCount($"text").as("n1"),
        TextFunctions.tokenCountColumns($"text").as("n2"),
        TextFunctions.avgTokenLen($"text").as("a1"),
        TextFunctions.avgTokenLenColumns($"text").as("a2"))
      .collect()
    got.foreach { r =>
      assert(r.get(1) == r.get(2), s"tokenCount diverges on id=${r.getLong(0)}: $r")
      assert(r.get(3) == r.get(4), s"avgTokenLen diverges on id=${r.getLong(0)}: $r")
    }
    // randomized sweep over a whitespace-rich alphabet
    val rnd = new scala.util.Random(3)
    val alpha = "ab \t\n\u00e9\u00a0."
    val rand = (0 until 300).map(i =>
      (i.toLong, Seq.fill(rnd.nextInt(40))(alpha(rnd.nextInt(alpha.length))).mkString))
      .toDF("id", "text")
    val bad = rand.select(
        TextFunctions.tokenCount($"text") === TextFunctions.tokenCountColumns($"text"),
        TextFunctions.avgTokenLen($"text") <=> TextFunctions.avgTokenLenColumns($"text"))
      .collect().count(r => !r.getBoolean(0) || !r.getBoolean(1))
    assert(bad == 0, s"$bad/300 randomized rows diverge")
  }
}
