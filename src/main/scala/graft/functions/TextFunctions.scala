package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale document pipelines.
  *
  * Everything here is built from `org.apache.spark.sql.functions` (codegen'd,
  * whole-stage-compatible) — no UDFs. Each function takes and returns
  * `Column`s so they compose into any plan and stay visible to Catalyst.
  */
object TextFunctions {

  /** Whitespace tokenization (the reference data is space-separated words;
    * for general text swap the pattern).
    *
    * Trims ALL `\s`-class whitespace before splitting (Spark's `trim` strips
    * spaces only — a trailing tab or newline would leave a trailing empty
    * token). The native expressions tokenize through `graft.plans.Tokens`,
    * whose byte runs split on the same `\s` class — NOT Java `String.trim`'s
    * control-character set — so this column form and the natives agree on
    * every edge. The trailing anchor is `\z`, not `$`: Java's `$` also
    * matches before a final line terminator (U+0085, U+2028, U+2029), so
    * `\s+$` would strip the whitespace before one and glue it to the last
    * token. `\z` keeps the plain maximal-run rule, which is also what the
    * DuckDB oracles' RE2 `$` means.
    */
  def tokens(text: Column): Column =
    split(regexp_replace(text, "^\\s+|\\s+\\z", ""), "\\s+")

  // Native one-pass counters (plans.TextExpressions.TokStats): the column
  // forms — size(tokens(text)) and length(regexp_replace(trim(text),
  // "\\s+", "")) — are kept below as the spec-pinned parity twins; the
  // shipped functions read both integers off one byte-level scan with no
  // regex and no token-array allocation (tokenCount is called per document
  // by every length gate, token budget and corpus card in the suite).
  def tokenCount(text: Column): Column =
    graft.plans.TextExpressions.tokStats(text).getField("ntok")

  /** `size(tokens(text))` — tokenCount's column-algebra parity twin. */
  def tokenCountColumns(text: Column): Column = size(tokens(text))

  /** Mean token length = chars-without-spaces / tokens. */
  def avgTokenLen(text: Column): Column = {
    val ts = graft.plans.TextExpressions.tokStats(text)
    round(ts.getField("nonspace").cast("double") / ts.getField("ntok"), 4)
  }

  /** avgTokenLen's column-algebra parity twin. */
  def avgTokenLenColumns(text: Column): Column =
    round(length(regexp_replace(trim(text), "\\s+", "")).cast("double") / tokenCountColumns(text), 4)

  /** BPE-ish pre-tokenization: lowercase runs, Capitalized runs, single
    * digits, single symbols — the GPT-2-style regex shape that approximates
    * subword token counts without a vocabulary. Shared Java/RE2 semantics so
    * the DuckDB oracle matches exactly.
    */
  val bpeishPattern = "[a-z]+|[A-Z][a-z]*|[0-9]|[^a-zA-Z0-9\\s]"

  // Native state machine, NOT the regex: the pattern is fixed and Java's
  // backtracking alternation made size(regexp_extract_all(...)) — and even
  // regexp_count — the slowest pure scan in the suite (1.7 s at sf1 for a
  // character classifier). See plans.TextExpressions.bpeishCount.
  def bpeishTokenCount(text: Column): Column =
    graft.plans.TextExpressions.bpeishCount(text)

  /** Default stopword list used by quality scoring and language ID. */
  val defaultStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Stopword density: native single-pass expression (the filter-HOF twin
    * below pays an interpreted traversal per row — same lesson as MinHash,
    * LangId and Fingerprint). Rounding stays in column algebra.
    */
  def stopwordRatio(text: Column, stopwords: Seq[String] = defaultStopwords): Column =
    round(graft.plans.TextExpressions.stopwordRatioRaw(text, stopwords), 4)

  /** Column-algebra twin of [[stopwordRatio]] (parity testing / fallback). */
  def stopwordRatioColumns(text: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val toks = tokens(text)
    round(size(filter(toks, t => t.isin(stopwords: _*))).cast("double") / size(toks), 4)
  }

  /** The 8 stop words of the Gopher rule "contains at least 2 of: the, be,
    * to, of, and, that, have, with" (Rae et al. 2021, §A1.1).
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher (MassiveText §A1.1) document-quality rule signals as a RAW
    * struct — `struct(n_tokens, mean_word_len, symbol_ratio,
    * alpha_word_frac, n_stop_distinct, bullet_line_frac,
    * ellipsis_line_frac)`. Native single-pass expression; alias it in one
    * select and extract/round fields in a SECOND select (the
    * [[repetitionStats]] pattern) so the document tokenizes once per row.
    */
  def gopherStats(text: Column): Column =
    graft.plans.TextExpressions.gopherStats(text)

  /** The Gopher quality GATE over a [[gopherStats]] struct — defaults are
    * the paper's published thresholds: 50 ≤ words ≤ 100k, mean word length
    * in [3,10], symbol-to-word ratio ≤ 0.1, ≥ 80% of words alphabetic,
    * ≥ 2 distinct stop words, ≤ 90% bullet-started lines, ≤ 30%
    * ellipsis-ended lines. Gate on the RAW struct (thresholds compare
    * exact IEEE divisions — identical cross-engine), never on rounded
    * display fields.
    */
  def gopherPass(stats: Column,
                 minWords: Int = 50, maxWords: Int = 100000,
                 minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                 maxSymbolRatio: Double = 0.1,
                 minAlphaFrac: Double = 0.8,
                 minStopwords: Int = 2,
                 maxBulletFrac: Double = 0.9,
                 maxEllipsisFrac: Double = 0.3): Column =
    stats.getField("n_tokens").between(minWords, maxWords) &&
      stats.getField("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
      stats.getField("symbol_ratio") <= maxSymbolRatio &&
      stats.getField("alpha_word_frac") >= minAlphaFrac &&
      stats.getField("n_stop_distinct") >= minStopwords &&
      stats.getField("bullet_line_frac") <= maxBulletFrac &&
      stats.getField("ellipsis_line_frac") <= maxEllipsisFrac

  /** Gopher-style repetition signals:
    * `struct(n_tokens, dup_word_frac, dup_bigram_frac, top_word_frac)` —
    * excess-duplication heuristics (duplicate words/bigrams, single-word
    * domination) used to filter boilerplate and degenerate text. Native
    * single-pass expression returning the RAW struct: alias it in one
    * select, extract/round fields in a SECOND select (the minhashState
    * pattern) — rebuilding a rounded struct inline would inline the
    * expression once per field and tokenize the document four times.
    */
  def repetitionStats(text: Column): Column =
    graft.plans.TextExpressions.repetitionStats(text)

  /** Composite quality score in [0,1]: half stopword density (capped), half
    * length saturation at 100 tokens — the cheap hygiene heuristics a pretraining
    * pipeline applies before expensive scoring. Native single-pass expression.
    */
  def qualityScore(text: Column): Column =
    round(graft.plans.TextExpressions.qualityScoreRaw(text), 4)

  /** Column-algebra twin of [[qualityScore]] (parity testing / fallback);
    * bit-identical output, but pays two interpreted `filter`/`size` HOFs.
    */
  def qualityScoreColumns(text: Column): Column = {
    val toks  = tokens(text)
    val nTok  = size(toks).cast("double")
    val stopR = size(filter(toks, t => t.isin(defaultStopwords: _*))).cast("double") / nTok
    round(least(stopR * 5.0, lit(1.0)) * 0.5 + least(nTok / 100.0, lit(1.0)) * 0.5, 4)
  }

  /** Canonical text normalization for pipeline ingest: Unicode NFC (native
    * expression — Spark has no built-in; the JDK and DuckDB's
    * `nfc_normalize` both implement UAX#15, so oracles can recompute it) →
    * lowercase → collapse `\s+` runs to single spaces → trim edges. Pure
    * per-row projection, no shuffle; run it BEFORE hashing/shingling so
    * visually-identical strings (composed vs decomposed accents, case,
    * whitespace style) dedup together instead of slipping past every
    * hash-based operator.
    */
  def normalizeText(text: Column, form: String = "NFC"): Column =
    graft.plans.TextExpressions.normalizeText(text, form)

  /** Column-algebra twin of [[normalizeText]] (parity testing / fallback);
    * bit-identical: BOTH paths share Spark's own `lower` (ICU-aware on
    * Spark 4) between NFC and the whitespace step, so only the
    * regexp-vs-one-pass collapse differs.
    */
  def normalizeTextColumns(text: Column, form: String = "NFC"): Column =
    trim(regexp_replace(lower(graft.plans.TextExpressions.unicodeNormalize(text, form)), "\\s+", " "))

  /** Compression-ratio quality signal (zlib level 6, rounded 4dp):
    * repetitive/templated text compresses far below natural prose — gate on
    * a low ratio to drop degenerate documents (the Gopher-style check).
    * Native one-pass expression; no SQL oracle exists (DuckDB has no
    * deflate), so the contract — ordering, determinism, null propagation —
    * is pinned in TextFunctionsSpec instead. Pair with a token-count floor:
    * below ~100 bytes the zlib envelope dominates (tiny fragments score
    * ABOVE 1.0, empty text exactly 1.0), so a low-ratio gate alone keeps
    * the shortest degenerate rows.
    */
  def compressionRatio(text: Column): Column =
    round(graft.plans.TextExpressions.compressionRatio(text), 4)

  /** URL extraction (shared Java/RE2 regex subset so DuckDB oracles match
    * exactly): all `http(s)://host[/path]` occurrences in a document. Pure
    * codegen'd regexp — zero shuffle, the scan-projection shape every other
    * text signal here has. Scheme matching is case-insensitive (HTTPS://
    * counts) via an inline (?i) group on the scheme only.
    */
  val urlPattern = "(?i:https?)://(?:[^/\\s]*@)?[A-Za-z0-9.-]+(?:/[^\\s]*)?"
  // host = dot-separated labels; the label structure (not a char class with
  // '.') means a trailing dot is NEVER captured — 'example.com.' extracts
  // 'example.com', so gates and per-domain stats can't be split or evaded
  // by punctuation after the host. An optional userinfo component
  // ('user:pass@') is skipped before the host capture — without it,
  // https://anything@bad.example.com would extract 'anything' as the
  // domain, letting the real host slip past the blocklist gate. The
  // userinfo class deliberately ALLOWS '@' ([^/\s]*, greedy): per
  // WHATWG/curl everything before the LAST '@' is userinfo, so
  // https://a@b@bad.example.com must still yield bad.example.com — with
  // '@' excluded from the class, a second '@' re-opened the evasion.
  private val urlDomainPattern =
    "(?i:https?)://(?:[^/\\s]*@)?([A-Za-z0-9-]+(?:\\.[A-Za-z0-9-]+)*)"

  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(urlPattern), lit(0))

  /** The lowercased domain of each URL occurrence in the text (one entry
    * per occurrence, order preserved — callers `array_distinct` for the
    * per-doc domain set). Lowercased because DNS is case-insensitive:
    * HTTPS://SITE.EXAMPLE.COM and https://site.example.com must hit the
    * same stats bucket and the same blocklist entry.
    */
  def urlDomains(text: Column): Column =
    transform(regexp_extract_all(text, lit(urlDomainPattern), lit(1)), d => lower(d))

  /** Tracking query parameters every crawl pipeline strips before URL-keyed
    * dedup: analytics decorations that make the same page infinite distinct
    * URLs. Shared list so the DuckDB oracle filters identically.
    */
  val trackingParamPattern: String =
    "^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref|ref_src)="

  /** Canonical form of a URL — the key for URL-level dedup of crawl
    * snapshots (the step BEFORE content dedup in the CommonCrawl-style
    * pipelines: the same page re-crawled under tracking decorations must
    * collapse without ever comparing bodies):
    *
    *  - fragment dropped (client-side only),
    *  - scheme + authority lowercased (DNS is case-insensitive; the PATH
    *    keeps its case — path case-sensitivity is server-defined),
    *  - default ports stripped (`http…:80`, `https…:443`),
    *  - tracking parameters removed ([[trackingParamPattern]]), remaining
    *    parameters kept IN ORDER (reordering is a semantic change for
    *    some endpoints; order-stable crawlers emit stable keys anyway),
    *  - a now-empty query loses its `?`.
    *
    * Native one-pass expression ([[graft.plans.UrlCanonical]]): the
    * column twin below is 6 regexp nodes + an interpreted filter(split)
    * HOF per row (measured 1.22 s → 0.5 s at sf10). The native pass runs
    * the twin's EXACT java.util.regex patterns, so parity is by
    * construction (UrlParitySpec pins it on adversarial inputs); the
    * DuckDB oracle recomputes the same patterns in RE2 (replacement
    * backrefs differ per engine — `$1` here, `\\1` there — but that's
    * each engine's own code, not shared pattern semantics).
    */
  def normalizeUrl(url: Column): Column =
    graft.plans.UrlExpressions.urlCanonical(url, trackingParamPattern)

  /** Column-algebra twin of [[normalizeUrl]] (parity pinned in
    * UrlParitySpec; kept as the executable spec of the canonical form).
    */
  def normalizeUrlColumns(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // scheme://authority prefix; empty when the string isn't URL-shaped
    val head = regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", 0)
    val rest = substring_index_tail(noFrag, head)
    val headCanon = regexp_replace(
      regexp_replace(lower(head), "^(http://[^/?#:]+):80$", "$1"),
      "^(https://[^/?#:]+):443$", "$1")
    val path = regexp_extract(rest, "^[^?]*", 0)
    val query = regexp_extract(rest, "^[^?]*\\?(.*)$", 1)
    val kept = filter(split(query, "&"),
      p => !p.rlike(trackingParamPattern) && p =!= "")
    val q2 = array_join(kept, "&")
    when(head === "", url) // not URL-shaped: pass through untouched
      .otherwise(concat(headCanon, path,
        when(q2 === "", lit("")).otherwise(concat(lit("?"), q2))))
  }

  /** `expr.substring(len(prefix)+1 …)` — the tail after a known prefix. */
  private def substring_index_tail(s: Column, prefix: Column): Column =
    s.substr(length(prefix) + 1, lit(Int.MaxValue))

  /** Keep only documents whose extracted domains are ALL outside
    * `blockedDomains` — the blocklist gate (a doc citing one bad domain
    * drops entirely, the conservative curation policy). A blocked domain
    * also blocks every SUBDOMAIN (evil.site.example.com falls to a
    * site.example.com entry) — exact-match-only gates are trivially evaded.
    * The exists() lambda is interpreted, but it runs over (domains ×
    * blocklist) per row — both small; for million-entry blocklists use an
    * anti-join on the exploded domains instead.
    */
  def domainGateCondition(text: Column, blockedDomains: Seq[String]): Column =
    domainGateOnDomains(urlDomains(text), blockedDomains)

  /** The same gate over an ALREADY-extracted domain array — use this when a
    * plan also needs the domains for stats, so the regexp scan runs once
    * (Filter and Project are separate operators; Catalyst does not share
    * subexpressions across them).
    */
  def domainGateOnDomains(domains: Column, blockedDomains: Seq[String]): Column = {
    require(blockedDomains.nonEmpty, "domainGate: empty blocklist — nothing to gate")
    val lowered = blockedDomains.map(_.toLowerCase)
    !exists(domains, d => lowered.map(b => d === b || d.endsWith("." + b)).reduce(_ || _))
  }

  /** N-gram-profile language ID heuristic: scores each candidate language by
    * marker-token hits and returns the argmax (ties → first in list). Marker
    * lists are deliberately tiny — this is the shape of a fasttext-style LID
    * stage with the model swapped for a fixture; the plan (scan → per-row
    * scoring → argmax, no shuffle) is the part that must hold at 100 TB.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "to"),
    "de" -> Seq("der", "die", "und", "das", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "una", "es"),
    "zh" -> Seq("的", "是", "在", "了", "和")
  )

  /** Language ID: native Catalyst expression (one tight per-row loop — the
    * interpreted-HOF twin below benchmarked ~3× slower per scan). Ties go to
    * the first language in sorted-code order; no marker hits → "und".
    */
  def langId(text: Column): Column = graft.plans.TextExpressions.langId(text)

  /** Column-algebra twin of [[langId]] (kept for parity testing and as the
    * no-custom-expression fallback). Same contract: argmax of marker-token
    * counts, ties → FIRST language in sorted-code order, zero hits → "und".
    */
  def langIdColumns(text: Column): Column = {
    val langs = langMarkers.toSeq.sortBy(_._1)
    // ONE pass over the tokens: per token a 5-element hit vector, summed into
    // an array accumulator (five separate filter() passes cost 5 interpreted
    // HOF traversals — same lesson as the MinHash rewrite).
    val counts = aggregate(
      tokens(text),
      array_repeat(lit(0), langs.size),
      (acc, t) => zip_with(acc,
        array(langs.map { case (_, markers) =>
          when(t.isin(markers: _*), 1).otherwise(0)
        }: _*),
        (a, b) => a + b))
    // Pair each count with the REVERSED language index so array_max's
    // lexicographic (score, ridx) order resolves score ties toward the
    // highest ridx = the FIRST language in sorted order.
    val scored = zip_with(counts, typedLit(langs.indices.map(i => langs.size - 1 - i)),
      (score, ridx) => struct(score.as("score"), ridx.as("ridx")))
    val best = array_max(scored)
    val reversedNames = typedLit(langs.map(_._1).reverse)
    when(best.getField("score") === 0, lit("und"))
      .otherwise(element_at(reversedNames, best.getField("ridx") + 1))
  }

  /** Order-sensitive ~62-bit document fingerprint: two independent polynomial
    * rolling hashes over the token-hash stream (Horner steps mod the Mersenne
    * prime 2^31-1 — all arithmetic < 2^62, safe under ANSI overflow checking),
    * packed into one long. Distinguishes permuted token orders, unlike
    * bag-of-words hashes. Native expression — one linear pass per row.
    */
  def fingerprint(text: Column): Column = graft.plans.TextExpressions.fingerprint(text)

  /** Column-algebra twin of [[fingerprint]] (parity testing / fallback);
    * bit-identical output, but pays two interpreted `aggregate` lanes.
    */
  def fingerprintColumns(text: Column): Column = {
    val P = graft.functions.HashFunctions.P
    val hashes = transform(tokens(text), t => pmod(xxhash64(t), lit(P)))
    def lane(mult: Long, init: Long): Column =
      aggregate(hashes, lit(init), (acc, h) => pmod(acc * lit(mult) + h, lit(P)))
    lane(31L, 17L) * lit(P) + lane(131L, 29L)
  }
}
