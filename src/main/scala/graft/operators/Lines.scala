package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Line-level corpus operations: global exact line deduplication and
  * per-line boilerplate filtering, with in-order document reassembly — the
  * C4/RefinedWeb-style cleaning step between raw ingest and document-level
  * dedup (navigation menus, cookie banners and licence footers repeat across
  * millions of pages and survive document-level dedup because the documents
  * AROUND them differ).
  *
  * The two operators have fundamentally different data-movement floors and
  * are shaped accordingly: [[filterLines]]'s keep-decision is a pure
  * per-document function, so it is a ZERO-shuffle scan projection (a
  * higher-order `filter` over `split(text)` — no line rows ever exist);
  * [[dedupLines]]'s decision is global (first occurrence corpus-wide), so it
  * must explode to `(doc, ordinal, line)` rows, shuffle them once keyed by
  * the line string for the first-occurrence window, and reassemble with one
  * `groupBy(id)` shuffle. Both dedup shuffles are linear in corpus size —
  * there is no pairwise comparison anywhere — and partition by the EXACT
  * line string, not a 64-bit hash, so there is no silent-collision class at
  * any corpus size (the same policy as Indexing.extractDiff).
  *
  * All non-text input columns ride along unchanged (the Chunking/Packing
  * contract).
  *
  * For [[dedupLines]], `idCol` is the document identity and must be UNIQUE
  * and NON-NULL: the reassembly `groupBy(id)` would silently merge
  * id-sharing rows into one interleaved document (and all NULL-id rows into
  * another) — same caller contract as [[Dedup.minhashIncremental]]'s
  * unique-id requirement. ([[filterLines]] never groups, so it has no such
  * requirement.)
  */
object Lines {

  private val OrdCol  = "__graft_ord"
  private val LineCol = "__graft_line"
  private val KeepCol = "__graft_keep"

  private def checkCols(df: DataFrame, idCol: String, textCol: String): Unit = {
    Seq(idCol, textCol).foreach(c => require(df.columns.contains(c),
      s"Lines: input has no '$c' column"))
    Seq("n_lines_kept", "n_lines_dropped", OrdCol, LineCol, KeepCol, "__graft_hadtext",
        "__graft_kept", "__graft_wasline").foreach(c =>
      require(!df.columns.contains(c),
        s"Lines: input already has a '$c' column — rename it first"))
  }

  private val HadTextCol = "__graft_hadtext"

  /** `(non-text input columns…, __graft_hadtext, __graft_ord, __graft_line)`
    * — one row per line. The original text column is DROPPED here, replaced
    * by a null-marker boolean: carrying the whole document body on every
    * exploded line row would multiply the line-partition shuffle volume by
    * the document length (lines × body width). Narrow metadata columns ride
    * along instead of paying a reassembly join; a caller with genuinely wide
    * metadata should pass `df.select(id, text)` and join the rest back.
    * `posexplode_outer` keeps NULL-text documents as a single NULL-line row
    * so they survive to reassembly (with NULL output text) instead of
    * vanishing.
    */
  private def explodeLines(df: DataFrame, textCol: String, sep: String): DataFrame =
    df.select(df.columns.filter(_ != textCol).map(col).toSeq ++ Seq(
      col(textCol).isNotNull.as(HadTextCol),
      posexplode_outer(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq(OrdCol, LineCol))): _*)

  private val WasLineCol = "__graft_wasline"

  /** Reassemble per-document text from marked line rows: keep lines where
    * `__graft_keep` (true only on real, surviving lines), join them back in
    * ordinal order, count kept/dropped via the `__graft_wasline` marker
    * (the line STRING of a dropped row has already been nulled out by the
    * caller — a loser's content never rides the reassembly exchange, only
    * its one-byte marker does; on boilerplate-heavy corpora most exploded
    * rows are losers, so this halves-or-better the second shuffle).
    * A document whose every line was dropped comes back with empty text
    * (not NULL); a NULL-text document stays NULL.
    */
  private def reassemble(marked: DataFrame, df: DataFrame,
                         idCol: String, textCol: String, sep: String): DataFrame = {
    val carried = df.columns.toSeq.filter(c => c != idCol && c != textCol).map(c =>
      first(col(c)).as(c))
    val aggs = carried ++ Seq(
      first(col(HadTextCol)).as(HadTextCol),
      // collect_list skips NULLs, so the when() keeps only surviving lines;
      // array_sort on (ord, line) structs restores original order (ord is
      // unique per document, so the sort is total and deterministic).
      array_sort(collect_list(when(col(KeepCol),
        struct(col(OrdCol).as("o"), col(LineCol).as("l"))))).as("__graft_kept"),
      count(when(col(KeepCol), lit(1))).as("n_lines_kept"),
      count(when(!col(KeepCol) && col(WasLineCol), lit(1))).as("n_lines_dropped"))
    val out = marked.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .withColumn(textCol,
        when(col(HadTextCol),
          array_join(transform(col("__graft_kept"), x => x("l")), sep)))
    out.select(df.columns.map(col).toSeq ++
      Seq(col("n_lines_kept"), col("n_lines_dropped")): _*)
  }

  /** Global exact line deduplication with first-occurrence-wins policy: a
    * line survives iff no identical line exists in any document with a
    * smaller `(idCol, ordinal)` position. Returns the input frame with
    * `textCol` replaced by the deduplicated text plus
    * `n_lines_kept`/`n_lines_dropped` counts.
    *
    * Winner selection is a `row_number` window partitioned by the exact line
    * string ordered by `(id, ordinal)` — one linear shuffle keyed by line
    * content, deterministic at any parallelism, and collision-free (no
    * hashing). Loser rows are NOT pruned at the window (the dropped-count
    * needs them), but `row_number` is a running frame: WindowExec streams
    * each partition with constant state, so the corpus's most-repeated
    * boilerplate line costs a sort, never a buffer.
    *
    * (An aggregate-winners + join-back formulation was measured at sf10 and
    * LOST: min(struct) plans as SortAggregate — a map-side sort as costly
    * as the window's — and the join-back re-shuffles what the window marks
    * in place. 1.8 s window vs 6.7 s agg+join on 13.5M lines.)
    */
  def dedupLines(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 sep: String = "\n"): DataFrame = {
    checkCols(df, idCol, textCol)
    val lines = explodeLines(df, textCol, sep)
    val w = Window.partitionBy(col(LineCol)).orderBy(col(idCol), col(OrdCol))
    val marked = lines.withColumn(KeepCol,
      row_number().over(w) === 1 && col(LineCol).isNotNull)
    val nulled = marked
      .withColumn(WasLineCol, col(LineCol).isNotNull)
      // losers' content is dead weight from here on — see reassemble()
      .withColumn(LineCol, when(col(KeepCol), col(LineCol)))
    reassemble(nulled, df, idCol, textCol, sep)
  }

  /** Per-line predicate filter ("drop boilerplate lines"): keep each line
    * iff `keep(line)` is true (NULL predicate results drop the line —
    * filters are strict, as everywhere else in this API).
    *
    * ZERO shuffles, zero explode: unlike [[dedupLines]] the decision is a
    * pure per-document function, so the whole operator is one higher-order
    * `filter` over `split(text)` inside the scan projection — no line rows
    * ever exist, no reassembly aggregate, and the input's partitioning is
    * preserved untouched. (The round-12 sf10 bench caught the old
    * explode + groupBy-reassembly shape spending its 25 s shuffling 13.5M
    * line rows to compute what a projection computes in place.) `idCol`
    * need not be unique here — it is only validated for API symmetry with
    * [[dedupLines]].
    */
  def filterLines(df: DataFrame, keep: Column => Column,
                  idCol: String = "doc_id", textCol: String = "text",
                  sep: String = "\n"): DataFrame = {
    checkCols(df, idCol, textCol)
    val arr  = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val kept = filter(arr, l => coalesce(keep(l), lit(false)))
    val replaced = df.columns.toSeq.map {
      case c if c == textCol => array_join(kept, sep).as(textCol)
      case c                 => col(c)
    }
    // size() on the NULL-text arrays yields NULL under Spark's default
    // sizeOfNull=false; the explicit when() pins the (NULL text -> 0, 0)
    // count contract. Counts stay LongType (the old aggregate's count()
    // type), so downstream schemas are unchanged.
    df.select(replaced ++ Seq(
      when(col(textCol).isNull, lit(0L))
        .otherwise(size(kept).cast("long")).as("n_lines_kept"),
      when(col(textCol).isNull, lit(0L))
        .otherwise((size(arr) - size(kept)).cast("long")).as("n_lines_dropped")): _*)
  }

  /** [[filterLines]] with the keep-predicate given as declarative
    * [[graft.plans.FilterLines.LineRules]] (the C4-style length / blocklist
    * / end-punctuation algebra) and evaluated by the native one-pass
    * expression instead of a higher-order lambda. Identical output contract
    * and plan shape (zero-shuffle scan projection) — what changes is the
    * per-line cost: Spark evaluates HOF lambdas INTERPRETED per element
    * (boxing + expression-tree dispatch for every line), a constant-factor
    * drag the r13 bench measured at 2.1× on q_line_filter; the native scan
    * does split→predicate→rejoin in one byte pass inside codegen.
    * [[rulesPredicate]] is the column-algebra twin of the same rules
    * (parity pinned in LinesSpec); predicates outside the rules algebra
    * use [[filterLines]].
    */
  def filterLinesFast(df: DataFrame, rules: graft.plans.FilterLines.LineRules,
                      idCol: String = "doc_id", textCol: String = "text",
                      sep: String = "\n"): DataFrame = {
    checkCols(df, idCol, textCol)
    require(!df.columns.contains("__graft_flt"),
      "Lines: input already has a '__graft_flt' column — rename it first")
    val st = graft.plans.TextExpressions.filterLines(col(textCol), sep, rules)
    // struct aliased in one select, fields extracted in a second, so the
    // non-cheap expression is never inlined per consumer (the PiiStats /
    // q_text_repetition pattern — CollapseProject keeps the two Projects
    // apart for non-cheap expressions; plan pinned in PlanPropertiesSpec)
    val replaced = df.columns.toSeq.map {
      case c if c == textCol => col("__graft_flt.text").as(textCol)
      case c                 => col(c)
    }
    df.select(df.columns.map(col).toSeq :+ st.as("__graft_flt"): _*)
      .select(replaced ++ Seq(
        coalesce(col("__graft_flt.n_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("__graft_flt.n_dropped"), lit(0L)).as("n_lines_dropped")): _*)
  }

  /** Column-algebra twin of [[filterLinesFast]]'s rules — a keep-predicate
    * for [[filterLines]] computing exactly what the native expression
    * computes (LinesSpec pins the parity): code-point length bounds,
    * ASCII-`\s` token-run count, ASCII-boundary word blocklist, literal
    * substring blocklist, terminal-punctuation requirement.
    */
  def rulesPredicate(rules: graft.plans.FilterLines.LineRules): Column => Column = l => {
    val cp = length(l)
    val toks = size(filter(split(l, "\\s+"), x => x =!= lit("")))
    // ASCII lookarounds and \z, not \b/$: Java's \b treats non-ASCII
    // letters as word chars (native uses ASCII byte boundaries — 'thé'
    // would hide blockWord 'the' from \b only) and $ matches before a
    // trailing \r where the native checks the literal last byte.
    val conds = Seq(cp >= rules.minChars, cp <= rules.maxChars, toks >= rules.minTokens) ++
      rules.blockWords.map(wd =>
        !l.rlike("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(wd) +
          "(?![A-Za-z0-9_])")) ++
      rules.blockSubstrings.map(sb => !l.contains(lit(sb))) ++
      (if (rules.requireEndPunct) Seq(l.rlike("[.!?\"]\\z")) else Nil)
    conds.reduce(_ && _)
  }
}
