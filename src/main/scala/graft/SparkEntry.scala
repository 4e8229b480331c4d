package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api._
import graft.Artifact._

/** The registered query surface — see SURVEY.md §2 for the operator inventory.
  *
  * It is one registry: each entry ([[Q]]) declares a
  * query's name once, with its DuckDB oracle beside its plan and the stored
  * [[Artifact]]s the plan reads. [[queries]], [[oracleSql]] and
  * [[prewarmStoredArtifacts]] are derived from it. Every query is an
  * operator from the inventory expressed through the graft library; those
  * with an oracle are hash-checked against DuckDB (Verify, then
  * tools/check.py). Column names are aliased identically on both sides
  * (the compare sorts columns by name).
  */
object SparkEntry {

  /** One registered query: its name, its DuckDB twin (None = rows-only:
    * not SQL-expressible, e.g. xxhash64 LSH or approximate sketches), the
    * stored artifacts its plan fetches, and the plan itself. */
  private[graft] final case class Q(name: String, oracle: Option[String] = None,
                                    needs: Set[Artifact[_]] = Set.empty)(
                                    val plan: (SparkSession, String) => DataFrame)

  /** Total-order presentation sort for an oracle dump whose upstream is an
    * expensive post-shuffle pipeline. A bare trailing `orderBy` plans a
    * range exchange whose BOUNDARY SAMPLING job re-executes everything
    * above the last shuffle — for the sessionize window or the diff join
    * that sampling pass costs as much as the query itself (q_sessionize
    * measured 1.65 s with orderBy vs 1.02 s without the re-execution, same
    * window, sf10; an explicit repartition barrier under the sort doesn't
    * help — adjacent exchanges collapse). The r19 form —
    * `repartition(1).sortWithinPartitions` — killed the re-execution but
    * serialized the sort into ONE task, and three call sites produce
    * sf-SCALED outputs (one row per session / per no-order customer / per
    * purchase — ~17M rows for q_asof_bucketed at sf100), where a
    * single-task sort is itself the 100× scale-killer. This form keeps
    * both properties: `localCheckpoint` (eager) materializes the pipeline
    * output once in executor-local storage, so the range sampler reads
    * cheap materialized partitions instead of re-executing the pipeline,
    * and the `orderBy` stays a PARALLEL range sort. The checkpointed
    * blocks are released by the ContextCleaner once the frame is GC'd.
    * The sort is presentation formatting for the row-order-sensitive
    * oracle compare — a production pipeline would drop it entirely.
    */
  private def presentationSort(df: DataFrame, cols: String*): DataFrame =
    df.localCheckpoint().orderBy(cols.head, cols.tail: _*)

  /** Flagship on sf0.001 (dir overridable — ADVICE r20: Smoke's dir
    * override must reach the query, not only the session tuning): filter +
    * three-hop broadcast join + aggregation + order — revenue per
    * region/market-segment over the full star schema.
    */
  def entry(spark: SparkSession, dir: String = "/root/testdata/sf0.001"): DataFrame = {
    def t(n: String) = Tables.load(spark, dir, n)
    t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t("customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t("nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t("region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("c_mktsegment"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        countDistinct(col("o_orderkey")).as("order_cnt"))
      .orderBy(col("r_name"), col("c_mktsegment"))
  }

  private val pageCursor = Cursor.encode(Cursor("c_name", "Customer#000000299", "299"))

  /** The TPC-H Q1 aggregate — ONE definition for the raw row and its
    * sorted-layout twin: the pair is hash-certified against the SAME DuckDB
    * twin, so a fix applied to one but not the other would silently make
    * the two registered rows compute different things. */
  private def pricingAgg(lineitem: DataFrame): DataFrame = lineitem
    .groupBy("l_returnflag", "l_linestatus")
    .agg(
      plans.Decimal128.sumMoney(col("l_quantity")).as("sum_qty"),
      plans.Decimal128.sumMoney(col("l_extendedprice")).as("sum_base_price"),
      plans.Decimal128.sum128(
        plans.Decimal128.mul(
          plans.Decimal128.scaled(col("l_extendedprice"), 2),
          lit(10000L) - plans.Decimal128.scaled(col("l_discount"), 4)), 6)
        .as("sum_disc_price"),
      count(lit(1)).as("count_order"))
    .orderBy("l_returnflag", "l_linestatus")

  /** The ROLLUP shape — ONE definition for the raw row and its sorted-
    * layout twin (same drift argument as [[pricingAgg]]). */
  private def rollupShape(lineitem: DataFrame): DataFrame = lineitem
    .rollup("l_returnflag", "l_linestatus")
    .agg(plans.Decimal128.sumMoney(col("l_quantity")).as("sum_qty"),
         count(lit(1)).as("cnt"),
         grouping(col("l_returnflag")).as("g1"),
         grouping(col("l_linestatus")).as("g2"))
    .select(
      when(col("g1") === 1, lit("(all)"))
        .otherwise(coalesce(col("l_returnflag"), lit("(null)"))).as("returnflag"),
      when(col("g2") === 1, lit("(all)"))
        .otherwise(coalesce(col("l_linestatus"), lit("(null)"))).as("linestatus"),
      col("sum_qty"), col("cnt"))
    .orderBy("returnflag", "linestatus")

  /** The deterministic HTML page q_html_extract / q_pipeline_html plant
    * around each document (both DuckDB oracles concatenate the identical
    * page in SQL): title/nav boilerplate, the full text as a content
    * paragraph, a link-led and a doc_id-length-varied paragraph (keep
    * decisions vary per doc), a script with a literal '<', comment junk
    * wrapping a fake block tag, and a link-only footer.
    */
  private def plantedHtmlPage: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>p{margin:0}</style></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/about\">About us</a> <a href=\"/contact\">Contact</a></nav>"),
      lit("<h1>Doc "), id, lit("</h1>"),
      lit("<div><p>"), col("text"), lit("</p>"),
      lit("<p><a href=\"/ref\">"), substring(col("text"), 1, 20), lit("</a> "),
      expr("substr(text, 21, CAST(doc_id % 40 AS INT))"), lit("</p>"),
      lit("<p>"), expr("substr(text, 1, CAST(doc_id % 60 AS INT))"), lit("</p></div>"),
      lit("<script>var t = \"x < y\";</script><!-- junk <p>hidden</p> -->"),
      lit("<footer><a href=\"/terms\">Terms</a> <a href=\"/privacy\">Privacy</a></footer></body></html>"))
  }

  /** The ranked batch-ANN frame: every 100th vector queries the corpus,
    * `topK` returns each query's (query_id, vec_id, score) hits, and the
    * hits are ranked per query by (score desc, vec_id). Output is rank-only
    * (like q_ann_bruteforce): ranks compare across engines, raw cosine
    * floats don't. */
  private def rankedBatchAnn(emb: DataFrame)(topK: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), col("vec_id"))
    topK(queries)
      .withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "vec_id")
      .orderBy("query_id", "rank")
  }

  // DuckDB twins shared by several rows: one string per certified group,
  // zero drift surface. A *_sorted or *_bucketed row's twin IS its raw
  // row's twin: the layout rewrite is row-preserving, so identical hashes
  // certify both the operator and the rewrite.
  private val PricingTwinSql =
    """SELECT l_returnflag, l_linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""
  private val TopcustTwinSql =
    """SELECT c_custkey, c_name,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                COUNT(*) AS order_cnt
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 10"""
  private val RollupTwinSql =
    """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN '(all)'
                     ELSE coalesce(l_returnflag, '(null)') END AS returnflag,
                CASE WHEN GROUPING(l_linestatus) = 1 THEN '(all)'
                     ELSE coalesce(l_linestatus, '(null)') END AS linestatus,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                COUNT(*) AS cnt
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus"""
  private val AntiJoinTwinSql =
    """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
         ORDER BY c_custkey"""
  private val SessionizeTwinSql =
    """WITH g AS (
           SELECT user_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
                       THEN 1 ELSE 0 END AS new_s
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         )
         SELECT user_id, COUNT(*) AS n_events, CAST(SUM(new_s) AS BIGINT) AS n_sessions
         FROM g GROUP BY user_id ORDER BY user_id"""
  // identical BM25 algebra: Lucene-smoothed idf, k1=1.2 b=0.75, per-term
  // weights cast to DECIMAL(18,6) before the sum (exact, order-free)
  private val Bm25TwinSql =
    """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
           FROM documents WHERE text IS NOT NULL),
         terms AS (SELECT doc_id, len(w) AS ntok, unnest(w) AS term FROM toks),
         tf AS (
           SELECT doc_id, term, count(*) AS n, any_value(ntok) AS ntok
           FROM terms WHERE term IN ('join', 'hash', 'row') GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         stats AS (
           SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM toks),
         scored AS (
           SELECT tf.doc_id,
                  CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * (n * (1.2 + 1.0))
                       / (n + 1.2 * (1.0 - 0.75 + 0.75 * ntok / avgdl))
                       AS DECIMAL(18,6)) AS w
           FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
         SELECT doc_id, CAST(SUM(w) AS DOUBLE) AS score, count(*) AS n_terms
         FROM scored GROUP BY doc_id
         ORDER BY score DESC, doc_id"""
  // exact batch retrieval: every 100th vector's top-5 by (cosine desc, vec_id)
  private val AnnBatchTwinSql =
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
         s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(e.embedding, q.qv) AS s
               FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         r AS (SELECT query_id, vec_id,
                      CAST(row_number() OVER (PARTITION BY query_id ORDER BY s DESC, vec_id) AS INTEGER) AS rank
               FROM s)
         SELECT query_id, rank, vec_id FROM r WHERE rank <= 5 ORDER BY query_id, rank"""

  /** Every registered query, each declared once. Lazy, so the shared
    * twins and helpers above are initialized before any entry reads them. */
  private[graft] lazy val registry: Seq[Q] = Seq(
    // ---- query core (SURVEY §2 #4-#11, #18) ------------------------------
    // Note: lineitem's composite key is non-unique in the synthetic data, so
    // row-ordered pages use tables with unique keys; lineitem is covered by
    // aggregate and join queries (order-insensitive result sets).
    Q("q_filter_eq", Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey LIMIT 200"""))((s, dir) =>
      Tables.catalog(s, dir).from("orders")
        .where("o_orderstatus", Eq, "F")
        .orderBy("o_orderkey").pageSize(200)
        .execDf()
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")),
    Q("q_filter_startswith", Some(
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE p_name LIKE 'small%' ORDER BY p_partkey LIMIT 100"""))((s, dir) =>
      Tables.catalog(s, dir).from("part")
        .where("p_name", StartsWith, "small")
        .orderBy("p_partkey").pageSize(100)
        .execDf()
        .select("p_partkey", "p_name", "p_brand")),
    Q("q_filter_in", Some(
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
         WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') ORDER BY o_orderkey LIMIT 200"""))((s, dir) =>
      Tables.catalog(s, dir).from("orders")
        .where("o_orderpriority", In, Seq("1-URGENT", "2-HIGH"))
        .orderBy("o_orderkey").pageSize(200)
        .execDf()
        .select("o_orderkey", "o_custkey", "o_orderpriority")),
    Q("q_filter_and", Some(
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
         FROM orders WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
         ORDER BY o_orderkey LIMIT 100"""))((s, dir) =>
      Tables.catalog(s, dir).from("orders")
        .where("o_orderstatus", Eq, "F")
        .where("o_orderpriority", Eq, "1-URGENT")
        .pageSize(100)
        .execDf()
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")),
    Q("q_orderby_asc", Some(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_acctbal ASC, c_custkey ASC LIMIT 50"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer")
        .orderBy("c_acctbal", "asc").pageSize(50)
        .execDf()
        .select("c_custkey", "c_name", "c_acctbal")),
    Q("q_orderby_desc", Some(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey DESC LIMIT 50"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer")
        .orderBy("c_acctbal", "desc").pageSize(50)
        .execDf()
        .select("c_custkey", "c_name", "c_acctbal")),
    Q("q_find", Some(
      """SELECT * FROM customer WHERE c_custkey = 421"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer").find("421")),
    Q("q_peek", Some(
      """SELECT CAST(c_custkey AS VARCHAR) AS slug, c_name FROM customer
         ORDER BY c_name, c_custkey LIMIT 50"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer")
        .orderBy("c_name").pageSize(50)
        .peek()),

    // ---- keyset cursor pagination (SURVEY §2 #10, #21) -------------------
    Q("q_page_first", Some(
      """SELECT c_custkey, c_name FROM customer ORDER BY c_name, c_custkey LIMIT 20"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer")
        .orderBy("c_name").pageSize(20)
        .execDf().select("c_custkey", "c_name")),
    Q("q_page_after", Some(
      """SELECT c_custkey, c_name FROM customer
         WHERE c_name > 'Customer#000000299' OR (c_name = 'Customer#000000299' AND c_custkey > 299)
         ORDER BY c_name, c_custkey LIMIT 20"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer")
        .orderBy("c_name").pageSize(20)
        .cursor(pageCursor, "after")
        .execDf().select("c_custkey", "c_name")),
    Q("q_page_before", Some(
      """SELECT * FROM (
           SELECT c_custkey, c_name FROM customer
           WHERE c_name < 'Customer#000000299' OR (c_name = 'Customer#000000299' AND c_custkey < 299)
           ORDER BY c_name DESC, c_custkey DESC LIMIT 20
         ) ORDER BY c_name, c_custkey"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer")
        .orderBy("c_name").pageSize(20)
        .cursor(pageCursor, "before")
        .execDf().select("c_custkey", "c_name")),
    Q("q_page_desc_after", Some(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_acctbal < 5000.0 OR (c_acctbal = 5000.0 AND c_custkey < 750)
         ORDER BY c_acctbal DESC, c_custkey DESC LIMIT 20"""))((s, dir) =>
      Tables.catalog(s, dir).from("customer")
        .orderBy("c_acctbal", "desc").pageSize(20)
        .cursor(Cursor.encode(Cursor("c_acctbal", "5000.0", "750")), "after")
        .execDf().select("c_custkey", "c_name", "c_acctbal")),
    Q("q_page_join", Some(
      """SELECT o_orderkey, o_totalprice, c_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         WHERE o_totalprice > 50000.0 OR (o_totalprice = 50000.0 AND o_orderkey > 1000)
         ORDER BY o_totalprice, o_orderkey LIMIT 20"""))((s, dir) => {
      // Cursor pagination over a belongsTo join — the reference's SSG page
      // pattern (reference src/QueryBuilder.ts:330 + src/utils/pagenation.ts:21:
      // page through a source with a relation attached). The keyset predicate
      // pushes to the orders scan, and TopNThroughRiJoin (plans/RiRules.scala)
      // computes the top-20 on the orders side BEFORE the join (plan pinned in
      // RiRulesSpec), so page cost is O(page) however large the dimension —
      // the 100 TB shape for paged joined listings.
      val c = Tables.catalog(s, dir)
      val joined = Relations.flatJoin(c("orders").df, c("customer").df,
        "o_custkey", "c_custkey", broadcastForeign = true)
      Pagination.pageDf(joined, orderField = "o_totalprice", slugField = "o_orderkey",
          descending = false, pageSize = 20,
          cursor = Some(Cursor("o_totalprice", "50000.0", "1000")), direction = After)
        .select("o_orderkey", "o_totalprice", "c_name")
    }),

    // ---- relation joins (SURVEY §2 #12-#17) ------------------------------
    // Flat (SQL-shaped) variants of the six relation kinds; the nested
    // (API-faithful) shapes are covered by RelationsSpec. Small dims broadcast.
    Q("q_join_belongsto", Some(
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey LIMIT 200"""))((s, dir) => {
      val c = Tables.catalog(s, dir)
      Relations.flatJoin(c("orders").df, c("customer").df, "o_custkey", "c_custkey",
          broadcastForeign = true)
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey").limit(200)
    }),
    Q("q_join_hasone", Some(
      """SELECT s_suppkey, s_name, n_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         ORDER BY s_suppkey"""))((s, dir) => {
      val c = Tables.catalog(s, dir)
      Relations.flatJoin(c("supplier").df, c("nation").df, "s_nationkey", "n_nationkey",
          broadcastForeign = true)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    }),
    Q("q_join_hasmany", Some(
      """SELECT c_custkey, c_name, o_orderkey
         FROM customer JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey LIMIT 500"""))((s, dir) => {
      val c = Tables.catalog(s, dir)
      Relations.flatJoin(c("customer").df, c("orders").df, "c_custkey", "o_custkey")
        .select("c_custkey", "c_name", "o_orderkey")
        .orderBy("c_custkey", "o_orderkey").limit(500)
    }),
    Q("q_join_belongstomany", Some(
      """SELECT o_orderkey, c_custkey, c_name
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey LIMIT 200"""))((s, dir) => {
      val c = Tables.catalog(s, dir)
      // Array-valued local key (synthesized — the star schema has no array
      // columns): exercises the explode+join belongsToMany path.
      val base = c("orders").df.withColumn("custkeys", array(col("o_custkey")))
      base.select(col("o_orderkey"), explode(col("custkeys")).as("__lk"))
        .join(broadcast(c("customer").df), col("__lk") === col("c_custkey"))
        .select("o_orderkey", "c_custkey", "c_name")
        .orderBy("o_orderkey").limit(200)
    }),
    Q("q_join_hasonethrough", Some(
      """SELECT s_suppkey, s_name, r_name
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         ORDER BY s_suppkey"""))((s, dir) => {
      val c = Tables.catalog(s, dir)
      val rel = c("supplier").relations("region").asInstanceOf[HasOneThrough]
      Relations.flatThroughJoin(c("supplier").df, c("nation").df, c("region").df, rel,
          broadcastThrough = true, broadcastTarget = true)
        .select("s_suppkey", "s_name", "r_name")
        .orderBy("s_suppkey")
    }),
    Q("q_join_nested_hasmany", Some(
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS INTEGER) AS order_cnt
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""))((s, dir) => {
      // API-faithful NESTED resolution, verified through cardinalities the
      // oracle can recompute: customer rows with their embedded orders array.
      // The child frame is projected to the key before nesting — the query
      // consumes only size(orders), and collect_list has no nested-field
      // pruning, so an unprojected child ships every order column through
      // the array build (measured 6.5 s vs 2.2 s at sf10 for identical
      // output). Same API path, user-side pruning.
      val c = Tables.catalog(s, dir)
      Relations.nested(c("customer").df, c("customer").relations("orders"),
          c("orders").df.select("o_custkey", "o_orderkey"))
        .select(col("c_custkey"), size(col("orders")).as("order_cnt"))
        .orderBy("c_custkey")
    }),
    Q("q_join_nested_through", Some(
      """SELECT r_name, CAST(COUNT(c_custkey) AS INTEGER) AS cust_cnt
         FROM region
         LEFT JOIN nation ON r_regionkey = n_regionkey
         LEFT JOIN customer ON n_nationkey = c_nationkey
         GROUP BY r_name ORDER BY r_name"""))((s, dir) => {
      // Same child-projection discipline as q_join_nested_hasmany (five
      // region groups each collect a ~3M-customer array — key-only rows).
      val c = Tables.catalog(s, dir)
      Relations.nested(c("region").df, c("region").relations("customers"),
          c("customer").df.select("c_custkey", "c_nationkey"),
          through = Some(c("nation").df))
        .select(col("r_name"), size(col("customers")).as("cust_cnt"))
        .orderBy("r_name")
    }),
    Q("q_join_hasmanythrough", Some(
      """SELECT r_name, c_custkey, c_name
         FROM region JOIN nation ON r_regionkey = n_regionkey
         JOIN customer ON n_nationkey = c_nationkey
         ORDER BY r_name, c_custkey"""))((s, dir) => {
      val c = Tables.catalog(s, dir)
      val rel = c("region").relations("customers").asInstanceOf[HasManyThrough]
      Relations.flatThroughJoin(c("region").df, c("nation").df, c("customer").df, rel,
          broadcastThrough = true)
        .select("r_name", "c_custkey", "c_name")
        .orderBy("r_name", "c_custkey")
    }),

    // ---- analytics (SURVEY §2 #26-#30) -----------------------------------
    // Money sums go through DECIMAL so Spark and the DuckDB oracle agree bit-
    // for-bit regardless of double summation order; final outputs cast back
    // to DOUBLE.
    Q("q_agg_pricing", Some(PricingTwinSql))((s, dir) =>
      // TPC-H Q1 shape: full-scan aggregate with partial (map-side) aggregation.
      pricingAgg(Tables.load(s, dir, "lineitem"))),
    Q("q_agg_pricing_sorted", Some(PricingTwinSql), Set(GroupSortedLineitem))((s, dir) =>
      // The same TPC-H Q1 aggregate over the GROUP-KEY-sorted stored layout
      // ([[GroupSortedLineitem]]): clustering (l_returnflag, l_linestatus)
      // RLE-compresses the keys (−22% table bytes) and collates each
      // group's rows — measured −26% clean-session at sf100, moving the
      // ratio 2.52× → 1.90× (BASELINE.md r20). Registered like
      // q_agg_topcust_sorted so the deployment lever is correctness-gated:
      // DuckDB's twin recomputes from the RAW table, so hash-equality
      // certifies the rewrite's row preservation too.
      pricingAgg(s.read.parquet(GroupSortedLineitem(s, dir)))),
    Q("q_agg_topcust", Some(TopcustTwinSql))((s, dir) => {
      // Top-k BEFORE the dim join: the aggregate's 10 winners broadcast
      // against the customer scan, instead of broadcasting the WHOLE
      // customer dim to decorate 1.5M aggregate rows and then discarding
      // all but 10. Exact: o_custkey == c_custkey, so the pre-join
      // (revenue, o_custkey) order is the oracle's (revenue, c_custkey)
      // order. At 100 TB the dim outgrows any broadcast; 10 rows never do.
      val c = Tables.catalog(s, dir)
      val top = c("orders").df
        .groupBy("o_custkey")
        .agg(plans.Decimal128.sumMoney(col("o_totalprice")).as("revenue"),
             count(lit(1)).as("order_cnt"))
        .orderBy(desc("revenue"), col("o_custkey")).limit(10)
      broadcast(top).join(c("customer").df, col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "order_cnt")
        // 10 rows — but a trailing orderBy's boundary sampling would re-run
        // the whole aggregate+TakeOrdered subtree (see presentationSort)
        .repartition(1)
        .sortWithinPartitions(desc("revenue"), col("c_custkey"))
    }),
    Q("q_agg_topcust_sorted", Some(TopcustTwinSql), Set(CustkeySortedOrders))((s, dir) => {
      // The same top-k aggregate over the KEY-SORTED stored layout
      // ([[CustkeySortedOrders]]): disjoint per-task o_custkey ranges mean
      // the partial aggregate combines to ~final groups, shrinking the
      // exchange ~9× — the measured −52% deployment lever for the high-NDV
      // agg floor, registered so it is correctness-gated, not a bench note.
      // DuckDB's twin recomputes from the RAW table: a layout rewrite is
      // row-preserving, so hash-equality here certifies the rewrite too.
      val top = s.read.parquet(CustkeySortedOrders(s, dir))
        .groupBy("o_custkey")
        .agg(plans.Decimal128.sumMoney(col("o_totalprice")).as("revenue"),
             count(lit(1)).as("order_cnt"))
        .orderBy(desc("revenue"), col("o_custkey")).limit(10)
      broadcast(top).join(Tables.load(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "order_cnt")
        .repartition(1)
        .sortWithinPartitions(desc("revenue"), col("c_custkey"))
    }),
    Q("q_agg_mktseg_nation", Some(
      """SELECT c_mktsegment, n_name, COUNT(*) AS cust_cnt,
                CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY c_mktsegment, n_name
         ORDER BY c_mktsegment, n_name"""))((s, dir) => {
      val c = Tables.catalog(s, dir)
      c("customer").df
        .join(broadcast(c("nation").df), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_mktsegment", "n_name")
        .agg(count(lit(1)).as("cust_cnt"),
             plans.Decimal128.sumMoney(col("c_acctbal")).as("sum_acctbal"))
        .orderBy("c_mktsegment", "n_name")
    }),
    Q("q_window_rank", Some(
      """SELECT * FROM (
           SELECT o_custkey,
                  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn,
                  o_orderkey, o_totalprice
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn"""))((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),
    Q("q_text_topwords", Some(
      """SELECT word, COUNT(*) AS cnt FROM (
           SELECT unnest(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS word FROM documents)
         GROUP BY word ORDER BY cnt DESC, word LIMIT 50"""))((s, dir) => {
      // corpus vocabulary profile. r21: per-doc DISTINCT terms with
      // multiplicities from the native scan-side TermCounts (the repo-wide
      // "count inside codegen, explode only types" discipline — the old
      // explode(tokens) materialized every token OCCURRENCE as a row into
      // the partial aggregate; sum(n) over per-doc types is the same total
      // with ~tokens/doc-distinct fewer aggregate probes per document).
      // Equivalence to explode(tokens) is exact, including the split
      // artifact: for non-null text, tokens() yields [""] iff the
      // edge-stripped text is empty, which is exactly when TermCounts
      // (which skips empty tokens) returns zero entries — so an empty
      // entries array stands for one "" occurrence, restored below. The
      // zero-entry test is the cheap `rlike("\\S")` text predicate (ntok
      // ≥ 1 ⟺ a non-whitespace char — the classifier/perplexity
      // equivalence, same Java-regex-\s tokenizer class), NOT
      // `size(entries) === 0`: a size() condition re-evaluates the full
      // TermCounts pass in the CASE's condition arm, and Generate gets no
      // subexpression elimination (r21 review — the duplicated work was
      // half of what this rewrite saves).
      // Oracle (unnest of the same split) unchanged; hash-checked.
      val tc = plans.TextExpressions.termCounts(col("text"))
      val entries = when(col("text").rlike("\\S"), tc.getField("entries"))
        .otherwise(array(struct(lit("").as("term"), lit(1).cast("int").as("n"))))
      Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(explode(entries).as("e"))
        .select(col("e.term").as("word"), col("e.n").cast("long").as("k"))
        .groupBy("word")
        .agg(sum(col("k")).as("cnt"))
        .orderBy(desc("cnt"), col("word"))
        .limit(50)
    }),
    Q("q_events_funnel", Some(
      """SELECT COUNT(*) AS converted_users FROM (
           SELECT v.user_id FROM
             (SELECT user_id, min(ts) AS first_view FROM events WHERE event_type = 'view' GROUP BY user_id) v
             JOIN (SELECT user_id, min(ts) AS first_purchase FROM events WHERE event_type = 'purchase' GROUP BY user_id) p
             ON v.user_id = p.user_id
           WHERE p.first_purchase > v.first_view)"""))((s, dir) => {
      // Classic funnel: users whose first 'purchase' follows their first
      // 'view'. ONE conditional aggregate over ONE scan — min(when(...))
      // per stage — instead of the textbook two-filtered-aggregates + join
      // (two scans, two exchanges, a join): a user missing either stage has
      // a NULL min, and NULL comparisons are false, exactly the inner
      // join's semantics. The filter+count collapses map-side; the join
      // form was the r14 suite's worst sf10 ratio (29x) for no semantic
      // reason.
      Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "view", col("ts"))).as("first_view"),
             min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
        .filter(col("first_purchase") > col("first_view"))
        .agg(count(lit(1)).as("converted_users"))
    }),
    Q("q_events_window", Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                COUNT(*) AS event_cnt,
                CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))((s, dir) =>
      // Batch shape of the streaming hourly window (EventStreams runs the same
      // aggregation as Structured Streaming with a watermark).
      Tables.load(s, dir, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
                 col("event_type"))
        .agg(count(lit(1)).as("event_cnt"),
             plans.Decimal128.sumMoney(col("value"), 6).as("sum_value"))
        .orderBy("hour", "event_type")),
    Q("q_events_resample", Some(
      // same epoch-floor grid; LOCF via IGNORE NULLS running last_value;
      // n_events coalesced to 0 on gap rows exactly like the operator
      """WITH b AS (
           SELECT event_type,
                  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
                  count(*) AS n_events,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
           FROM events GROUP BY 1, 2),
         spans AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                   FROM b GROUP BY event_type),
         grid AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS bucket
                  FROM spans),
         j AS (SELECT g.event_type, g.bucket,
                      coalesce(b.n_events, 0) AS n_events, b.sum_value
               FROM grid g LEFT JOIN b USING (event_type, bucket))
         SELECT event_type, bucket, n_events, sum_value,
                last_value(sum_value IGNORE NULLS) OVER (
                  PARTITION BY event_type ORDER BY bucket
                  ROWS UNBOUNDED PRECEDING) AS filled_value
         FROM j ORDER BY event_type, bucket"""))((s, dir) =>
      // Regular-grid resample with gap fill + LOCF (operators/Resample
      // .scala): per event_type hourly buckets, missing hours materialized
      // with n=0/NULL sum and the last observed sum carried forward. One
      // (type, bucket) shuffle; the grid explode and LOCF window are
      // bucket-table-sized.
      operators.Resample.resample(Tables.load(s, dir, "events"),
          "ts", Seq("event_type"), "value", 3600L)
        .orderBy("event_type", "bucket")),
    Q("q_events_rolling", Some(
      // resample grid as above, then the same 3-row window with decimal sums
      """WITH b AS (
           SELECT event_type,
                  CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
                  count(*) AS n_events,
                  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
           FROM events GROUP BY 1, 2),
         spans AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
                   FROM b GROUP BY event_type),
         grid AS (SELECT event_type, unnest(generate_series(lo, hi, 3600)) AS bucket
                  FROM spans),
         j AS (SELECT g.event_type, g.bucket,
                      coalesce(b.n_events, 0) AS n_events, b.sum_value
               FROM grid g LEFT JOIN b USING (event_type, bucket))
         SELECT event_type, bucket, n_events,
                CAST(sum(n_events) OVER w AS BIGINT) AS rolling_events,
                CAST(sum(CAST(sum_value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS rolling_sum
         FROM j
         WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, bucket"""))((s, dir) => {
      // Rolling 3-bucket window over the gap-filled grid — the moving-
      // average shape that only works on a REGULAR grid (gaps would silently
      // shrink the window otherwise; that's why it composes with resample).
      // Decimal window sums keep the oracle exact; one extra per-key window
      // over the bucket table, no new corpus pass.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(-2, 0)
      operators.Resample.resample(Tables.load(s, dir, "events"),
          "ts", Seq("event_type"), "value", 3600L)
        .withColumn("rolling_events", sum(col("n_events")).over(w))
        .withColumn("rolling_sum",
          sum(col("sum_value").cast("decimal(18,6)")).over(w).cast("double"))
        .select("event_type", "bucket", "n_events", "rolling_events", "rolling_sum")
        .orderBy("event_type", "bucket")
    }),
    Q("q_asof_join", Some(
      """WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
                    FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY event_id"""))((s, dir) => {
      // As-of temporal join: each event gets the latest order placed at-or-
      // before it by the same user. Orders pre-aggregate to unique
      // (custkey, orderdate): beyond AsOf's determinism precondition, the
      // partial-agg map-side combine COLLAPSES the planted hot customer
      // (22.5% of sf1+ orders on one key) to ≤ #dates rows before the
      // per-key window shuffle — measured 1.4 s vs 1.9 s for the tieBreak
      // form, which sorts the whole hot timeline in one task. The bucketed
      // variant below makes the opposite call (time-splitting absorbs the
      // skew, so tieBreak saves its shuffle). Plan: tag+union+ONE key
      // shuffle+running window (operators/AsOf.scala), never an inequality
      // join.
      val ev = Tables.load(s, dir, "events").select("event_id", "user_id", "ts")
      val ord = Tables.load(s, dir, "orders")
        // parquet NTZ → session-TZ timestamp (UTC session: same instant) so
        // both sides' timestamps union to one type; AsOf requires equality
        .groupBy(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_orderdate"))
        .agg(max("o_orderkey").as("o_orderkey"))
      operators.AsOf.asOfJoin(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
          payload = Seq("o_orderkey"))
        .select(col("event_id"), col("user_id"), col("o_orderkey").as("asof_orderkey"))
        .orderBy("event_id")
    }),
    Q("q_asof_bucketed", Some(
      """WITH v AS (SELECT user_id AS v_user, ts AS vts, max(event_id) AS view_id
                    FROM events WHERE event_type = 'view' GROUP BY 1, 2),
              p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id,
                CASE WHEN p.ts - v.vts <= INTERVAL 1 HOUR THEN v.view_id END AS asof_view_id
         FROM p ASOF LEFT JOIN v ON p.user_id = v.v_user AND p.ts >= v.vts
         ORDER BY event_id"""))((s, dir) => {
      // Bounded-staleness as-of, the skew-safe variant: each purchase event
      // finds the user's latest view within the last hour. Partitioned by
      // (user, hour bucket) — a hot user's timeline splits across buckets
      // instead of sorting in one task (operators/AsOf.asOfJoinBucketed).
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      // tieBreak=view_id replaces the old groupBy(user, ts).agg(max) dedup —
      // same result, one less full shuffle of the views side
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("vts"),
          col("event_id").as("view_id"))
      presentationSort(
        operators.AsOf.asOfJoinBucketed(purchases, views, "user_id", "v_user", "ts", "vts",
            payload = Seq("view_id"), toleranceMillis = 3600_000L, bucketMillis = 3600_000L,
            tieBreak = Some("view_id"))
          .select(col("event_id"), col("view_id").as("asof_view_id")),
        "event_id")
    }),
    Q("q_range_join", Some(
      """WITH v AS (SELECT event_id AS view_id, user_id AS v_user, ts AS vts
                    FROM events WHERE event_type = 'view'),
              p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, v.view_id
         FROM p JOIN v ON p.user_id = v.v_user
                      AND v.vts > p.ts - INTERVAL 1 HOUR AND v.vts <= p.ts
         ORDER BY event_id, view_id"""))((s, dir) => {
      // Bounded range join, pair-emitting: every (purchase, view) by the
      // same user within the preceding hour. The lookback bound makes it
      // bandable — equi-join on (user, hour bucket) with ≤2× right
      // replication (operators/RangeJoin.scala) — never an inequality join.
      val ev = Tables.load(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("vts"))
      operators.RangeJoin.bounded(purchases, views, "user_id", "v_user", "ts", "vts",
          lookbackMillis = 3600_000L, payload = Seq("view_id"))
        .select("event_id", "view_id")
        .orderBy("event_id", "view_id")
    }),
    Q("q_range_agg", Some(
      """WITH v AS (SELECT user_id AS v_user, ts AS vts, event_id AS view_id
                    FROM events WHERE event_type = 'view'),
              p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT p.event_id, count(v.view_id) AS views_1h
         FROM p LEFT JOIN v ON p.user_id = v.v_user
                           AND v.vts > p.ts - INTERVAL 1 HOUR AND v.vts <= p.ts
         GROUP BY p.event_id ORDER BY p.event_id"""))((s, dir) => {
      // Join-free windowed range aggregate: views in the trailing hour per
      // purchase. When only an AGGREGATE over the range is needed (not the
      // pairs), union+RANGE-frame window does it in ONE key shuffle with no
      // join at all — frame (t-1h, t] as micros offsets, lower-exclusive via
      // (bound - 1). Same shape as q_range_join's count, zero replication.
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, dir, "events")
      // Null semantics must match the oracle's LEFT JOIN: views with a null
      // user/ts can never join (filtered here — Spark's window would group
      // nulls TOGETHER and count them); purchases always emit a row, with a
      // forced 0 when their own key/ts is null (no join match possible).
      val tagged = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"), lit(0).as("is_view"))
        .unionByName(ev.filter(col("event_type") === "view" &&
                               col("user_id").isNotNull && col("ts").isNotNull)
          .select(lit(null).cast("bigint").as("event_id"), col("user_id"),
                  unix_micros(col("ts")).as("us"), lit(1).as("is_view")))
      val w = Window.partitionBy("user_id").orderBy("us")
        .rangeBetween(-(3600_000_000L - 1L), 0L)
      tagged
        .withColumn("views_1h",
          when(col("user_id").isNull || col("us").isNull, lit(0L))
            .otherwise(sum(col("is_view")).over(w)).cast("bigint"))
        .filter(col("is_view") === 0)
        .select("event_id", "views_1h")
        .orderBy("event_id")
    }),
    Q("q_agg_rollup", Some(RollupTwinSql))((s, dir) => {
      // ROLLUP: per-group, subtotal and grand-total rows in one pass (Spark
      // expands the grouping sets BEFORE the partial aggregate, so the
      // expanded rows still combine map-side). Subtotal rows are marked via
      // grouping() — NOT by coalescing the grouping-set null, which would
      // conflate a genuine NULL data value with a subtotal and leave two
      // identically-keyed rows in engine-dependent order. The markers also
      // sidestep the Spark nulls-first vs DuckDB nulls-last sort divergence.
      // The declared flag/status domains license PreAggregateGroupingSets
      // to aggregate ONCE at the finest grain and expand the ≤6-row
      // intermediate instead of tripling the fact scan.
      Tables.declareDomainNdvs(s, dir)
      rollupShape(Tables.load(s, dir, "lineitem"))
    }),
    Q("q_agg_rollup_sorted", Some(RollupTwinSql), Set(GroupSortedLineitem))((s, dir) => {
      // ROLLUP over the group-key-sorted layout ([[GroupSortedLineitem]])
      // WITH the NDV facts re-carried onto the copy. Both halves matter:
      // r19 measured this layout +37% on rollup because the fresh scan had
      // no facts and PreAggregateGroupingSets silently switched off; with
      // the license carried the registered pair reads 4.82 → 3.13 s at
      // sf100 (−35%, 1.69× DuckDB — BASELINE.md r20). The explicit
      // redeclare makes the license independent of which query built the
      // memoized artifact first (the build path carries whatever was
      // declared AT BUILD TIME; this row needs the domain NDVs
      // specifically).
      Tables.declareDomainNdvs(s, dir)
      val sorted = s.read.parquet(GroupSortedLineitem(s, dir))
      plans.Constraints.redeclare(Tables.load(s, dir, "lineitem"), sorted)
      rollupShape(sorted)
    }),
    Q("q_agg_cube", Some(
      """SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN '(all)'
                     ELSE coalesce(o_orderstatus, '(null)') END AS status,
                CASE WHEN GROUPING(o_orderpriority) = 1 THEN '(all)'
                     ELSE coalesce(o_orderpriority, '(null)') END AS priority,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                COUNT(*) AS cnt
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY status, priority"""))((s, dir) => {
      // CUBE over the declared-small orders domains (3 statuses × 5
      // priorities → 4 grouping sets), FORCED through
      // PreAggregateGroupingSets regardless of input size: the gate is
      // lifted for exactly this query's planning (forced eagerly inside the
      // conf window — plans are lazy, so without the force the reset below
      // would land first) and restored after. This keeps the rewrite — the
      // 128-bit money partial/merge included — exercised against the DuckDB
      // oracle at every scale the driver checks, the same contract
      // q_page_join provides for TopNThroughRiJoin.
      Tables.declareDomainNdvs(s, dir)
      val key = plans.PreAggregateGroupingSets.MinInputBytesKey
      val prev = s.conf.getOption(key)
      s.conf.set(key, "0")
      try {
        val df = Tables.load(s, dir, "orders")
          .cube("o_orderstatus", "o_orderpriority")
          .agg(plans.Decimal128.sumMoney(col("o_totalprice")).as("sum_price"),
               count(lit(1)).as("cnt"),
               grouping(col("o_orderstatus")).as("g1"),
               grouping(col("o_orderpriority")).as("g2"))
          .select(
            when(col("g1") === 1, lit("(all)"))
              .otherwise(coalesce(col("o_orderstatus"), lit("(null)"))).as("status"),
            when(col("g2") === 1, lit("(all)"))
              .otherwise(coalesce(col("o_orderpriority"), lit("(null)"))).as("priority"),
            col("sum_price"), col("cnt"))
          .orderBy("status", "priority")
        df.queryExecution.executedPlan // force planning inside the conf window
        df
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    }),
    Q("q_agg_quantiles", Some(
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.25), 4) AS p25,
                round(quantile_cont(l_quantity, 0.5), 4) AS p50,
                round(quantile_cont(l_quantity, 0.75), 4) AS p75,
                round(quantile_cont(l_quantity, 0.95), 4) AS p95
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))((s, dir) =>
      // EXACT sort-based percentiles with linear interpolation — the same
      // estimator as DuckDB quantile_cont, so the oracle is bit-comparable.
      // ONE percentile aggregate with an array of percentages: the per-group
      // value buffer (the scale hazard of exact quantiles) is built once,
      // not once per requested quantile. At 100 TB swap in approx_percentile
      // (t-digest, mergeable fixed-size sketches).
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D, 0.95D))").as("qs"))
        .select(col("l_returnflag"),
          round(col("qs").getItem(0), 4).as("p25"),
          round(col("qs").getItem(1), 4).as("p50"),
          round(col("qs").getItem(2), 4).as("p75"),
          round(col("qs").getItem(3), 4).as("p95"))
        .orderBy("l_returnflag")),
    Q("q_anti_join", Some(AntiJoinTwinSql))((s, dir) => {
      // NOT EXISTS as a left-anti equi-join; the status filter sits on the
      // build side BEFORE the join, so it pushes to the orders scan and
      // shrinks what shuffles.
      // shuffle_hash on the build side: anti-join needs only key-presence
      // per reducer, so sort-merge's double sort (15M orders + 1.5M
      // customers) buys nothing — the hash build streams the probe side
      // unsorted (measured 2.1 -> 1.2 s at sf10, identical output).
      val c = Tables.catalog(s, dir)
      presentationSort(
        c("customer").df
          .join(c("orders").df.filter(col("o_orderstatus") === "F").select("o_custkey")
                  .hint("shuffle_hash"),
                col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name"),
        "c_custkey")
    }),
    Q("q_anti_join_sorted", Some(AntiJoinTwinSql), Set(CustkeySortedOrders))((s, dir) => {
      // The anti-join over the key-sorted orders layout
      // ([[CustkeySortedOrders]]), with a distinct-first build: disjoint
      // per-task o_custkey ranges collapse the distinct map-side, so the
      // build exchange carries ~unique keys instead of every F-status row
      // (−33% same-window at sf100, 1.75× DuckDB vs 2.5× raw; the bloom
      // prefilter variant measured 2.4× WORSE and is recorded rejected —
      // BASELINE.md r20). Same DuckDB twin as q_anti_join, from the raw
      // table: hash-equality certifies the layout rewrite too.
      val so = s.read.parquet(CustkeySortedOrders(s, dir))
      presentationSort(
        Tables.load(s, dir, "customer")
          .join(so.filter(col("o_orderstatus") === "F").select("o_custkey")
                  .distinct().hint("shuffle_hash"),
                col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name"),
        "c_custkey")
    }),

    // ---- LLM-pipeline: dedup / text / similarity (SURVEY §2 #32-#42) -----
    Q("q_dedup_exact", Some(
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS dup_count
         FROM documents GROUP BY text ORDER BY keep_id"""))((s, dir) =>
      operators.Dedup.exact(Tables.load(s, dir, "documents"))
        .orderBy("keep_id")),
    Q("q_dedup_corpus", Some(
      """SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id"""))((s, dir) =>
      // one-pass window form (r14): the join form's winner set stops
      // broadcasting past ~10M docs, at which point it ships bodies
      // through the join exchange AND double-scans — see
      // Dedup.exactCorpusOnePass's cost note (sf10: 1.0 s/4 jobs vs
      // 1.6 s/7 jobs, same survivors, oracle unchanged)
      operators.Dedup.exactCorpusOnePass(Tables.load(s, dir, "documents"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")),
    Q("q_pipeline_corpus", Some(
      // the same langid cascade + quality expression as their standalone
      // oracles, composed: 'en' = not the de-branch, c_en >= later languages
      """WITH toks AS (
           SELECT doc_id, lang, n_chars, text,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
         ), feat AS (
           SELECT doc_id, lang, n_chars, text,
                  len(list_filter(t, x -> x IN ('der','die','und','das','nicht'))) AS c_de,
                  len(list_filter(t, x -> x IN ('the','and','of','is','to')))      AS c_en,
                  len(list_filter(t, x -> x IN ('el','los','las','una','es')))     AS c_es,
                  len(list_filter(t, x -> x IN ('le','la','et','les','des')))      AS c_fr,
                  len(list_filter(t, x -> x IN ('的','是','在','了','和')))          AS c_zh,
                  round(LEAST(CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                              / len(t) * 5.0, 1.0) * 0.5
                      + LEAST(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.5, 4) AS quality
           FROM toks
         ), gated AS (
           SELECT doc_id, lang, n_chars, text FROM feat
           WHERE c_en IS NOT NULL
             AND greatest(c_de, c_en, c_es, c_fr, c_zh) > 0
             AND NOT (c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh)
             AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh
             AND quality >= 0.5
         )
         SELECT doc_id, lang, n_chars FROM gated
         WHERE doc_id IN (SELECT min(doc_id) FROM gated GROUP BY text)
         ORDER BY doc_id"""))((s, dir) => {
      // End-to-end training-corpus pipeline as ONE declarative plan —
      // language gate → quality gate → exact dedup → surviving documents.
      // The gates fuse into the scan (native text expressions inside
      // codegen). r21: dedup via the ONE-PASS window form — the join form
      // evaluated the langid+quality gates TWICE (winner aggregation + the
      // semi-join probe side each re-scanned and re-gated the corpus; this
      // is exactly the computed-upstream case exactCorpusOnePass's cost
      // note prescribes, and the broadcast the join form relied on dies
      // past ~10M winner ids anyway). Physically now: ONE gated scan, one
      // hash(text)-keyed exchange of (doc_id, lang, n_chars, _w0) — the
      // body is hashed below the exchange and never rides it. Same
      // survivors (min doc_id per content hash), oracle hash unchanged.
      val docs = Tables.load(s, dir, "documents")
      val gated = docs
        .filter(functions.TextFunctions.langId(col("text")) === "en")
        .filter(functions.TextFunctions.qualityScore(col("text")) >= 0.5)
      operators.Dedup.exactCorpusOnePass(gated)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),
    Q("q_dedup_incremental")((s, dir) => {
      // Daily-ingest shape: a 20% batch (every fifth id — interleaved so the
      // slice stays 20% at every SF) near-deduped against the other 80% as
      // the existing corpus; the two sides partition the table, so ids are
      // unique across frames as the operator requires. xxhash64-based like
      // the other minhash queries → rows-only check; pair semantics pinned
      // in DedupSpec planted corpora.
      val docs = Tables.load(s, dir, "documents")
      operators.Dedup.minhashIncremental(
          docs.filter(col("doc_id") % 5 === 4), docs.filter(col("doc_id") % 5 =!= 4))
        .select("doc_id").orderBy("doc_id")
    }),
    Q("q_dedup_minhash")((s, dir) =>
      // Per-doc LSH band hashes exploded to scalar (doc_id, band, bhash) rows
      // — the registered shape must be scalar columns only. Pair generation is
      // LSH-bucketed and covered with planted near-dups in DedupSpec (not
      // SQL-expressible: DuckDB has no xxhash64).
      operators.Dedup.minhashed(Tables.load(s, dir, "documents"))
        .orderBy("doc_id").limit(200)
        .select(col("doc_id"), posexplode(col("band_hashes")).as(Seq("band", "bhash")))
        .orderBy("doc_id", "band")),
    Q("q_dedup_simhash")((s, dir) =>
      operators.Dedup.simhashed(Tables.load(s, dir, "documents"))
        .orderBy("doc_id").limit(200)),
    Q("q_text_stats", Some(
      """SELECT doc_id, length(text) AS n_chars_calc,
                len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS n_tokens,
                round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                      / len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')), 4) AS avg_token_len
         FROM documents ORDER BY doc_id"""))((s, dir) => {
      val t = functions.TextFunctions
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).as("n_chars_calc"),
          t.tokenCount(col("text")).as("n_tokens"),
          t.avgTokenLen(col("text")).as("avg_token_len"))
        .orderBy("doc_id")
    }),
    Q("q_text_bpe", Some(
      """SELECT doc_id,
                len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
         FROM documents ORDER BY doc_id"""))((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextFunctions.bpeishTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")),
    Q("q_text_winnow", Some(
      // identical winnowing algebra: md5 5-gram hashes, min per window of 4
      // full windows only, distinct per doc
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents),
         grams AS (
           SELECT doc_id, p, md5(array_to_string(list_slice(t, p, p + 4), ' ')) AS h,
                  len(t) - 4 AS ng
           FROM toks, UNNEST(range(1, len(t) - 5 + 2)) AS r(p)
           WHERE len(t) >= 5),
         win AS (
           SELECT doc_id, p, ng,
                  min(h) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM grams)
         SELECT DISTINCT doc_id, fp FROM win
         WHERE p <= ng - 4 + 1
         ORDER BY doc_id, fp"""))((s, dir) =>
      // Winnowing fingerprints (Schleimer et al. — the MOSS selection):
      // md5 k-gram hashes, min per sliding window — fully engine-portable
      // (md5 + window algebra), so unlike the xxhash64 operators this has
      // an exact DuckDB twin. Whole corpus, deliberately: the fingerprint
      // pass is the data-dominated stage and benching a 50-doc slice would
      // only measure the job floor.
      operators.Winnow.fingerprints(Tables.load(s, dir, "documents"), k = 5, w = 4)
        .orderBy("doc_id", "fp")),
    Q("q_dedup_passage", Some(
      """WITH aug AS (
           SELECT doc_id,
                  text || CASE WHEN doc_id % 10 = 0
                               THEN ' copied canonical passage tokens appear verbatim in many documents across this corpus'
                               ELSE '' END AS text
           FROM documents WHERE doc_id < 1000),
         toks AS (
           SELECT doc_id,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM aug),
         grams AS (
           SELECT doc_id, p, md5(array_to_string(list_slice(t, p, p + 4), ' ')) AS h,
                  len(t) - 4 AS ng
           FROM toks, UNNEST(range(1, len(t) - 5 + 2)) AS r(p)
           WHERE len(t) >= 5),
         win AS (
           SELECT doc_id, p, ng,
                  min(h) OVER (PARTITION BY doc_id ORDER BY p
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM grams),
         fps AS (
           SELECT DISTINCT doc_id, fp FROM win WHERE p <= ng - 4 + 1),
         keep AS (
           SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 1000),
         g AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM g a JOIN g b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY id_a, id_b"""))((s, dir) => {
      // Duplicate-PASSAGE candidates: every 10th doc gets the same planted
      // passage appended (the copied-paragraph case that doc-level exact
      // dedup misses and whole-doc MinHash dilutes); winnowed fingerprints
      // pair exactly the docs sharing it. The passage is 12 tokens = 5 full
      // windows, of which two are DISJOINT, guaranteeing >= 2 distinct
      // shared fingerprints — so minShared=2 detects every planted pair
      // deterministically while suppressing the rare accidental single-gram
      // collision of the tiny synthetic vocabulary (review regression: an
      // 8-token passage yields exactly ONE shared fingerprint, which
      // minShared=2 silently filtered — the demo detected nothing).
      val aug = Tables.load(s, dir, "documents").filter(col("doc_id") < 1000)
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 10 === 0,
            lit(" copied canonical passage tokens appear verbatim in many documents across this corpus"))
            .otherwise(lit(""))))
      operators.Winnow.dupCandidates(aug, k = 5, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")
    }),
    Q("q_text_quality", Some(
      """SELECT doc_id,
                round(LEAST(CAST(len(list_filter(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                                  x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                            / len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) * 5.0, 1.0) * 0.5
                    + LEAST(CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5,
                    4) AS quality
         FROM documents ORDER BY doc_id"""))((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    Q("q_text_repetition", Some(
      """WITH t AS (
           SELECT doc_id,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
           FROM documents),
         b AS (
           SELECT doc_id, w,
                  list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
           FROM t)
         SELECT doc_id,
                CAST(len(w) AS INTEGER) AS n_tokens,
                round(CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS dup_word_frac,
                round(CASE WHEN len(bg) = 0 THEN 0.0
                      ELSE CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) END, 4) AS dup_bigram_frac,
                round(CAST(len(list_filter(w, x -> x = list_aggregate(w, 'mode'))) AS DOUBLE) / len(w), 4) AS top_word_frac
         FROM b ORDER BY doc_id"""))((s, dir) =>
      // Gopher-style repetition quality signals. Raw struct aliased in one
      // select, fields rounded in a second — CollapseProject won't inline a
      // non-cheap expression into multiple consumers, so the document
      // tokenizes ONCE per row (pinned in PlanPropertiesSpec).
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextFunctions.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          col("r.n_tokens").as("n_tokens"),
          round(col("r.dup_word_frac"), 4).as("dup_word_frac"),
          round(col("r.dup_bigram_frac"), 4).as("dup_bigram_frac"),
          round(col("r.top_word_frac"), 4).as("top_word_frac"))
        .orderBy("doc_id")),
    Q("q_quality_gopher", Some(
      // identical planting, tokenization, symbol counting (non-overlapping
      // "..." = regexp_extract_all semantics), line split (string_split
      // keeps trailing empties), and raw-value gate
      """WITH aug AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN '- ' || replace(t, chr(10), chr(10) || '- ')
                  WHEN doc_id % 11 = 0 THEN replace(t, chr(10), '...' || chr(10)) || '...'
                  WHEN doc_id % 13 = 0 THEN t || chr(10) || '## ## ## ## ## ## ## ##'
                  ELSE t END AS text
           FROM (SELECT doc_id,
                        regexp_replace(text, '(\S+\s+\S+)\s+', '\1' || chr(10), 'g') AS t
                 FROM documents)),
         tok AS (
           SELECT doc_id, text,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w,
                  string_split(text, chr(10)) AS ln
           FROM aug),
         st AS (
           SELECT doc_id,
             len(w) AS n_tokens,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(w) AS mean_word_len,
             CAST(length(text) - length(replace(text, '#', ''))
                  + len(regexp_extract_all(text, '\.\.\.'))
                  + length(text) - length(replace(text, '…', '')) AS DOUBLE) / len(w) AS symbol_ratio,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w) AS alpha_word_frac,
             len(list_distinct(list_filter(w,
               x -> x IN ('the','be','to','of','and','that','have','with')))) AS n_stop_distinct,
             CAST(len(list_filter(ln, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%')) AS DOUBLE)
               / len(ln) AS bullet_line_frac,
             CAST(len(list_filter(ln, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE)
               / len(ln) AS ellipsis_line_frac
           FROM tok)
         SELECT doc_id, n_tokens,
                round(mean_word_len, 4) AS mean_word_len,
                round(symbol_ratio, 4) AS symbol_ratio,
                round(alpha_word_frac, 4) AS alpha_word_frac,
                n_stop_distinct,
                round(bullet_line_frac, 4) AS bullet_line_frac,
                round(ellipsis_line_frac, 4) AS ellipsis_line_frac,
                (n_tokens BETWEEN 25 AND 100000
                 AND mean_word_len BETWEEN 3.0 AND 10.0
                 AND symbol_ratio <= 0.1
                 AND alpha_word_frac >= 0.8
                 AND n_stop_distinct >= 1
                 AND bullet_line_frac <= 0.9
                 AND ellipsis_line_frac <= 0.3) AS pass
         FROM st ORDER BY doc_id"""))((s, dir) => {
      // The published Gopher (MassiveText §A1.1) rule set as one scan-stage
      // pass: word count, mean word length, symbol ratio, alpha-word
      // fraction, distinct stop words, bullet/ellipsis line shapes, and the
      // combined gate. The synthetic corpus has no lines/symbols, so the
      // rule-triggering structure is PLANTED by doc_id arithmetic (the
      // q_pii_redact pattern), identically in the oracle: every 7th doc
      // becomes a bullet list, every 11th ends each line with an ellipsis,
      // every 13th gains a symbol-only line. Gate thresholds adapt two
      // knobs to the tiny corpus (minWords 25, ≥1 stop word — the 31-word
      // vocabulary rarely has 2 distinct); the rest are the paper's.
      val t = functions.TextFunctions
      val lines = regexp_replace(col("text"), "(\\S+\\s+\\S+)\\s+", "$1\n")
      val planted =
        when(col("doc_id") % 7 === 0,
            concat(lit("- "), replace(lines, lit("\n"), lit("\n- "))))
          .when(col("doc_id") % 11 === 0,
            concat(replace(lines, lit("\n"), lit("...\n")), lit("...")))
          .when(col("doc_id") % 13 === 0,
            concat(lines, lit("\n## ## ## ## ## ## ## ##")))
          .otherwise(lines)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), t.gopherStats(planted).as("g"))
        .select(col("doc_id"),
          col("g.n_tokens").as("n_tokens"),
          round(col("g.mean_word_len"), 4).as("mean_word_len"),
          round(col("g.symbol_ratio"), 4).as("symbol_ratio"),
          round(col("g.alpha_word_frac"), 4).as("alpha_word_frac"),
          col("g.n_stop_distinct").as("n_stop_distinct"),
          round(col("g.bullet_line_frac"), 4).as("bullet_line_frac"),
          round(col("g.ellipsis_line_frac"), 4).as("ellipsis_line_frac"),
          t.gopherPass(col("g"), minWords = 25, minStopwords = 1).as("pass"))
        .orderBy("doc_id")
    }),
    Q("q_quality_gate", Some(
"""WITH q AS (
           SELECT doc_id, lang,
                  round(LEAST(CAST(len(list_filter(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                                    x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                              / len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) * 5.0, 1.0) * 0.5
                      + LEAST(CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5,
                      4) AS quality
           FROM documents),
         r AS (
           SELECT doc_id, lang, quality,
                  percent_rank() OVER (PARTITION BY lang ORDER BY quality NULLS FIRST) AS pr
           FROM q)
         SELECT doc_id, lang, quality FROM r WHERE pr >= 0.5 ORDER BY doc_id"""))((s, dir) =>
      // Per-language quality-percentile gate: keep the top half by score.
      // Rank-based percent_rank → the kept SET is deterministic under ties.
      operators.Curation.percentileGate(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              functions.TextFunctions.qualityScore(col("text")).as("quality")),
          score = col("quality"), cohort = Seq(col("lang")), minPercentile = 0.5)
        .orderBy("doc_id")),
    Q("q_token_budget", Some(
      """WITH q AS (
           SELECT doc_id, source,
                  round(LEAST(CAST(len(list_filter(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                                    x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                              / len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) * 5.0, 1.0) * 0.5
                      + LEAST(CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5,
                      4) AS quality,
                  len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, source, n_tokens,
                  SUM(n_tokens) OVER (PARTITION BY source ORDER BY quality DESC NULLS LAST, doc_id NULLS FIRST
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM q)
         SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens
         FROM c WHERE cum <= 800 ORDER BY doc_id"""))((s, dir) =>
      // Greedy token-budget fill per source (mixture curation): best quality
      // first, running token total capped at 800 per source.
      operators.Curation.tokenBudget(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("source"),
              functions.TextFunctions.qualityScore(col("text")).as("quality"),
              functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
          tokens = col("n_tokens"), priority = col("quality"),
          tieBreak = col("doc_id"), cohort = Seq(col("source")), budget = 800L)
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")),
    Q("q_pack_sequences", Some(
      """WITH t AS (
           SELECT doc_id,
                  len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS tok
           FROM documents)
         SELECT doc_id,
                CAST(doc_id % 8 AS INTEGER) AS shard,
                CAST((SUM(tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok) // 512 AS BIGINT) AS pack_id
         FROM t ORDER BY doc_id"""))((s, dir) =>
      // Sequence packing for training batches: shard-local prefix-sum bins
      // (capacity 512 tokens, 8 lanes) — ONE shard shuffle, (id, tokens)
      // width only. Pack ids are a pure function of (doc_id, token count);
      // the oracle recomputes them with the same window algebra.
      operators.Packing.packBySequence(
          Tables.load(s, dir, "documents")
            .select(col("doc_id"),
              functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
          idCol = "doc_id", tokenCol = "n_tokens", capacity = 512L, shards = 8)
        .select("doc_id", "shard", "pack_id")
        .orderBy("doc_id")),
    Q("q_sample_split", Some(
      """SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999' THEN 'test'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '33333333' THEN 'val'
                     ELSE 'train' END AS split
         FROM documents ORDER BY doc_id"""))((s, dir) =>
      // Deterministic train/val/test assignment: pure function of the key
      // (md5-prefix thresholds), reproducible on any engine at any
      // parallelism — the DuckDB oracle recomputes the very same split.
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          operators.Sampling.splitAssign(col("doc_id"),
            Seq("test" -> 0.1, "val" -> 0.1)).as("split"))
        .orderBy("doc_id")),
    Q("q_sample_fixed", Some(
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS rn
           FROM documents WHERE doc_id IS NOT NULL)
         WHERE rn <= 5 ORDER BY doc_id"""))((s, dir) =>
      // Fixed-size deterministic sample: exactly 5 docs per language, the
      // 5 lowest md5(doc_id) hashes each — repartition/engine-stable, the
      // oracle recomputes the very same selection (operators/Sampling.scala).
      operators.Sampling.fixedSizeSample(
          Tables.load(s, dir, "documents").select("doc_id", "lang"),
          key = col("doc_id"), strata = col("lang"), n = 5)
        .orderBy("doc_id")),
    Q("q_text_bm25", Some(Bm25TwinSql))((s, dir) =>
      // BM25 ranked retrieval over the corpus for a fixed 3-term query
      // (terms from the synthetic vocabulary). Per-term weights sum as
      // DECIMAL(18,6) so the score is exact cross-engine; ordering is
      // (score desc, doc_id) — total. k1/b are the classic 1.2/0.75.
      operators.Tfidf.bm25(Tables.load(s, dir, "documents"),
          Seq("join", "hash", "row"))
        .select("doc_id", "score", "n_terms")),
    Q("q_text_perplexity", Some(
      // Same LM algebra end-to-end: vocab = top-10000 train unigrams by
      // (count desc, token asc), OOV → '<unk>', V = |vocab| + 1,
      // P(w2|w1) = (c(w1,w2) + 0.1) / (c(w1,·) + 0.1·V), per-bigram ln P
      // cast to DECIMAL(18,6) before the sum
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
           FROM documents WHERE text IS NOT NULL),
         train_toks AS (SELECT doc_id, w FROM toks WHERE doc_id % 2 = 0),
         uni AS (
           SELECT t AS w, count(*) AS n
           FROM (SELECT unnest(w) AS t FROM train_toks) WHERE t <> '' GROUP BY t),
         vocab AS (SELECT w FROM uni ORDER BY n DESC, w LIMIT 10000),
         vsz AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS v FROM vocab),
         train_idx AS (
           SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
           FROM train_toks WHERE len(w) >= 2),
         train_pairs AS (SELECT w[i] AS rw1, w[i + 1] AS rw2 FROM train_idx),
         tp AS (
           SELECT coalesce(v1.w, '<unk>') AS w1, coalesce(v2.w, '<unk>') AS w2
           FROM train_pairs
           LEFT JOIN vocab v1 ON rw1 = v1.w
           LEFT JOIN vocab v2 ON rw2 = v2.w),
         bg AS (SELECT w1, w2, count(*) AS n FROM tp GROUP BY w1, w2),
         ctx AS (SELECT w1, sum(n) AS cn FROM bg GROUP BY w1),
         score_idx AS (
           SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
           FROM toks WHERE len(w) >= 2),
         sp AS (SELECT doc_id, w[i] AS rw1, w[i + 1] AS rw2 FROM score_idx),
         spm AS (
           SELECT doc_id, coalesce(v1.w, '<unk>') AS w1, coalesce(v2.w, '<unk>') AS w2
           FROM sp
           LEFT JOIN vocab v1 ON rw1 = v1.w
           LEFT JOIN vocab v2 ON rw2 = v2.w),
         scored AS (
           SELECT doc_id,
                  CAST(ln((coalesce(bg.n, 0) + 0.1) / (coalesce(ctx.cn, 0) + 0.1 * v))
                       AS DECIMAL(18,6)) AS logp
           FROM spm LEFT JOIN bg USING (w1, w2) LEFT JOIN ctx USING (w1) CROSS JOIN vsz)
         SELECT doc_id, count(*) AS n_bigrams,
                round(exp(-CAST(sum(logp) AS DOUBLE) / count(*)), 4) AS ppl
         FROM scored GROUP BY doc_id ORDER BY doc_id"""))((s, dir) => {
      // CCNet-style LM filtering: train a smoothed bigram LM on the even
      // doc_ids (the "trusted reference" slice), score EVERY document's
      // per-bigram perplexity under it. Log-probs sum as DECIMAL(18,6)
      // (exact cross-engine); docs with <2 tokens have no perplexity and
      // emit no row (operators/Perplexity.scala).
      val docs = Tables.load(s, dir, "documents")
      val lm = operators.Perplexity.train(docs.filter(col("doc_id") % 2 === 0))
      operators.Perplexity.score(docs, lm)
    }),
    Q("q_pipeline_curate", Some(
      // the full perplexity CTE (q_text_perplexity's) extended by the
      // per-language percent_rank bucketing — identical LM algebra
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
           FROM documents WHERE text IS NOT NULL),
         train_toks AS (SELECT doc_id, w FROM toks WHERE doc_id % 2 = 0),
         uni AS (
           SELECT t AS w, count(*) AS n
           FROM (SELECT unnest(w) AS t FROM train_toks) WHERE t <> '' GROUP BY t),
         vocab AS (SELECT w FROM uni ORDER BY n DESC, w LIMIT 10000),
         vsz AS (SELECT CAST(count(*) + 1 AS DOUBLE) AS v FROM vocab),
         train_idx AS (
           SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
           FROM train_toks WHERE len(w) >= 2),
         train_pairs AS (SELECT w[i] AS rw1, w[i + 1] AS rw2 FROM train_idx),
         tp AS (
           SELECT coalesce(v1.w, '<unk>') AS w1, coalesce(v2.w, '<unk>') AS w2
           FROM train_pairs
           LEFT JOIN vocab v1 ON rw1 = v1.w
           LEFT JOIN vocab v2 ON rw2 = v2.w),
         bg AS (SELECT w1, w2, count(*) AS n FROM tp GROUP BY w1, w2),
         ctx AS (SELECT w1, sum(n) AS cn FROM bg GROUP BY w1),
         score_idx AS (
           SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
           FROM toks WHERE len(w) >= 2),
         sp AS (SELECT doc_id, w[i] AS rw1, w[i + 1] AS rw2 FROM score_idx),
         spm AS (
           SELECT doc_id, coalesce(v1.w, '<unk>') AS w1, coalesce(v2.w, '<unk>') AS w2
           FROM sp
           LEFT JOIN vocab v1 ON rw1 = v1.w
           LEFT JOIN vocab v2 ON rw2 = v2.w),
         scored AS (
           SELECT doc_id,
                  CAST(ln((coalesce(bg.n, 0) + 0.1) / (coalesce(ctx.cn, 0) + 0.1 * v))
                       AS DECIMAL(18,6)) AS logp
           FROM spm LEFT JOIN bg USING (w1, w2) LEFT JOIN ctx USING (w1) CROSS JOIN vsz),
         scored2 AS (
           SELECT doc_id, count(*) AS n_bigrams,
                  round(exp(-CAST(sum(logp) AS DOUBLE) / count(*)), 4) AS ppl
           FROM scored GROUP BY doc_id),
         withlang AS (
           SELECT s.doc_id, d.lang, s.n_bigrams, s.ppl
           FROM scored2 s JOIN documents d USING (doc_id)),
         ranked AS (
           SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS pr
           FROM withlang)
         SELECT doc_id, lang, n_bigrams, ppl,
                CASE WHEN pr <= 1.0/3.0 THEN 'head'
                     WHEN pr <= 2.0/3.0 THEN 'middle' ELSE 'tail' END AS bucket
         FROM ranked WHERE pr <= 2.0/3.0 ORDER BY doc_id"""))((s, dir) => {
      // The CCNet curation composition in ONE plan: train the bigram LM on
      // the trusted slice → score every document's perplexity → rank per
      // language (percent_rank, (ppl, doc_id) total order) → bucket into
      // head/middle/tail thirds → keep head+middle. The published recipe:
      // perplexity-bucket the crawl against a reference LM, drop the tail.
      // Docs with <2 tokens have no perplexity and are for the length gate
      // (q_quality_gate), not this one.
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.load(s, dir, "documents")
      val lm = operators.Perplexity.train(docs.filter(col("doc_id") % 2 === 0))
      // lang rides the scoring projection (scoreCarrying) instead of joining
      // the corpus-sized score relation back against the corpus on doc_id —
      // that join was a second documents scan plus a corpus-wide exchange of
      // both sides at scale (and the old score()'s internal orderBy fed a
      // wasted doc_id sort below the lang window). Same rows, same scores
      // (r21 plan diff: 1 scan + 1 join fewer, oracle hash unchanged).
      val scored = operators.Perplexity.scoreCarrying(docs, lm, carry = Seq("lang"))
      val pr = percent_rank().over(
        Window.partitionBy("lang").orderBy(col("ppl"), col("doc_id")))
      scored.withColumn("__pr", pr)
        .withColumn("bucket",
          when(col("__pr") <= lit(1.0 / 3.0), "head")
            .when(col("__pr") <= lit(2.0 / 3.0), "middle")
            .otherwise("tail"))
        .filter(col("__pr") <= lit(2.0 / 3.0))
        .select("doc_id", "lang", "n_bigrams", "ppl", "bucket")
        .orderBy("doc_id")
    }),
    Q("q_text_tfidf", Some(
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
           FROM documents WHERE text IS NOT NULL),
         terms AS (SELECT doc_id, len(w) AS ntok, unnest(w) AS term FROM toks),
         tf AS (
           SELECT doc_id, term, count(*) AS n, any_value(ntok) AS ntok
           FROM terms WHERE term <> '' GROUP BY doc_id, term),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         nn AS (SELECT count(*) AS n_docs FROM documents WHERE text IS NOT NULL),
         scored AS (
           SELECT tf.doc_id, tf.term, tf.n,
                  round(CAST(tf.n AS DOUBLE) / ntok, 4) AS tf_r,
                  dfreq.df,
                  round((CAST(tf.n AS DOUBLE) / ntok)
                        * (ln((n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0), 4) AS tfidf
           FROM tf JOIN dfreq USING (term) CROSS JOIN nn),
         ranked AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank
           FROM scored)
         SELECT doc_id, term, n, tf_r AS tf, df, tfidf, rank
         FROM ranked WHERE rank <= 3 AND doc_id < 50 ORDER BY doc_id, rank"""))((s, dir) =>
      // TF-IDF keyword extraction: top-3 terms per doc. Scored over the FULL
      // corpus (df/N are corpus-level), output restricted afterwards. One
      // plan: (doc,term) agg → term df agg → term join; N via scalar
      // subquery. Ranking uses the ROUNDED tfidf + lexicographic term
      // tie-break so the order is engine-portable (operators/Tfidf.scala).
      operators.Tfidf.topTerms(Tables.load(s, dir, "documents"), k = 3)
        .filter(col("doc_id") < 50)
        .select("doc_id", "term", "n", "tf", "df", "tfidf", "rank")
        .orderBy("doc_id", "rank")),
    Q("q_vocab_coverage", Some(
      // same tokenizer; rank/cum over (n desc, term) — the total order both
      // engines agree on; cum_n cast back to BIGINT (DuckDB sums to HUGEINT)
      """WITH toks AS (
           SELECT regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w
           FROM documents WHERE text IS NOT NULL),
         terms AS (SELECT unnest(w) AS term FROM toks),
         freq AS (SELECT term, count(*) AS n FROM terms WHERE term <> '' GROUP BY term),
         tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM freq),
         ranked AS (
           SELECT term, n,
                  CAST(row_number() OVER (ORDER BY n DESC, term) AS INTEGER) AS rank,
                  CAST(sum(n) OVER (ORDER BY n DESC, term ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
           FROM freq)
         SELECT rank, term, n, cum_n, round(CAST(cum_n AS DOUBLE) / t, 6) AS cum_frac
         FROM ranked CROSS JOIN tot WHERE rank <= 100 ORDER BY rank"""))((s, dir) =>
      // Tokenizer-vocab coverage curve (operators/Vocab.scala): top-100
      // terms by corpus frequency with running token share — how vocab
      // sizes get chosen. Native scan-side term counting, ONE term-keyed
      // shuffle, then everything is vocabulary-sized (partial top-k, k-row
      // window, total via scalar subquery over the materialized freq).
      operators.Vocab.coverage(Tables.load(s, dir, "documents"), k = 100)
        .orderBy("rank")),
    Q("q_hist_chars", Some(
      """SELECT lang, (n_chars // 50) * 50 AS bucket_lo, count(*) AS n_docs
         FROM documents GROUP BY lang, bucket_lo ORDER BY lang, bucket_lo"""))((s, dir) => {
      // Histogram: doc-length distribution per language, 50-char buckets —
      // the standard corpus-profiling aggregate (exact integer bucketing,
      // so the oracle is bit-exact; one shuffle on (lang, bucket)).
      import org.apache.spark.sql.graftshim.ColumnShim
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"),
          (ColumnShim.intDiv(col("n_chars"), lit(50)) * 50).as("bucket_lo"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "bucket_lo")
    }),
    Q("q_zorder_key", Some {
      // same Morton bit formula, expanded term-by-term (8 bits per dim)
      val terms = (0 until 8).flatMap(i => Seq(
        s"((((l_partkey % 256) >> $i) & 1) << ${2 * i})",
        s"((((l_suppkey % 256) >> $i) & 1) << ${2 * i + 1})"))
      s"""SELECT l_orderkey, l_linenumber, l_partkey % 256 AS xb, l_suppkey % 256 AS yb,
                (${terms.mkString(" | ")}) AS zkey
         FROM lineitem WHERE l_orderkey < 1000
         ORDER BY l_orderkey, l_linenumber, zkey, xb"""
    })((s, dir) =>
      // Z-order clustering key (operators/Layout.scala): Morton-interleave
      // two 8-bit dimensions into the single sort key writeZOrdered clusters
      // on, so range predicates on EITHER column min/max-skip row groups.
      // Pure integer bit algebra from shiftleft/shiftright built-ins —
      // whole-stage codegen, zero shuffles beyond the output sort, and
      // engine-portable (the oracle evaluates the same bit formula).
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 256).as("xb"), (col("l_suppkey") % 256).as("yb"))
        .withColumn("zkey", operators.Layout.zOrderKey(col("xb"), col("yb"), 8))
        .filter(col("l_orderkey") < 1000)
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // the sort must be total over every output column or tie order
        // diverges between engines (caught by the sf1 oracle gate, r18)
        .orderBy("l_orderkey", "l_linenumber", "zkey", "xb")),
    Q("q_join_salted", Some(
      """SELECT c_mktsegment, count(*) AS n_orders,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""))((s, dir) => {
      // Salted skew join (operators/Skew.scala): the large side gets a
      // random salt, the small side replicates across salts — hot keys
      // spread over `factor` reducers. Result is EXACTLY a plain join's, so
      // the oracle is the plain SQL join + aggregate (salting is a physical
      // rewrite, not a semantic one).
      // Project BOTH sides to the join+agg columns before salting: the
      // salt explode replicates the small side factor times and the big
      // exchange carries every column that enters the join — unprojected,
      // that is 6 order + 5 customer columns for a 2-column aggregate
      // (measured 8.1 s vs 3.4 s at sf10, identical result).
      val orders = Tables.load(s, dir, "orders").select("o_custkey", "o_totalprice")
      val customer = Tables.load(s, dir, "customer").select("c_custkey", "c_mktsegment")
      operators.Skew.saltedJoin(orders, customer, "o_custkey", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          plans.Decimal128.sumMoney(col("o_totalprice")).as("total_price"))
        .orderBy("c_mktsegment")
    }),
    Q("q_zorder_pruned", Some(
      // recomputed from the ORIGINAL lineitem — a layout rewrite must not
      // change results; // (floor) division matches Spark's long division
      """WITH b AS (SELECT max(l_partkey) // 4 AS pq, max(l_suppkey) // 4 AS sq FROM lineitem)
         SELECT l_returnflag, count(*) AS n_rows,
                CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM lineitem, b WHERE l_partkey <= pq AND l_suppkey <= sq
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
      Set(ZorderedLineitem))((s, dir) => {
      // The layout operator's actual VALUE, on the registered surface: a
      // two-dimensional range probe over the memoized writeZOrdered copy
      // of lineitem. q_zorder_key oracle-checks the Morton key arithmetic;
      // this row reads the REWRITTEN layout, so the scan's zone maps
      // (8 MB row groups, Morton-clustered) skip the ~94% of tiles the
      // (l_partkey ≤ max/4 ∧ l_suppkey ≤ max/4) predicate cannot touch —
      // the plan pin lives in LayoutSpec via numOutputRows; the DuckDB twin
      // recomputes from the ORIGINAL lineitem (same rows, any layout).
      // Bounds derive from the data (two-long stats collect) so the probe
      // stays ~6% selective at every scale factor.
      val zpath = ZorderedLineitem(s, dir)
      val li = s.read.parquet(zpath)
      // Bounds from parquet FOOTER statistics (r21, guide §6): the stats
      // job was a full two-column scan of the copy on EVERY probe — the
      // footers already state the exact int64 max, so read them (driver-
      // side metadata, one bounded read per part file). Identical values
      // by parquet's stats contract; scan fallback if any footer lacks
      // stats, so the bounds can never silently differ.
      val (pq, sq) = operators.Layout.footerLongMax(s, zpath,
          Seq("l_partkey", "l_suppkey")) match {
        case Some(m) => (m("l_partkey") / 4, m("l_suppkey") / 4)
        case None =>
          val mx = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
          (mx.getLong(0) / 4, mx.getLong(1) / 4)
      }
      li.filter(col("l_partkey") <= pq && col("l_suppkey") <= sq)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          plans.Decimal128.sumMoney(col("l_extendedprice")).as("sum_price"))
        .orderBy("l_returnflag")
    }),
    Q("q_corpus_card", Some(
      // same tokenizer, same quality formula (q_text_quality's), decimal
      // quality sum, quantile_cont median, md5 distinct — one GROUP BY
      """WITH t AS (
           SELECT lang, text, n_chars,
                  len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS ntok,
                  round(LEAST(CAST(len(list_filter(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                                    x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                              / len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) * 5.0, 1.0) * 0.5
                      + LEAST(CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5,
                      4) AS quality
           FROM documents)
         SELECT lang, count(*) AS n_docs,
                CAST(SUM(ntok) AS BIGINT) AS total_tokens,
                round(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(text), 4) AS avg_quality,
                round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
                count(DISTINCT md5(text)) AS n_unique
         FROM t GROUP BY lang ORDER BY lang"""))((s, dir) => {
      // The corpus DATASHEET — per-language doc counts, token totals, mean
      // quality (decimal money-sum, order-free), exact median length, and
      // the exact-dup signal (distinct md5 vs rows). r21: ONE text scan —
      // pre-group by (lang, md5(text), n_chars), then reduce the narrow
      // group states per lang. The two earlier shapes each read text twice
      // (base aggregate + its own distinct-count aggregate joined back;
      // the single-aggregate form Expanded every DOC row ×2 with exact-
      // percentile buffers riding the doubled stream — measured 25% worse
      // at sf10). Pre-grouping moves the Expand ABOVE the reduction: it
      // doubles content-hash-level rows (~60 B each), never documents, and
      // the percentile reads frequency-weighted (value, count) pairs —
      // identical multiset, exact by Percentile's frequency contract.
      // n_chars joins the group key so no constant-per-hash assumption is
      // needed; the quality sum stays exact through the two levels via the
      // 128-bit partial/merge pair (sumMoneyPartial/sumMoneyMerge — a plain
      // sum of per-group DOUBLES would re-round per add). NULL lang is a
      // normal group (the old two-aggregate form needed a null-safe join
      // for it); NULL text ⇒ NULL hash group: counted in n_docs, skipped
      // by count(text)/countDistinct exactly as before.
      val docs = Tables.load(s, dir, "documents")
      docs
        .groupBy(col("lang"), md5(col("text")).as("__h"), col("n_chars"))
        .agg(
          count(lit(1)).as("__n"),
          count(col("text")).as("__nt"),
          sum(functions.TextFunctions.tokenCount(col("text")).cast("long"))
            .as("__tok"),
          plans.Decimal128.sumMoneyPartial(
            functions.TextFunctions.qualityScore(col("text")), 6).as("__q"))
        .groupBy("lang")
        .agg(
          sum(col("__n")).as("n_docs"),
          sum(col("__tok")).as("total_tokens"),
          round(plans.Decimal128.sumMoneyMerge(col("__q"), 6)
            / sum(col("__nt")), 4).as("avg_quality"),
          round(expr("percentile(n_chars, 0.5D, __n)"), 4).as("p50_chars"),
          countDistinct(col("__h")).as("n_unique"))
        .select("lang", "n_docs", "total_tokens", "avg_quality", "p50_chars", "n_unique")
        .orderBy("lang")
    }),
    Q("q_corpus_card_approx")((s, dir) =>
      // The 100 TB shape of q_corpus_card: exact `percentile` buffers EVERY
      // group value (the documented scale hazard of the exact card) and
      // exact countDistinct carries a full dedup exchange; this twin swaps
      // in approx_percentile (bounded mergeable quantile sketch) and
      // approx_count_distinct (HLL++, constant state) — same single
      // scan + one partial-aggregating exchange, memory now O(sketch) per
      // group instead of O(rows). No SQL oracle: sketch outputs are
      // engine-specific by design; ApproxSpec pins both columns against
      // the exact card's values with accuracy bounds.
      Tables.load(s, dir, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(functions.TextFunctions.tokenCount(col("text")).cast("long"))
            .as("total_tokens"),
          round(plans.Decimal128.sumMoney(
              functions.TextFunctions.qualityScore(col("text")), 6)
              / count(col("text")), 4)
            .as("avg_quality"),
          percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("p50_chars_approx"),
          // rsd 1%: the default 5% is a WORST-CASE bound that small groups
          // (hundreds of docs per language at low sf) actually hit; the
          // tighter sketch is still constant mergeable state
          approx_count_distinct(md5(col("text")), rsd = 0.01).as("n_unique_approx"))
        .orderBy("lang")),
    Q("q_corpus_card_daily", Some(
      // the WHOLE-corpus recomputation of the merged-day-states card:
      // same token/quality twins as q_corpus_card; the histogram median is
      // the first 50-char bucket whose running count reaches ceil(n/2),
      // reported as the bucket midpoint. floor() before the INT cast —
      // DuckDB's double→INT cast ROUNDS where Spark's truncates.
      """WITH t AS (
           SELECT lang, text, n_chars,
                  len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS ntok,
                  round(LEAST(CAST(len(list_filter(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                                    x -> x IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                              / len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) * 5.0, 1.0) * 0.5
                      + LEAST(CAST(len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS DOUBLE) / 100.0, 1.0) * 0.5,
                      4) AS quality
           FROM documents),
         agg AS (
           SELECT lang, count(*) AS n_docs,
                  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
                  round(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_quality
           FROM t GROUP BY lang),
         hist AS (
           SELECT lang, CAST(floor(n_chars / 50.0) AS INT) AS b, count(*) AS bn
           FROM t GROUP BY 1, 2),
         run AS (
           SELECT lang, b, SUM(bn) OVER (PARTITION BY lang ORDER BY b) AS rn
           FROM hist),
         med AS (
           SELECT r.lang, MIN(r.b) AS mb
           FROM run r JOIN agg a ON r.lang = a.lang
           WHERE r.rn >= ceil(a.n_docs / 2.0) GROUP BY r.lang)
         SELECT a.lang, a.n_docs, a.total_tokens, a.avg_quality,
                CAST(m.mb * 50 + 25 AS BIGINT) AS p50_chars_est
         FROM agg a JOIN med m ON a.lang = m.lang ORDER BY a.lang"""))((s, dir) => {
      // The ROLLING card (operators/CorpusCard.scala): the corpus arrives
      // in three "days" (doc_id % 3 — interleaved so every slice sees all
      // languages), each day reduces ONCE to constant-size mergeable state
      // (exact sums + decimal quality + 50-char histogram + HLL binary),
      // and the corpus card is the union of the states — day N never
      // rescans days 1..N−1. The oracle recomputes the deterministic
      // columns from the WHOLE corpus in SQL: hash-equality here IS the
      // mergeability claim (merged day-states ≡ one-shot card; the
      // histogram-median estimate included). The HLL estimate column is
      // engine-specific and spec-covered instead (CorpusCardSpec bounds,
      // parquet round trip, merge associativity).
      // r21: the three day-states reduce out of ONE scan (sketchSlicesOnePass
      // groups by the day id) instead of one full documents scan per day —
      // the states, and therefore the merged card, are row-identical to the
      // filter-per-day union (every state column reduces per (day, lang)
      // either way; guide §2.4 — the three scans shared no work). The
      // isin(0,1,2) filter is the EXACT translation of the old per-day
      // `doc_id % 3 === d` enumeration: a NULL doc_id matched no slice, a
      // negative NON-multiple of 3 matched none either (Spark % keeps the
      // dividend's sign: -1 % 3 = -1), while a negative MULTIPLE of 3
      // (-3 % 3 = 0) DID land in day 0 — isin(0,1,2) reproduces all three
      // cases; do not "simplify" it to doc_id >= 0. groupBy alone is total
      // over the slice expression; the filter restores the enumeration's
      // domain (r21 review).
      val docs = Tables.load(s, dir, "documents")
      val merged = operators.CorpusCard.merge(
        operators.CorpusCard.sketchSlicesOnePass(
          docs.filter((col("doc_id") % 3).isInCollection(Seq(0, 1, 2))),
          col("doc_id") % 3))
      operators.CorpusCard.finish(merged)
        .select("lang", "n_docs", "total_tokens", "avg_quality", "p50_chars_est")
        .orderBy("lang")
    }),
    Q("q_url_canonical", Some(
      // identical canonicalization algebra (backref syntax \1 here vs $1
      // in Spark — each engine's own replacement grammar, same patterns)
      """WITH u AS (
           SELECT doc_id,
                  'HTTPS://Site' || CAST(doc_id % 3 AS VARCHAR) ||
                  '.Example.COM:443/Path/' || CAST(doc_id % 7 AS VARCHAR) ||
                  '?utm_source=x&id=' || CAST(doc_id % 5 AS VARCHAR) ||
                  '&fbclid=c' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         parts AS (
           SELECT doc_id, url,
                  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0) AS head
           FROM (SELECT doc_id, regexp_replace(url, '#.*$', '') AS url FROM u)),
         canon AS (
           SELECT doc_id,
                  regexp_replace(regexp_replace(lower(head), '^(http://[^/?#:]+):80$', '\1'),
                                 '^(https://[^/?#:]+):443$', '\1')
                  || regexp_extract(substr(url, len(head) + 1), '^[^?]*', 0)
                  || CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END AS canon_url
           FROM (
             SELECT doc_id, url, head,
                    array_to_string(list_filter(
                      string_split(regexp_extract(substr(url, len(head) + 1), '^[^?]*\?(.*)$', 1), '&'),
                      p -> NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|ref|ref_src)=')
                           AND p <> ''), '&') AS q2
             FROM parts))
         SELECT canon_url, count(*) AS n_docs, min(doc_id) AS keeper
         FROM canon GROUP BY canon_url ORDER BY canon_url"""))((s, dir) => {
      // URL-keyed dedup of crawl snapshots — the step BEFORE content dedup:
      // every doc gets a planted URL wearing the full decoration kit
      // (uppercase scheme/host, default :443 port, utm/fbclid tracking
      // params); canonicalization must collapse the 500 decorated URLs to
      // the 3×7×5 = 105 real pages, keeping min doc_id per page. Pure
      // scan-stage string algebra + one small aggregate.
      val url = concat(lit("HTTPS://Site"), (col("doc_id") % 3).cast("string"),
        lit(".Example.COM:443/Path/"), (col("doc_id") % 7).cast("string"),
        lit("?utm_source=x&id="), (col("doc_id") % 5).cast("string"),
        lit("&fbclid=c"), col("doc_id").cast("string"))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), functions.TextFunctions.normalizeUrl(url).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
        .orderBy("canon_url")
    }),
    Q("q_url_domains", Some(
      """WITH aug AS (
           SELECT doc_id,
                  text || CASE WHEN doc_id % 4 = 0
                               THEN ' see https://site' || CAST(doc_id % 5 AS VARCHAR)
                                 || '.example.com/page/' || CAST(doc_id AS VARCHAR)
                               ELSE '' END AS t
           FROM documents),
         doms AS (
           SELECT list_transform(
                    regexp_extract_all(t, '(?i:https?)://(?:[^/\s]*@)?([A-Za-z0-9-]+(?:\.[A-Za-z0-9-]+)*)', 1),
                    d -> lower(d)) AS ds
           FROM aug),
         kept AS (
           SELECT ds FROM doms
           WHERE len(list_filter(ds,
                   d -> d = 'site0.example.com' OR d LIKE '%.site0.example.com')) = 0),
         d AS (SELECT unnest(ds) AS domain FROM kept)
         SELECT domain, count(*) AS n_citations FROM d GROUP BY domain ORDER BY domain"""))((s, dir) => {
      // Per-domain corpus stats after a blocklist gate — the CommonCrawl
      // curation step. URLs are planted (every 4th doc cites one of five
      // synthetic domains); docs citing a blocked domain drop ENTIRELY
      // (conservative policy), then surviving citations aggregate per
      // domain. Pure regexp scan → one small aggregate.
      val aug = concat(col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" see https://site"), (col("doc_id") % 5).cast("string"),
            lit(".example.com/page/"), col("doc_id").cast("string")))
          .otherwise(lit("")))
      // domains projected ONCE, gate + explode reuse the array (Filter and
      // Project don't share subexpressions — recomputing the regexp in the
      // gate would scan every text twice)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), functions.TextFunctions.urlDomains(aug).as("doms"))
        .filter(functions.TextFunctions.domainGateOnDomains(col("doms"),
          Seq("site0.example.com")))
        .select(explode(col("doms")).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n_citations"))
        .orderBy("domain")
    }),
    Q("q_text_compress")((s, dir) =>
      // Compression-ratio quality signal (zlib): degenerate/templated text
      // compresses far below prose. Rows-only — DuckDB exposes no deflate,
      // so no SQL oracle can exist (SURVEY §6); the contract is pinned in
      // TextFunctionsSpec (ordering, determinism, null/empty edges).
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextFunctions.compressionRatio(col("text")).as("compress_ratio"))
        .orderBy("doc_id")),
    Q("q_text_langid", Some(
      // Same contract as TextFunctions.langId: marker-token counts per
      // language, argmax with ties → first language in sorted-code order
      // (the CASE cascade checks de,en,es,fr,zh with >=), zero hits → 'und'.
      """WITH toks AS (
           SELECT doc_id,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS t
           FROM documents
         ), c AS (
           SELECT doc_id,
                  len(list_filter(t, x -> x IN ('der','die','und','das','nicht'))) AS c_de,
                  len(list_filter(t, x -> x IN ('the','and','of','is','to')))      AS c_en,
                  len(list_filter(t, x -> x IN ('el','los','las','una','es')))     AS c_es,
                  len(list_filter(t, x -> x IN ('le','la','et','les','des')))      AS c_fr,
                  len(list_filter(t, x -> x IN ('的','是','在','了','和')))          AS c_zh
           FROM toks
         )
         SELECT doc_id,
                CASE WHEN c_en IS NULL THEN NULL -- NULL text: Spark langId is null; without this guard every >= is unknown and the cascade falls through to 'zh'
                     WHEN greatest(c_de, c_en, c_es, c_fr, c_zh) = 0 THEN 'und'
                     WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
                     WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                     WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
                     WHEN c_fr >= c_zh THEN 'fr'
                     ELSE 'zh' END AS lang_pred
         FROM c ORDER BY doc_id"""))((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    Q("q_text_fingerprint")((s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextFunctions.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id").limit(200)),
    Q("q_decontaminate", Some(
      """WITH sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
                       ELSE list_transform(range(1, len(toks) - 2),
                                           i -> array_to_string(list_slice(toks, i, i + 3), ' '))
                  END) AS sh
           FROM (SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents)
         ),
         bench AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
         grams AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0),
         bad AS (SELECT DISTINCT grams.doc_id FROM grams JOIN bench USING (g))
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
         ORDER BY doc_id"""))((s, dir) => {
      // Benchmark decontamination: every 50th doc stands in for the eval
      // set; the rest is the training corpus. 4-gram overlap (the width is
      // data-dependent — this vocabulary needs 4; prose pipelines use 8–13).
      // Bench grams broadcast; corpus grams probe map-side; bodies never
      // shuffle (operators/Decontam.scala).
      val docs = Tables.load(s, dir, "documents")
      operators.Decontam.decontaminate(
          docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0), w = 4)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),
    Q("q_pii_redact", Some(
      """WITH aug AS (
           SELECT doc_id, text
               || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
               || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.7' ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN ' call 555-867-5309' ELSE '' END AS aug
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
                CAST(len(regexp_extract_all(aug, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
                CAST(len(regexp_extract_all(aug, '\b\d{3}-\d{3,4}-\d{4}\b')) AS INTEGER) AS n_phones,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
                  '\b\d{3}-\d{3,4}-\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM aug ORDER BY doc_id"""))((s, dir) => {
      // PII detect + redact. The synthetic corpus carries no PII, so both
      // sides append the SAME deterministic contact strings (email for every
      // 3rd doc, IPv4 for every 5th, phone for every 7th) and then count and
      // redact them — the regex work is real, the planted data just makes
      // the counts non-zero.
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 250).cast("string"), lit(".7")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit(" call 555-867-5309")).otherwise(lit("")))
      // Native fused PiiStats (one string conversion, ≤5 matcher walks per
      // row, one node) — column-twin parity pinned in PiiParitySpec. Struct
      // aliased in one select, fields extracted in a second, so the
      // non-cheap expression is never inlined per consumer (the
      // q_text_repetition pattern; plan pinned in PlanPropertiesSpec).
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), plans.PiiExpressions.piiStats(aug).as("p"))
        .select(col("doc_id"),
          col("p.n_emails").as("n_emails"),
          col("p.n_ips").as("n_ips"),
          col("p.n_phones").as("n_phones"),
          col("p.redacted").as("redacted"))
        .orderBy("doc_id")
    }),
    Q("q_dedup_clusters", Some(
      """WITH RECURSIVE sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                       ELSE list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                  END) AS sh
           FROM (SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents)
           WHERE doc_id < 100
         ),
         e AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.005
         ),
         sym AS (SELECT id_a AS s, id_b AS d FROM e UNION SELECT id_b, id_a FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM sh
           UNION
           SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s
         )
         SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id ORDER BY doc_id"""))((s, dir) => {
      // Duplicate-cluster resolution: connected components over a similarity
      // graph. Edges = banded candidate pairs (id within +3 — an equi-join
      // on the replicated offset, NOT an inequality join) that share any
      // 3-gram (rounded Jaccard >= 0.005). The size-6 component in this data
      // is pure transitivity — its farthest members never paired directly.
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 100)
      val sh = docs.select(col("doc_id"), plans.TextExpressions.shingleSet(col("text")).as("sh"))
      val offsets = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .withColumn("__match_id", col("id_a") + col("k"))
      val edges = offsets
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
          col("id_b") === col("__match_id"))
        .filter(operators.Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.005)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      operators.Clusters.connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component"))
        .orderBy("doc_id")
    }),
    Q("q_mix_sources", Some(
      """SELECT doc_id, source FROM documents
         WHERE CASE WHEN source = 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc'
                    WHEN source = 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
                    WHEN source = 'src3' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
                    ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999' END
         ORDER BY doc_id"""))((s, dir) =>
      // Domain-mixing selection: per-source keep fractions (the shape
      // temperatureFractions produces), every decision a pure md5 function
      // of doc_id — the oracle recomputes the same CASE + hash comparison.
      operators.Sampling.stratifiedSample(
          Tables.load(s, dir, "documents").select("doc_id", "source"),
          key = col("doc_id"), strata = col("source"),
          fractions = Map("src1" -> 0.8, "src2" -> 0.5, "src3" -> 0.25),
          defaultFraction = 0.1)
        .orderBy("doc_id")),
    Q("q_text_chunks", Some(
      """WITH t AS (
           SELECT doc_id,
                  regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS w,
                  len(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS n
           FROM documents WHERE text IS NOT NULL),
         s AS (SELECT doc_id, w, n, unnest(range(0, greatest(n, 1), 4)) AS start FROM t)
         SELECT doc_id,
                CAST(start // 4 AS INTEGER) AS chunk_id,
                array_to_string(list_slice(w, start + 1, start + 8), ' ') AS chunk_text,
                CAST(least(8, n - start) AS INTEGER) AS n_chunk_tokens
         FROM s ORDER BY doc_id, chunk_id"""))((s, dir) =>
      // Token-window chunking: 8-token windows, stride 4 (overlapping) —
      // tokenize → sequence → posexplode → slice, all inside the scan
      // projection, zero shuffle (operators/Chunking.scala).
      operators.Chunking.tokenWindows(Tables.load(s, dir, "documents"),
          idCol = "doc_id", textCol = "text", window = 8, stride = 4)
        .select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens")
        .orderBy("doc_id", "chunk_id")),
    Q("q_line_dedup", Some(
      """WITH aug AS (
           SELECT doc_id, regexp_replace(text, '(\S+\s+\S+)\s+', '\1' || chr(10), 'g') AS t
           FROM documents),
         l AS (
           SELECT doc_id,
                  unnest(string_split(t, chr(10))) AS line,
                  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS ord
           FROM aug),
         w AS (
           SELECT doc_id, ord, line,
                  row_number() OVER (PARTITION BY line ORDER BY doc_id, ord) AS rn
           FROM l)
         SELECT doc_id,
                coalesce(string_agg(line, chr(10) ORDER BY ord) FILTER (WHERE rn = 1), '') AS text,
                count(*) FILTER (WHERE rn = 1) AS n_lines_kept,
                count(*) FILTER (WHERE rn > 1) AS n_lines_dropped
         FROM w GROUP BY doc_id ORDER BY doc_id"""))((s, dir) => {
      // Global exact line dedup (the C4-style boilerplate-removal step).
      // The synthetic corpus has no newlines, so both sides break the text
      // into 2-word lines first (tiny vocabulary → real cross-document line
      // collisions); first occurrence by (doc_id, ordinal) wins, docs
      // reassemble in order (operators/Lines.scala).
      val aug = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+\\s+\\S+)\\s+", "$1\n").as("text"))
      operators.Lines.dedupLines(aug)
        .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
        .orderBy("doc_id")
    }),
    Q("q_line_filter", Some(
      """WITH aug AS (
           SELECT doc_id, regexp_replace(text, '(\S+\s+\S+)\s+', '\1' || chr(10), 'g') AS t
           FROM documents),
         l AS (
           SELECT doc_id,
                  unnest(string_split(t, chr(10))) AS line,
                  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS ord
           FROM aug)
         SELECT doc_id,
                coalesce(string_agg(line, chr(10) ORDER BY ord)
                  FILTER (WHERE NOT regexp_matches(line, '\bthe\b')), '') AS text,
                count(*) FILTER (WHERE NOT regexp_matches(line, '\bthe\b')) AS n_lines_kept,
                count(*) FILTER (WHERE regexp_matches(line, '\bthe\b')) AS n_lines_dropped
         FROM l GROUP BY doc_id ORDER BY doc_id"""))((s, dir) => {
      // Per-line boilerplate filter over the same planted 2-word lines:
      // drop every line containing the stopword "the" (the C4 rule shape —
      // predicate per line, reassemble survivors in order). Zero shuffle,
      // zero explode, and since r14 zero interpreted lambdas: the rules run
      // through the native one-pass FilterLines expression
      // (plans/TextExpressions.scala; the HOF twin paid 2.1× at sf0.1 in
      // per-element lambda dispatch — column twin parity in LinesSpec).
      val aug = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(col("text"), "(\\S+\\s+\\S+)\\s+", "$1\n").as("text"))
      operators.Lines.filterLinesFast(aug,
          plans.FilterLines.LineRules(blockWords = Seq("the")))
        .select("doc_id", "text", "n_lines_kept", "n_lines_dropped")
        .orderBy("doc_id")
    }),
    Q("q_html_extract", Some(
      // the same planted page + the same step algebra (see the query and
      // plans/HtmlExpressions.scala) in DuckDB regexp functions
      """WITH page AS (
           SELECT doc_id,
             '<html><head><title>Doc ' || doc_id || '</title><style>p{margin:0}</style></head><body>'
             || '<nav><a href="/">Home</a> <a href="/about">About us</a> <a href="/contact">Contact</a></nav>'
             || '<h1>Doc ' || doc_id || '</h1>'
             || '<div><p>' || text || '</p>'
             || '<p><a href="/ref">' || substr(text, 1, 20) || '</a> ' || substr(text, 21, CAST(doc_id % 40 AS INT)) || '</p>'
             || '<p>' || substr(text, 1, CAST(doc_id % 60 AS INT)) || '</p></div>'
             || '<script>var t = "x < y";</script><!-- junk <p>hidden</p> -->'
             || '<footer><a href="/terms">Terms</a> <a href="/privacy">Privacy</a></footer></body></html>' AS h
           FROM documents WHERE text IS NOT NULL),
         san AS (
           SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(h,
             '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g') AS h
           FROM page),
         blk AS (
           SELECT doc_id,
             unnest(string_split_regex(h, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|hr|nav|footer|header|section|article|table|tr|td|th|blockquote)\b[^>]*>')) AS b,
             unnest(range(1, len(string_split_regex(h, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|hr|nav|footer|header|section|article|table|tr|td|th|blockquote)\b[^>]*>')) + 1)) AS ord
           FROM san),
         scored AS (
           SELECT doc_id, ord,
             trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS t,
             coalesce(list_sum(list_transform(regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1), x -> length(x))), 0) AS lc
           FROM blk),
         gated AS (
           SELECT doc_id, ord, t,
             (length(t) >= 25
              AND (CASE WHEN length(t) = 0 THEN 0 ELSE len(string_split(t, ' ')) END) >= 3
              AND lc * 100 < length(t) * 50) AS keep
           FROM scored)
         SELECT doc_id,
                coalesce(string_agg(t, chr(10) ORDER BY ord) FILTER (WHERE keep), '') AS html,
                count(*) FILTER (WHERE length(t) > 0) AS n_blocks,
                count(*) FILTER (WHERE keep) AS n_kept
         FROM gated GROUP BY doc_id ORDER BY doc_id"""))((s, dir) => {
      // Raw-HTML→text extraction — the stage BEFORE line cleaning in every
      // CommonCrawl-style pipeline (SURVEY §2 #105). The corpus has no
      // HTML, so both sides plant the SAME page around each document:
      // title/nav boilerplate, a full-text content paragraph, a link-led
      // paragraph and a doc_id-length-varied short paragraph (so keep
      // decisions vary per doc and exercise every gate), a tracking
      // script with a '<' inside, comment junk wrapping a fake block tag,
      // and a link-only footer. The operator (plans/HtmlExpressions.scala,
      // one native scan pass; column twin parity in HtmlExtractSpec) must
      // keep exactly the content-like blocks.
      val pages = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), plantedHtmlPage.as("html"))
      operators.HtmlExtract.extract(pages)
        .select("doc_id", "html", "n_blocks", "n_kept")
        .orderBy("doc_id")
    }),
    Q("q_pipeline_html", Some(
      // the q_html_extract algebra composed with the q_line_filter line
      // rule and the min-id-per-text dedup window — the same three stages
      // the Spark plan fuses
      """WITH page AS (
           SELECT doc_id,
             '<html><head><title>Doc ' || doc_id || '</title><style>p{margin:0}</style></head><body>'
             || '<nav><a href="/">Home</a> <a href="/about">About us</a> <a href="/contact">Contact</a></nav>'
             || '<h1>Doc ' || doc_id || '</h1>'
             || '<div><p>' || text || '</p>'
             || '<p><a href="/ref">' || substr(text, 1, 20) || '</a> ' || substr(text, 21, CAST(doc_id % 40 AS INT)) || '</p>'
             || '<p>' || substr(text, 1, CAST(doc_id % 60 AS INT)) || '</p></div>'
             || '<script>var t = "x < y";</script><!-- junk <p>hidden</p> -->'
             || '<footer><a href="/terms">Terms</a> <a href="/privacy">Privacy</a></footer></body></html>' AS h
           FROM documents WHERE text IS NOT NULL),
         san AS (
           SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(h,
             '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
             '(?s)<!--.*?-->', ' ', 'g') AS h
           FROM page),
         blk AS (
           SELECT doc_id,
             unnest(string_split_regex(h, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|hr|nav|footer|header|section|article|table|tr|td|th|blockquote)\b[^>]*>')) AS b,
             unnest(range(1, len(string_split_regex(h, '(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|hr|nav|footer|header|section|article|table|tr|td|th|blockquote)\b[^>]*>')) + 1)) AS ord
           FROM san),
         scored AS (
           SELECT doc_id, ord,
             trim(regexp_replace(regexp_replace(b, '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS t,
             coalesce(list_sum(list_transform(regexp_extract_all(b, '(?is)<a\b[^>]*>(.*?)</a>', 1), x -> length(x))), 0) AS lc
           FROM blk),
         gated AS (
           SELECT doc_id, ord, t,
             (length(t) >= 25
              AND (CASE WHEN length(t) = 0 THEN 0 ELSE len(string_split(t, ' ')) END) >= 3
              AND lc * 100 < length(t) * 50) AS keep
           FROM scored),
         ext AS (
           SELECT doc_id,
                  coalesce(string_agg(t, chr(10) ORDER BY ord) FILTER (WHERE keep), '') AS html,
                  count(*) FILTER (WHERE length(t) > 0) AS n_blocks,
                  count(*) FILTER (WHERE keep) AS n_kept
           FROM gated GROUP BY doc_id),
         lines AS (
           SELECT doc_id,
             unnest(string_split(html, chr(10))) AS line,
             unnest(range(1, len(string_split(html, chr(10))) + 1)) AS lord
           FROM ext),
         cleaned AS (
           SELECT doc_id,
                  coalesce(string_agg(line, chr(10) ORDER BY lord)
                    FILTER (WHERE NOT regexp_matches(line, '\bthe\b')), '') AS html,
                  count(*) FILTER (WHERE NOT regexp_matches(line, '\bthe\b')) AS n_lines_kept,
                  count(*) FILTER (WHERE regexp_matches(line, '\bthe\b')) AS n_lines_dropped
           FROM lines GROUP BY doc_id),
         deduped AS (
           SELECT c.doc_id, c.html, e.n_blocks, e.n_kept,
                  c.n_lines_kept, c.n_lines_dropped,
                  row_number() OVER (PARTITION BY c.html ORDER BY c.doc_id) AS rn
           FROM cleaned c JOIN ext e USING (doc_id))
         SELECT doc_id, html, n_blocks, n_kept, n_lines_kept, n_lines_dropped
         FROM deduped WHERE rn = 1 ORDER BY doc_id"""))((s, dir) => {
      // Raw-web ingest pipeline as ONE declarative plan: planted HTML page
      // → native block extraction (#105) → native per-line rules filter
      // (#63) → exact dedup of the cleaned remnants (one-pass window
      // form; post-filter many pages collapse to identical or empty text,
      // one min-id survivor each). All three text stages are scan
      // expressions, so everything before the dedup window is a single
      // codegen'd projection over ONE scan — no intermediate
      // materialization, no extra exchange (the r14 composition claim for
      // the new operators).
      val pages = Tables.load(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), plantedHtmlPage.as("html"))
      val extracted = operators.HtmlExtract.extract(pages)
      val cleaned = operators.Lines.filterLinesFast(extracted,
        plans.FilterLines.LineRules(blockWords = Seq("the")),
        idCol = "doc_id", textCol = "html")
      operators.Dedup.exactCorpusOnePass(cleaned, idCol = "doc_id", textCol = "html")
        .select("doc_id", "html", "n_blocks", "n_kept",
          "n_lines_kept", "n_lines_dropped")
        .orderBy("doc_id")
    }),
    Q("q_pipeline_ingest", Some(
      """WITH norm AS (
           SELECT doc_id,
                  regexp_replace(
                    trim(regexp_replace(lower(nfc_normalize(
                      (CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END)
                        || chr(9) || ' tail marker ')), '\s+', ' ', 'g')),
                    '(\S+\s+\S+)\s+', '\1' || chr(10), 'g') AS t
           FROM documents),
         l AS (
           SELECT doc_id,
                  unnest(string_split(t, chr(10))) AS line,
                  unnest(range(1, len(string_split(t, chr(10))) + 1)) AS ord
           FROM norm),
         w AS (
           SELECT doc_id, ord, line,
                  row_number() OVER (PARTITION BY line ORDER BY doc_id, ord) AS rn
           FROM l),
         cleaned AS (
           SELECT doc_id,
                  coalesce(string_agg(line, chr(10) ORDER BY ord) FILTER (WHERE rn = 1), '') AS t,
                  count(*) FILTER (WHERE rn = 1) AS n_lines_kept,
                  count(*) FILTER (WHERE rn > 1) AS n_lines_dropped
           FROM w GROUP BY doc_id)
         SELECT doc_id, n_lines_kept, n_lines_dropped FROM cleaned
         WHERE doc_id IN (SELECT min(doc_id) FROM cleaned GROUP BY t)
         ORDER BY doc_id"""))((s, dir) => {
      // The round-7 ingest-cleaning layer composed in ONE declarative plan:
      // canonical normalization (every 3rd doc upper-cased + noise — the
      // case/whitespace variants MUST collapse before hashing) → planted
      // 2-word lines → global line dedup → exact dedup of the cleaned
      // remnants (post-cleaning many docs collapse to identical or empty
      // texts; one survivor each). Output: surviving docs + their cleaning
      // stats.
      val planted = concat(
        when(col("doc_id") % 3 === 0, upper(col("text"))).otherwise(col("text")),
        lit("\t tail marker "))
      val aug = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(functions.TextFunctions.normalizeText(planted),
            "(\\S+\\s+\\S+)\\s+", "$1\n").as("text"))
      val cleaned = operators.Lines.dedupLines(aug)
      // one-pass variant: the join form would evaluate the whole
      // normalize→line-dedup chain TWICE (r11 profile: two __graft_line
      // exchanges in the plan); the window form runs it once
      operators.Dedup.exactCorpusOnePass(cleaned)
        .select(col("doc_id"), col("n_lines_kept"), col("n_lines_dropped"))
        .orderBy("doc_id")
    }),
    Q("q_dedup_exact_inc", Some(
      """WITH aug AS (
           SELECT doc_id, lang, n_chars,
                  CASE WHEN doc_id % 7 = 0 THEN 'planted dup ' || CAST(doc_id % 2 AS VARCHAR)
                       WHEN doc_id >= 300 AND doc_id % 11 = 3 THEN 'batch dup ' || CAST(doc_id % 3 AS VARCHAR)
                       ELSE text END AS t
           FROM documents),
         batch AS (SELECT * FROM aug WHERE doc_id >= 300),
         corpus AS (SELECT * FROM aug WHERE doc_id < 300),
         nodup AS (
           SELECT b.* FROM batch b
           WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.t = b.t)),
         win AS (
           SELECT doc_id, lang, n_chars,
                  row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
           FROM nodup)
         SELECT doc_id, lang, n_chars FROM win WHERE rn = 1 ORDER BY doc_id"""))((s, dir) => {
      // Bloom-prefiltered exact incremental dedup (daily-ingest shape): the
      // corpus folds into a bloom sketch shipped by scalar subquery — it
      // never shuffles; only bloom-positive hashes broadcast back for the
      // exactness check. The synthetic corpus has no exact dups, so both
      // sides plant them: every id%7==0 doc becomes one of two constant
      // texts (cross-corpus dups), and batch ids with id%11==3 become one
      // of three constants (within-batch dup groups, min id wins).
      val docs = Tables.load(s, dir, "documents")
      val aug = docs.withColumn("text",
        when(col("doc_id") % 7 === 0,
            concat(lit("planted dup "), (col("doc_id") % 2).cast("string")))
          .when(col("doc_id") >= 300 && col("doc_id") % 11 === 3,
            concat(lit("batch dup "), (col("doc_id") % 3).cast("string")))
          .otherwise(col("text")))
      operators.Dedup.exactIncremental(
          aug.filter(col("doc_id") >= 300), aug.filter(col("doc_id") < 300),
          expectedCorpusItems = 10000L)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),
    Q("q_text_normalize", Some(
      """WITH planted AS (
           SELECT doc_id,
                  (CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END)
                    || '  caf' || chr(101) || chr(769) || chr(9) || ' x ' AS t
           FROM documents)
         SELECT doc_id,
                trim(regexp_replace(lower(nfc_normalize(t)), '\s+', ' ', 'g')) AS norm,
                CAST(length(trim(regexp_replace(lower(nfc_normalize(t)), '\s+', ' ', 'g'))) AS INTEGER) AS n_norm_chars
         FROM planted ORDER BY doc_id"""))((s, dir) => {
      // Canonical normalization before any hash-based operator: NFC
      // (native UnicodeNormalize — JDK and DuckDB both implement UAX#15)
      // → lower → collapse whitespace → trim. The corpus is clean ASCII, so
      // both sides plant the mess: upper-case every 3rd doc and append a
      // DECOMPOSED e+combining-acute plus tab/space noise; normalization
      // must compose it to U+00E9 and collapse the rest identically.
      val planted = concat(
        when(col("doc_id") % 3 === 0, upper(col("text"))).otherwise(col("text")),
        lit("  caf"), lit("e\u0301"), lit("\t x "))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          functions.TextFunctions.normalizeText(planted).as("norm"))
        .withColumn("n_norm_chars", length(col("norm")))
        .orderBy("doc_id")
    }),
    Q("q_dedup_ngram", Some(
      """WITH sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                       ELSE list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                  END) AS sh
           FROM (SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents)
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
         WHERE a.doc_id < 19 ORDER BY id_a"""))((s, dir) => {
      // N-gram (3-word shingle) Jaccard between adjacent doc pairs — the
      // verify stage of near-dedup, demonstrated on a deterministic pair set.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), plans.TextExpressions.shingleSet(col("text")).as("sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a")).filter(col("id_a") < 19)
      val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          operators.Dedup.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .orderBy("id_a")
    }),
    Q("q_ann_buckets")((s, dir) =>
      // Hyperplane-LSH bucket assignment — the candidate-generation layer of
      // embedding-cosine near-dup (pair semantics covered in SimilaritySpec).
      operators.Similarity.bucketed(Tables.load(s, dir, "embeddings"), dim = 64)
        .select("vec_id", "bucket")
        .orderBy("vec_id").limit(500)),
    Q("q_embed_quantize", Some(
      // same algebra: scale = max|x|/127, codes = round(x/scale) (DuckDB's
      // round is half-away like Spark's), reconstruction via codes·scale
      """WITH d AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
           FROM embeddings WHERE embedding IS NOT NULL),
         q AS (
           SELECT vec_id, x, list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
           FROM d),
         c AS (
           SELECT vec_id, x, scale,
                  CASE WHEN scale = 0 THEN list_transform(x, v -> 0)
                       ELSE list_transform(x, v -> CAST(round(v / scale) AS INTEGER)) END AS codes
           FROM q)
         SELECT vec_id,
                round(scale, 6) AS scale_r,
                CAST(list_aggregate(codes, 'sum') AS BIGINT) AS sum_codes,
                CAST(len(list_filter(codes, v -> v <> 0)) AS INTEGER) AS nz,
                round(list_max(list_transform(range(1, len(x) + 1),
                      i -> abs(codes[i] * scale - x[i]))), 6) AS max_err_r
         FROM c ORDER BY vec_id"""))((s, dir) =>
      // Int8 embedding quantization audit: per-vector scale, code sum,
      // nonzero count and max reconstruction error — the whole encode is
      // one native scan-stage expression (operators/Quantize.scala).
      operators.Quantize.reconstructionStats(
        Tables.load(s, dir, "embeddings").select("vec_id", "embedding"))),
    Q("q_embed_assign", Some(
      // same formula centroids, same sequential squared-Euclidean sum,
      // ties to the lower cell via the (d2, j) window order
      """WITH cent AS (
           SELECT j, list_transform(range(0, 64), d -> (((j * 31 + d * 7) % 13) - 6) / 6.0) AS c
           FROM range(0, 8) t(j)),
         dist AS (
           SELECT e.vec_id, cent.j,
                  list_aggregate(list_transform(range(1, 65),
                    i -> (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
                       * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])), 'sum') AS d2
           FROM embeddings e CROSS JOIN cent
           WHERE e.embedding IS NOT NULL),
         r AS (
           SELECT vec_id, j,
                  row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
           FROM dist)
         SELECT vec_id, CAST(j AS INTEGER) AS cell FROM r WHERE rn = 1 ORDER BY vec_id"""))((s, dir) => {
      // Cluster assignment against FIXED formula centroids — oracle-checks
      // the native NearestCenter primitive (IVF's assignment scan) itself:
      // squared-Euclidean argmin, ties to the lower cell, sequential
      // per-dimension sum order shared with the DuckDB twin.
      val centers = (0 until 8).map(j =>
        (0 until 64).map(d => (((j * 31 + d * 7) % 13) - 6) / 6.0))
      // null-embedding guard pinned on BOTH sides: Spark's nullSafeEval
      // would emit a NULL cell where DuckDB's NULLS-LAST window emits 0
      Tables.load(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .select(col("vec_id"),
          graft.plans.VectorExpressions.nearestCenter(col("embedding"), centers).as("cell"))
        .orderBy("vec_id")
    }),
    Q("q_embed_centroid", Some(
      // identical per-row arithmetic (sequential double sum over the list,
      // /len, sqrt) then DECIMAL cross-row totals — see the Spark twin's
      // determinism note
      """SELECT label, COUNT(*) AS n,
                CAST(round(sum(CAST(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum') / len(embedding) AS DECIMAL(28,12))), 4) AS DOUBLE) AS sum_elem,
                CAST(round(sum(CAST(sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS DECIMAL(28,12))), 4) AS DOUBLE) AS sum_norm
         FROM embeddings
         WHERE len(list_filter(embedding, x -> x IS NULL)) = 0
         GROUP BY label ORDER BY label"""))((s, dir) => {
      // Per-label embedding profile: per-row vector reductions (native
      // one-pass fold expressions, bit-identical to the HOF formulation)
      // feed a tiny per-label aggregate. Cross-row totals route through
      // DECIMAL (like every money sum here) so partition-order-dependent
      // double addition can't flip the last rounded digit vs the
      // sequential DuckDB twin.
      Tables.load(s, dir, "embeddings")
        // dense-vector precondition, enforced: a NULL element would null-
        // poison the fold while DuckDB's list_aggregate skips NULLs —
        // both sides drop such rows explicitly instead of diverging
        .filter(forall(col("embedding"), x => x.isNotNull))
        .select(col("label"),
          (functions.VectorFunctions.arraySum(col("embedding")) / size(col("embedding")))
            .cast("decimal(28,12)").as("elem_row"),
          functions.VectorFunctions.norm(col("embedding"))
            .cast("decimal(28,12)").as("norm_row"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
             round(sum(col("elem_row")), 4).cast("double").as("sum_elem"),
             round(sum(col("norm_row")), 4).cast("double").as("sum_norm"))
        .orderBy("label")
    }),
    Q("q_ann_bruteforce", Some(
      """SELECT CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS INTEGER) AS rank, vec_id
         FROM (SELECT e.vec_id, list_cosine_similarity(e.embedding, q.embedding) AS s
               FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
               WHERE e.vec_id <> 0)
         ORDER BY rank LIMIT 10"""))((s, dir) => {
      // Rank the already-limited top-10 with an order-EXPLICIT window.
      // The partition key is pmod(vec_id, 1) — constant 0 for every row, but
      // NOT foldable (Catalyst folds literal partition keys like lit(1) out
      // of the window spec entirely, which re-fires the "No Partition
      // Defined" WindowExec warning). A column-dependent constant survives
      // into the physical plan, so the window stays partitioned. Either way
      // only the 10 limit-output rows move; row_number carries its own
      // ORDER BY instead of relying on projection order preservation.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(pmod(col("vec_id"), lit(1)))
        .orderBy(desc("score"), col("vec_id"))
      operators.Similarity.topKForId(Tables.load(s, dir, "embeddings"), 0L, 10)
        .withColumn("rank", row_number().over(w))
        .select("rank", "vec_id")
    }),
    Q("q_ann_batch", Some(AnnBatchTwinSql))((s, dir) => {
      // Batch exact retrieval: every 100th vector queries the corpus for its
      // top-5 in ONE plan — queries broadcast, corpus scanned once, one
      // window shuffle on query_id.
      val emb = Tables.load(s, dir, "embeddings")
      rankedBatchAnn(emb)(
        operators.Similarity.bruteForceTopK(emb, _, k = 5, excludeSelf = true))
    }),
    Q("q_ann_negatives", Some(
      // same mining algebra: label <> excludes the anchor itself (its own
      // label matches), so no separate self-exclusion is needed
      """WITH q AS (SELECT vec_id AS anchor_id, embedding AS qv, label AS ql
                    FROM embeddings WHERE vec_id % 100 = 0),
         s AS (SELECT q.anchor_id, e.vec_id, list_cosine_similarity(e.embedding, q.qv) AS s
               FROM embeddings e JOIN q ON e.label <> q.ql),
         r AS (SELECT anchor_id, vec_id,
                      CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY s DESC, vec_id) AS INTEGER) AS rank
               FROM s)
         SELECT anchor_id, rank, vec_id FROM r WHERE rank <= 5 ORDER BY anchor_id, rank"""))((s, dir) => {
      // Hard-negative mining (DPR/ANCE): every 100th vector anchors a
      // search for its top-5 most-similar DIFFERENT-label vectors — the
      // near-misses a contrastive loss trains on. Rank-only output (raw
      // cosine floats don't compare across engines; ranks do).
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.load(s, dir, "embeddings")
      val anchors = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("anchor_id"), col("embedding"), col("label"))
      val w = Window.partitionBy("anchor_id").orderBy(desc("score"), col("vec_id"))
      operators.Similarity.hardNegatives(emb, anchors, k = 5)
        .withColumn("rank", row_number().over(w))
        .select("anchor_id", "rank", "vec_id")
        .orderBy("anchor_id", "rank")
    }),
    Q("q_ann_ivf",
      // nprobe=nlist ⇒ IVF ≡ brute force, so the exact-retrieval twin holds
      Some(AnnBatchTwinSql), Set(IvfIndexInMemory))((s, dir) => {
      // IVF batch retrieval oracle-checked at nprobe=nlist: probing EVERY
      // cell makes IVF exactly brute force (independent of where k-means
      // placed the centroids — the one setting where the approximate path
      // has an exact DuckDB twin), so the q_ann_batch oracle applies
      // verbatim. Recall at nprobe<nlist is covered in SkewIvfStreamSpec;
      // this row pins the whole assign→probe→score→rank plan end-to-end.
      // Build/probe split (VERDICT r11 task 2): the quantizer fit + cell
      // assignment are the BUILD — paid once and amortized over a day of
      // queries at the design point — so they memoize per (session, sf-dir)
      // like the stored-index twins, and the timed samples measure the
      // PROBE. The in-memory analogue of q_ann_ivf_stored's warehouse build.
      val index = IvfIndexInMemory(s, dir)
      rankedBatchAnn(Tables.load(s, dir, "embeddings"))(
        index.topKBatch(_, k = 5, nprobe = IvfIndexInMemory.nlist, excludeSelf = true))
    }),
    Q("q_ann_ivf_probe", needs = Set(IvfIndexInMemory))((s, dir) => {
      // The PRODUCTION IVF setting — nprobe=2 of nlist=8: each query scores
      // only its 2 nearest cells' members (~1/4 of the corpus), which is
      // the entire point of the index. Approximate by design ⇒ rows-only
      // (a SQL twin cannot exist); the cost/recall point a user would run
      // is measured beside it in BASELINE.md (recall@5 vs the exact
      // nprobe=nlist run) and distribution-pinned in SkewIvfStreamSpec.
      val index = IvfIndexInMemory(s, dir)
      rankedBatchAnn(Tables.load(s, dir, "embeddings"))(
        index.topKBatch(_, k = 5, nprobe = 2, excludeSelf = true))
    }),
    Q("q_dedup_semantic", Some(
      // exact all-pairs semantics of the planted-dup construction — the
      // approximate cell+bucket path must recover it in full (see the Spark
      // twin's recall note)
      """WITH aug AS (
           SELECT vec_id, embedding FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000000, embedding FROM embeddings WHERE vec_id % 50 = 0)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM aug a JOIN aug b
           ON a.vec_id < b.vec_id
          AND list_cosine_similarity(a.embedding, b.embedding) >= 0.999
         ORDER BY id_a, id_b"""))((s, dir) => {
      // SemDedup (embedding-cluster semantic dedup): every 50th vector is
      // planted again at id+10^9; the operator must find exactly those
      // pairs. Identical vectors always share k-means cell and LSH bucket,
      // so the approximate path has total recall on the planted set and the
      // exact all-pairs DuckDB twin is a fair oracle (nothing else in the
      // synthetic table reaches cosine 0.999). Output is the id pair set —
      // scores stay engine-internal like every embedding query here. The
      // offset sits far past ANY corpus size (review regression: +10000
      // collided with real vec_ids at sf1's 20k rows, putting two different
      // vectors under one id).
      val emb = Tables.load(s, dir, "embeddings")
      val aug = emb.unionByName(
        emb.filter(col("vec_id") % 50 === 0)
          .withColumn("vec_id", col("vec_id") + 1000000000L))
      // nlist from the constant-cell-size policy (quadratic-candidate fix,
      // sf10-measured): count() here is the parquet count-star footer read,
      // not a scan; +2% for the planted copies. sf0.01–sf1 land on the min
      // floor 8 (bit-identical to the old hardcoded nlist), sf10 on 50.
      val n = emb.count(); val nlist = operators.Similarity.nlistFor(n + n / 50)
      operators.Similarity.semDupes(aug, dim = 64, threshold = 0.999, nlist = nlist)
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    }),
    Q("q_text_bm25_indexed",
      // indexed ≡ direct by construction (stored postings carry the same
      // (n, ntok) rows and corpus stats), so the direct twin applies
      Some(Bm25TwinSql), Set(Bm25Index))((s, dir) => {
      // Stored-retrieval twin of q_text_bm25: BM25 over the term-bucketed
      // postings index (Tfidf.writePostingsIndex layout — the daily-retrieval
      // shape: corpus tokenized once at build, probes read only the query
      // terms' buckets and consume the stored partitioning exchange-free).
      // The build is memoized per (session, sf-dir), so bench medians over
      // interleaved samples time the PROBE, not the build. Scores are
      // identical to the direct path by construction (TfidfSpec pins it),
      // so the q_text_bm25 oracle applies verbatim.
      val t = Bm25Index(s, dir)
      operators.Tfidf.bm25Indexed(s, t, Seq("join", "hash", "row"))
        .withColumnRenamed("id", "doc_id")
        .select("doc_id", "score", "n_terms")
    }),
    Q("q_ann_ivf_stored",
      // nprobe=nlist ⇒ IVF ≡ brute force (same twin as q_ann_ivf)
      Some(AnnBatchTwinSql), Set(StoredIvfIndex))((s, dir) => {
      // Stored-index twin of q_ann_ivf: probe a PERSISTED IVF index
      // (Similarity.writeIvfIndex cell-bucketed layout) instead of fitting
      // one in-query — build memoized per (session, sf-dir) like the BM25
      // index, so the timed samples measure load+probe, the recurring cost
      // of a production retrieval service. nprobe=nlist makes IVF exactly
      // brute force, so the exact-retrieval DuckDB twin applies verbatim.
      val index = operators.Similarity.loadIvfIndex(s, StoredIvfIndex(s, dir))
      rankedBatchAnn(Tables.load(s, dir, "embeddings"))(
        index.topKBatch(_, k = 5, nprobe = StoredIvfIndex.nlist, excludeSelf = true))
    }),
    Q("q_embed_pq", Some(
      // same formula codebooks, same sequential squared-Euclidean sums per
      // subspace, ties to the lower code via the (d2, c) window order
      """WITH cb AS (
           SELECT m, c, list_transform(range(0, 8),
                    j -> (((m*7 + c*31 + j*17) % 41) - 20) / 10.0) AS v
           FROM range(0, 8) t(m) CROSS JOIN range(0, 16) u(c)),
         dist AS (
           SELECT e.vec_id, cb.m, cb.c,
                  list_aggregate(list_transform(range(1, 9),
                    i -> (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.v[i])
                       * (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.v[i])), 'sum') AS d2
           FROM embeddings e CROSS JOIN cb
           WHERE e.embedding IS NOT NULL),
         r AS (
           SELECT vec_id, m, c,
                  row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
           FROM dist),
         codes AS (SELECT vec_id, m, c FROM r WHERE rn = 1)
         SELECT vec_id,
                CAST(SUM(c) AS BIGINT) AS code_sum,
                CAST(MIN(CASE WHEN m = 0 THEN c END) AS INTEGER) AS c0,
                CAST(MIN(CASE WHEN m = 7 THEN c END) AS INTEGER) AS c7
         FROM codes GROUP BY vec_id ORDER BY vec_id"""))((s, dir) => {
      // PQ encode against FIXED formula codebooks — oracle-checks the native
      // PqEncode primitive (per-subspace argmin, sequential sums, ties to
      // the lower code) the way q_embed_assign checks NearestCenter. Output
      // is integer-exact: code sum + first/last subspace codes per vector.
      val cb = operators.Pq.formulaCodebook(m = 8, ksub = 16, dsub = 8)
      operators.Pq.encode(
          Tables.load(s, dir, "embeddings").filter(col("embedding").isNotNull), cb)
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, c) => a + c).as("code_sum"),
          element_at(col("codes"), 1).as("c0"),
          element_at(col("codes"), 8).as("c7"))
        .orderBy("vec_id")
    }),
    Q("q_split_leakage", Some(
      // the q_dedup_clusters recursive-CTE component joined to the
      // q_sample_split md5 CASE, keyed by the component instead of the doc
      """WITH RECURSIVE sh AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                       ELSE list_transform(range(1, len(toks) - 1),
                                           i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                  END) AS sh
           FROM (SELECT doc_id, regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS toks FROM documents)
           WHERE doc_id < 100
         ),
         e AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sh a JOIN sh b ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 3
           WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.005
         ),
         sym AS (SELECT id_a AS s, id_b AS d FROM e UNION SELECT id_b, id_a FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM sh
           UNION
           SELECT reach.id, sym.d FROM reach JOIN sym ON reach.r = sym.s
         ),
         comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id)
         SELECT doc_id, component,
                CASE WHEN substr(md5(CAST(component AS VARCHAR)), 1, 8) < '19999999' THEN 'test'
                     WHEN substr(md5(CAST(component AS VARCHAR)), 1, 8) < '33333333' THEN 'val'
                     ELSE 'train' END AS split
         FROM comp ORDER BY doc_id"""))((s, dir) => {
      // Leakage-safe train/val/test assignment: a near-duplicate cluster
      // must never straddle splits (a test doc's near-copy sitting in train
      // silently inflates eval — the split-level form of the decontamination
      // concern). Split is a pure md5 function of the doc's duplicate-
      // cluster REPRESENTATIVE (the component min id, from the same
      // connected-components fixture q_dedup_clusters proves), so every
      // cluster lands whole in one split while singletons follow the plain
      // q_sample_split rule exactly.
      val docs = Tables.load(s, dir, "documents").filter(col("doc_id") < 100)
      val sh = docs.select(col("doc_id"), plans.TextExpressions.shingleSet(col("text")).as("sh"))
      val offsets = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("k"))
        .withColumn("__match_id", col("id_a") + col("k"))
      val edges = offsets
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
          col("id_b") === col("__match_id"))
        .filter(operators.Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.005)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      operators.Clusters.connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("component"),
          operators.Sampling.splitAssign(col("component"),
            Seq("test" -> 0.1, "val" -> 0.1)).as("split"))
        .orderBy("doc_id")
    }),
    Q("q_dedup_substr", Some(
      // the full ExactSubstr pipeline recomputed: same planting, same
      // tokenizer, same md5-48bit gram hash, same >1 global count, same
      // gap-window span merge (new span iff pos > prev + k), same
      // min-length gate — integer outputs, exact cross-engine
      """WITH docs AS (
           SELECT doc_id,
                  text || CASE WHEN doc_id % 10 = 0
                    THEN ' exact substring dedup planted passage tokens repeat verbatim across documents sharing this sixteen token marker tail'
                    ELSE '' END AS text
           FROM documents WHERE doc_id < 1000 AND text IS NOT NULL),
         toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                              t -> t <> '') AS tw
           FROM docs),
         occ AS (
           SELECT doc_id, CAST(j - 1 AS BIGINT) AS pos,
                  CAST(('0x' || substr(md5(array_to_string(tw[j:j+7], ' ')), 1, 12)) AS BIGINT) AS h
           FROM toks, UNNEST(range(1, len(tw) - 8 + 2)) AS u(j)),
         dup AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
         flagged AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (h)),
         g AS (
           SELECT doc_id, pos,
                  CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
                       THEN 1 ELSE 0 END AS new_s
           FROM flagged WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         sp AS (
           SELECT doc_id, span_id, min(pos) AS s, max(pos) + 7 AS e
           FROM (SELECT doc_id, pos,
                        SUM(new_s) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
                 FROM g)
           GROUP BY doc_id, span_id),
         spf AS (
           SELECT doc_id, count(*) AS n_spans, SUM(e - s + 1) AS removed
           FROM sp WHERE e - s + 1 >= 16 GROUP BY doc_id)
         SELECT d.doc_id, CAST(len(t.tw) AS INTEGER) AS n_tokens,
                CAST(COALESCE(spf.n_spans, 0) AS BIGINT) AS n_spans,
                CAST(COALESCE(spf.removed, 0) AS BIGINT) AS n_tokens_removed
         FROM docs d JOIN toks t USING (doc_id) LEFT JOIN spf USING (doc_id)
         ORDER BY d.doc_id"""))((s, dir) => {
      // ExactSubstr (Lee et al. 2022): every 10th doc gets the same 16-token
      // passage appended; the operator must report exactly that span (9
      // internal 8-grams → one 16-token covered run) per planted doc and
      // zeros elsewhere. The md5-48bit gram hash is engine-portable, so the
      // ENTIRE pipeline — gram stream, global dup detection, gap-window
      // span merge — has an exact DuckDB twin; even an accidental vocab
      // collision stays green because both engines recompute it identically.
      val aug = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 1000 && col("text").isNotNull)
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 10 === 0,
            lit(" exact substring dedup planted passage tokens repeat verbatim across documents sharing this sixteen token marker tail"))
            .otherwise(lit(""))))
      operators.ExactSubstr.removalStats(aug, k = 8, minTokens = 16)
        .orderBy("doc_id")
    }),
    Q("q_sample_clusters", Some(
      // the q_embed_assign assignment CTE composed with the q_sample_fixed
      // md5-order window — both twins already hash-proven separately
      """WITH cent AS (
           SELECT j, list_transform(range(0, 64), d -> (((j * 31 + d * 7) % 13) - 6) / 6.0) AS c
           FROM range(0, 8) t(j)),
         dist AS (
           SELECT e.vec_id, cent.j,
                  list_aggregate(list_transform(range(1, 65),
                    i -> (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])
                       * (CAST(e.embedding[i] AS DOUBLE) - cent.c[i])), 'sum') AS d2
           FROM embeddings e CROSS JOIN cent
           WHERE e.embedding IS NOT NULL),
         assigned AS (
           SELECT vec_id, j AS cell FROM (
             SELECT vec_id, j,
                    row_number() OVER (PARTITION BY vec_id ORDER BY d2, j) AS rn
             FROM dist)
           WHERE rn = 1),
         sampled AS (
           SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY cell
                    ORDER BY md5(CAST(vec_id AS VARCHAR)), CAST(vec_id AS VARCHAR)) AS rn
           FROM assigned)
         SELECT vec_id, CAST(cell AS INTEGER) AS cell
         FROM sampled WHERE rn <= 10 ORDER BY vec_id"""))((s, dir) => {
      // Cluster-balanced corpus selection — the topic-balancing step after
      // dedup in data-mixing recipes (equal representation per region of
      // embedding space, instead of letting one dominant topic swamp the
      // mixture): assign each vector to its cell (the oracle-proven
      // NearestCenter formula-centroid primitive), then take a
      // deterministic fixed-size sample per cell (the md5-order
      // fixedSizeSample primitive). Pure composition — one scan + one
      // window exchange on the cell.
      val centers = (0 until 8).map(j =>
        (0 until 64).map(d => (((j * 31 + d * 7) % 13) - 6) / 6.0))
      val assigned = Tables.load(s, dir, "embeddings")
        .filter(col("embedding").isNotNull)
        .withColumn("cell",
          graft.plans.VectorExpressions.nearestCenter(col("embedding"), centers))
      operators.Sampling.fixedSizeSample(assigned,
          key = col("vec_id"), strata = col("cell"), n = 10)
        .select("vec_id", "cell")
        .orderBy("vec_id")
    }),
    Q("q_ann_adc", Some(
      // full ADC twin: codes from the q_embed_pq argmin, then the quantized
      // distance with the SAME sum nesting (j inside m, both sequential) —
      // bitwise-equal doubles, so the complete ranking matches
      """WITH cb AS (
           SELECT m, c, list_transform(range(0, 8),
                    j -> (((m*7 + c*31 + j*17) % 41) - 20) / 10.0) AS v
           FROM range(0, 8) t(m) CROSS JOIN range(0, 16) u(c)),
         dist AS (
           SELECT e.vec_id, cb.m, cb.c,
                  list_aggregate(list_transform(range(1, 9),
                    i -> (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.v[i])
                       * (CAST(e.embedding[cb.m*8 + i] AS DOUBLE) - cb.v[i])), 'sum') AS d2
           FROM embeddings e CROSS JOIN cb
           WHERE e.embedding IS NOT NULL),
         r0 AS (
           SELECT vec_id, m, c,
                  row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
           FROM dist),
         codelist AS (
           SELECT vec_id, list(c ORDER BY m) AS cs FROM r0 WHERE rn = 1 GROUP BY vec_id),
         q AS (
           SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 100 = 0 AND embedding IS NOT NULL),
         pairs AS (
           SELECT q.query_id, d.vec_id,
                  list_aggregate(list_transform(range(0, 8), m ->
                    list_aggregate(list_transform(range(1, 9), i ->
                      (CAST(q.qv[m*8 + i] AS DOUBLE)
                         - (((m*7 + (d.cs[m+1])*31 + (i-1)*17) % 41) - 20) / 10.0)
                      * (CAST(q.qv[m*8 + i] AS DOUBLE)
                         - (((m*7 + (d.cs[m+1])*31 + (i-1)*17) % 41) - 20) / 10.0)
                    ), 'sum')), 'sum') AS dist
           FROM q JOIN codelist d ON d.vec_id <> q.query_id),
         r AS (
           SELECT query_id, vec_id,
                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) AS INTEGER) AS rank
           FROM pairs)
         SELECT query_id, rank, vec_id FROM r WHERE rank <= 5 ORDER BY query_id, rank"""))((s, dir) => {
      // ADC retrieval end-to-end against the formula codebooks: encode the
      // corpus, per-query distance tables on the broadcast side, rank by
      // quantized distance (ties → lower id). Both engines compute the
      // identical nested sums (j inside m, sequential), so unlike real ANN
      // the FULL ranking has an exact DuckDB twin — this is the search-path
      // complement of q_embed_pq's encode check.
      import org.apache.spark.sql.expressions.Window
      val cb = operators.Pq.formulaCodebook(m = 8, ksub = 16, dsub = 8)
      val emb = Tables.load(s, dir, "embeddings").filter(col("embedding").isNotNull)
      val encoded = operators.Pq.encode(emb, cb)
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val w = Window.partitionBy("query_id").orderBy("distance", "vec_id")
      operators.Pq.adcTopKBatch(encoded, cb, queries, k = 5, excludeSelf = true)
        .withColumn("rank", row_number().over(w))
        .select("query_id", "rank", "vec_id")
        .orderBy("query_id", "rank")
    }),
    Q("q_quality_classifier", Some(
      // exact model twin: bucket = first 12 md5 hex chars as int mod 512,
      // weight = (j*1103515245 + 12345) % 2001 - 1000 milli-units, logit =
      // integer sum over gram occurrences (unigrams + bigrams)
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                              t -> t <> '') AS tw
           FROM documents WHERE text IS NOT NULL),
         grams AS (
           SELECT doc_id, unnest(tw) AS g FROM toks
           UNION ALL
           SELECT doc_id, unnest(list_transform(range(1, len(tw)), i -> tw[i] || ' ' || tw[i+1])) AS g
           FROM toks),
         b AS (SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT) % 512 AS j FROM grams),
         s AS (SELECT doc_id, count(*) AS n_grams,
                      CAST(SUM((j * 1103515245 + 12345) % 2001 - 1000) AS BIGINT) AS logit_milli
               FROM b GROUP BY doc_id)
         SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams, logit_milli,
                round(logit_milli / 1000.0 / n_grams, 4) + 0.0 AS score,
                logit_milli > 0 AS label
         FROM s ORDER BY doc_id"""))((s, dir) =>
      // Model-based quality filtering (the fastText/DSIR classifier stage):
      // hashed-ngram linear scorer — unigrams+bigrams hash into a weight
      // table, milli-integer logit decides keep/drop. Formula weights (an
      // LCG over the bucket index) so the oracle recomputes the EXACT model
      // in SQL; the md5-48bit feature hash is engine-portable, unlike the
      // xxhash64 dedup family, so this classifier gets a full hash check.
      operators.QualityClassifier.score(
          Tables.load(s, dir, "documents"),
          operators.QualityClassifier.formulaModel(512))
        .orderBy("doc_id")),

    // ---- indexing / validation / sessionization (SURVEY §2 #19, #22, #31)
    Q("q_index_prefix", Some(
      """SELECT 'p_name' AS field, lower(substr(p_name, 1, 1)) AS prefix,
                CAST(p_partkey AS VARCHAR) AS slug, p_name AS value
         FROM part ORDER BY field, prefix, value, slug"""))((s, dir) =>
      // The prefix-index relation (what writeIndex persists partitioned by
      // (field, prefix)); full build over part.p_name at depth 1.
      operators.Indexing.indexRelation(Tables.load(s, dir, "part"), "p_partkey", Seq("p_name"))
        .orderBy("field", "prefix", "value", "slug")),
    Q("q_index_diff", Some(
      """WITH old AS (SELECT doc_id, lang FROM documents WHERE doc_id < 450),
              new AS (SELECT doc_id, CASE WHEN doc_id % 100 = 0 THEN 'xx' ELSE lang END AS lang
                      FROM documents WHERE doc_id >= 50)
         SELECT * FROM (
           SELECT 'A' AS status, CAST(doc_id AS VARCHAR) AS slug, 'lang' AS field, lang AS value
           FROM new WHERE doc_id NOT IN (SELECT doc_id FROM old)
           UNION ALL
           SELECT 'D', CAST(doc_id AS VARCHAR), 'lang', lang
           FROM old WHERE doc_id NOT IN (SELECT doc_id FROM new)
           UNION ALL
           SELECT 'M', CAST(n.doc_id AS VARCHAR), 'lang', n.lang
           FROM new n JOIN old o ON n.doc_id = o.doc_id WHERE n.lang <> o.lang
         ) ORDER BY slug, status, field, value"""))((s, dir) => {
      // Snapshot diff (the input to incremental index maintenance): old = docs
      // below 450, new = docs from 50 up with lang rewritten for every 100th
      // id — exercises A (>=450), D (<50), and M (%100==0) in one relation.
      val docs = Tables.load(s, dir, "documents")
      val oldSnap = docs.filter(col("doc_id") < 450)
      val newSnap = docs.filter(col("doc_id") >= 50)
        .withColumn("lang", when(col("doc_id") % 100 === 0, lit("xx")).otherwise(col("lang")))
      presentationSort(
        operators.Indexing.extractDiff(oldSnap, newSnap, "doc_id", Seq("lang"))
          .select(col("status"), col("slug"), explode(col("values")).as(Seq("field", "vals")))
          .select(col("status"), col("slug"), col("field"), explode(col("vals")).as("value")),
        "slug", "status", "field", "value")
    }),
    Q("q_validate", Some(
      """SELECT doc_id, (text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
                         AND n_chars IS NOT NULL AND n_chars >= 0) AS is_valid
         FROM documents ORDER BY doc_id"""))((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      docs.select(col("doc_id"),
          sources.Validation.validColumn(docs,
            required = Seq("text", "lang", "source"),
            nonNegative = Seq("n_chars")).as("is_valid"))
        .orderBy("doc_id")
    }),
    Q("q_sessionize", Some(SessionizeTwinSql))((s, dir) =>
      presentationSort(
        streaming.EventStreams.sessionize(Tables.load(s, dir, "events"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), max(col("session_seq")).as("n_sessions")),
        "user_id")),
    Q("q_sessionize_bucketed", Some(SessionizeTwinSql), Set(BucketedEvents))((s, dir) =>
      // The same sessionize pipeline over the user-bucketed, bucket-sorted
      // stored layout ([[BucketedEvents]]): the scan's hashpartitioning +
      // (user_id, ts) ordering satisfy the window AND the per-user groupBy,
      // so the whole pipeline plans with ZERO shuffle exchanges and ZERO
      // sorts (scan → window → window → agg) — the exchange+sort floor
      // r19's decomposition named is a layout property (shape pinned in
      // PlanPropertiesSpec). DuckDB's twin recomputes from the RAW events
      // table: the bucketed rewrite is row-preserving, so hash-equality
      // certifies the rewrite too.
      presentationSort(
        streaming.EventStreams.sessionize(
            operators.Bucketing.table(s, BucketedEvents(s, dir)))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), max(col("session_seq")).as("n_sessions")),
        "user_id")),
    Q("q_md_source", Some(
      // round-trip identity: what went into the markdown tree must come out
      """SELECT doc_id,
                'doc-' || lpad(CAST(doc_id AS VARCHAR), 5, '0') AS slug,
                lang,
                CAST(length(text) AS INTEGER) AS body_len
         FROM documents
         WHERE doc_id < 200 AND text IS NOT NULL AND lang IS NOT NULL
         ORDER BY doc_id"""),
      Set(MdTree))((s, dir) => {
      // DSv2 connector round-trip with a REAL oracle: the first 200 documents
      // are materialized as a markdown+front-matter tree (deterministic file
      // per doc — slug doc-%05d, front matter doc_id+lang, body = text
      // verbatim; the FrontMatter grammar returns the body byte-exact), then
      // read back through spark.read.format("graft-markdown"). Because the
      // round-trip is the identity, DuckDB recomputes the expected rows
      // directly from documents.parquet — the connector's listing, slug
      // derivation, front-matter parse, schema mapping, and body transport
      // all sit inside the hash check.
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val tree = MdTree(s, dir)
      val schema = StructType(Seq(
        StructField("slug", StringType), StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("body", StringType)))
      s.read.format("graft-markdown").schema(schema).load(tree)
        // body carries the "|" sentinel prefix (see MdTree: the front-matter
        // grammar's `\s*` would otherwise swallow a text's LEADING
        // whitespace and silently shift body_len) — subtract it back out
        .select(col("doc_id"), col("slug"), col("lang"),
          (length(col("body")) - 1).as("body_len"))
        .orderBy("doc_id")
    })
  )

  /** One entry per implemented operator from SURVEY.md §2: name → plan. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    uniqueMap(registry.map(q => q.name -> q.plan))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  lazy val oracleSql: Map[String, String] =
    uniqueMap(registry.flatMap(q => q.oracle.map(q.name -> _)))

  /** `pairs.toMap`, except that a repeated name fails instead of the later
    * pair silently shadowing the earlier one. */
  private[graft] def uniqueMap[V](pairs: Seq[(String, V)]): Map[String, V] = {
    val dups = pairs.groupBy(_._1).collect { case (n, ps) if ps.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    pairs.toMap
  }

  /** Build the stored artifacts the queries passing `keep` declare in their
    * `needs`, each once, so timed samples measure PROBES: a build's write
    * I/O otherwise lands in the first sample of its consumer and bleeds
    * into NEIGHBORING samples' timings (r13's highest-variance published
    * rows, 2.4–6.8 s spread at sf10, were exactly these). Subsets that
    * filter a query out skip its builds. A failed build is reported and
    * skipped; the query needing it reports its own error.
    */
  def prewarmStoredArtifacts(s: SparkSession, dir: String,
                             keep: String => Boolean = _ => true): Unit =
    registry.filter(q => keep(q.name)).flatMap(_.needs).distinct.foreach { a =>
      try { a(s, dir); () }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[prewarm] ${a.what} failed: ${e.getMessage}")
      }
    }
}
