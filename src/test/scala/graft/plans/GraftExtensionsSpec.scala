package graft.plans

import graft.SparkSpec

/** The SQL surface registered via SparkSessionExtensions, on the shared spec
  * session (built with the extensions). */
class GraftExtensionsSpec extends SparkSpec {

  test("the shared spec session plans the fused scans with graft's strategy") {
    assert(graft.SparkTestSession.spark.sessionState.planner.strategies
      .contains(graft.operators.FusedTopK.Strategy))
  }

  test("the shared spec session carries graft's SQL functions, optimizer rules and columnar rule") {
    val s = graft.SparkTestSession.spark
    for ((id, _, _) <- GraftExtensions.functions)
      assert(s.catalog.functionExists(id.funcName), s"${id.funcName} is not registered")
    val rules = s.sessionState.optimizer.batches.flatMap(_.rules).map(_.ruleName).toSet
    for (r <- Seq(CollectSizeToCount, TopNThroughRiJoin, RiJoinElimination,
                  LateKernelMaterialization, PreAggregateGroupingSets))
      assert(rules(r.ruleName), s"${r.ruleName} is not in the optimizer")
    assert(s.sessionState.columnarRules.contains(ParameterizeFilterLiterals.AsColumnarRule))
  }

  test("graft_simhash and graft_minhash_state callable from plain SQL") {
    spark.sql("SELECT 'alpha beta gamma delta' AS text")
      .createOrReplaceTempView("t")
    val row = spark.sql(
      """SELECT graft_simhash(text) AS sh,
               graft_minhash_state(text).signature AS sig,
               size(graft_minhash_state(text).band_hashes) AS nbands
         FROM t""").head()
    assert(row.getLong(0) != 0L)
    assert(row.getAs[scala.collection.Seq[Long]]("sig").size == 32)
    assert(row.getInt(2) == 8)
  }

  test("SQL results match the DSL twins exactly") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    df.createOrReplaceTempView("docs")
    val sqlSim = spark.sql("SELECT graft_simhash(text) FROM docs").head().getLong(0)
    val dslSim = df.select(TextExpressions.simhash64($"text")).head().getLong(0)
    assert(sqlSim == dslSim)
    val hofSim = df.select(graft.functions.HashFunctions.simhash(
      graft.functions.TextFunctions.tokens($"text"))).head().getLong(0)
    assert(sqlSim == hofSim, "native expression must match the column-algebra twin")
    // empty, all-whitespace and control-character-edged texts
    val edge = Seq("", "   ", "\t\r\n", "\u0000the fox\u001c", "\u001fa\u00a0b\u3000 c \u0000").toDF("text")
    val both = edge.select(TextExpressions.simhash64($"text"), graft.functions.HashFunctions.simhash(
      graft.functions.TextFunctions.tokens($"text"))).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
  }

  test("graft_quality / graft_stopword_ratio / graft_langid / graft_fingerprint from SQL") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox and the lazy dog")).toDF("id", "text")
    df.createOrReplaceTempView("qdocs")
    val row = spark.sql(
      """SELECT round(graft_quality(text), 4)        AS q,
               round(graft_stopword_ratio(text), 4) AS r,
               graft_langid(text)                    AS lang,
               graft_fingerprint(text)               AS fp
         FROM qdocs""").head()
    val dsl = df.select(
      graft.functions.TextFunctions.qualityScore($"text"),
      graft.functions.TextFunctions.stopwordRatio($"text"),
      graft.functions.TextFunctions.langId($"text"),
      graft.functions.TextFunctions.fingerprint($"text")).head()
    assert(row.getDouble(0) == dsl.getDouble(0))
    assert(row.getDouble(1) == dsl.getDouble(1))
    assert(row.getString(2) == dsl.getString(2) && row.getString(2) == "en")
    assert(row.getLong(3) == dsl.getLong(3))
  }

  test("graft_repetition and graft_cosine from SQL match the DSL twins") {
    import spark.implicits._
    val df = Seq((1L, "buy now buy now buy now")).toDF("id", "text")
    df.createOrReplaceTempView("rdocs")
    val row = spark.sql(
      """SELECT graft_repetition(text).n_tokens       AS n,
               graft_repetition(text).dup_word_frac  AS dw,
               graft_repetition(text).top_word_frac  AS tw
         FROM rdocs""").head()
    val dsl = df.select(graft.functions.TextFunctions.repetitionStats($"text").as("r"))
      .select("r.n_tokens", "r.dup_word_frac", "r.top_word_frac").head()
    assert(row.getInt(0) == dsl.getInt(0) && row.getInt(0) == 6)
    assert(row.getDouble(1) == dsl.getDouble(1))
    assert(row.getDouble(2) == dsl.getDouble(2))

    val cos = spark.sql(
      """SELECT graft_cosine(array(1.0d, 2.0d, 3.0d), array(3.0d, 2.0d, 1.0d)) AS c""").head()
    val dslCos = Seq((Array(1.0, 2.0, 3.0), Array(3.0, 2.0, 1.0))).toDF("a", "b")
      .select(graft.functions.VectorFunctions.cosine($"a", $"b")).head()
    assert(cos.getDouble(0) == dslCos.getDouble(0))
  }

  test("graft_pii callable from SQL, matches the column twins") {
    import spark.implicits._
    val df = Seq((1L, "mail me a@b.org from 10.0.0.1")).toDF("id", "text")
    df.createOrReplaceTempView("pdocs")
    val row = spark.sql(
      """SELECT graft_pii(text).n_emails AS e, graft_pii(text).n_ips AS i,
               graft_pii(text).redacted AS r FROM pdocs""").head()
    assert(row.getInt(0) == 1 && row.getInt(1) == 1)
    assert(row.getString(2) == "mail me <EMAIL> from <IP>")
  }

  test("graft_cosine accepts array<float> from SQL (the embeddings column type)") {
    import spark.implicits._
    // ADVICE r6: ExpectsInputTypes without implicit casting made float arrays
    // an analysis error from SQL while the Scala API cast explicitly.
    Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))).toDF("a", "b")
      .createOrReplaceTempView("fvecs")
    val sqlCos = spark.sql("SELECT graft_cosine(a, b) AS c FROM fvecs").head().getDouble(0)
    val dslCos = spark.table("fvecs")
      .select(graft.functions.VectorFunctions.cosine($"a".cast("array<double>"),
        $"b".cast("array<double>"))).head().getDouble(0)
    assert(sqlCos == dslCos)
  }

  test("graft_nfc from SQL matches the DSL expression and composes decomposed accents") {
    import spark.implicits._
    Seq((1L, "cafe\u0301"), (2L, "plain ascii")).toDF("id", "t")
      .createOrReplaceTempView("nfc_docs")
    val out = spark.sql("SELECT id, graft_nfc(t) AS n FROM nfc_docs ORDER BY id").collect()
    assert(out(0).getString(1) == "caf\u00e9")
    assert(out(1).getString(1) == "plain ascii")
    val dsl = spark.table("nfc_docs")
      .select(TextExpressions.unicodeNormalize($"t").as("n"))
      .orderBy($"id").collect()
    assert(out.map(_.getString(1)).toSeq == dsl.map(_.getString(0)).toSeq)
  }

  test("graft_normalize from SQL matches the DSL normalizeText") {
    import spark.implicits._
    Seq((1L, "  Cafe\u0301   MENU\t"), (2L, "plain text here")).toDF("id", "t")
      .createOrReplaceTempView("norm_docs")
    val sqlOut = spark.sql("SELECT graft_normalize(t) AS n FROM norm_docs ORDER BY id")
      .collect().map(_.getString(0)).toSeq
    val dslOut = spark.table("norm_docs")
      .select(graft.functions.TextFunctions.normalizeText($"t").as("n"))
      .orderBy($"id").collect().map(_.getString(0)).toSeq
    assert(sqlOut == dslOut)
    assert(sqlOut.head == "caf\u00e9 menu")
  }

  test("graft_compress_ratio from SQL matches the DSL expression") {
    import spark.implicits._
    Seq((1L, "spam spam spam spam spam spam spam spam"), (2L, "assorted words differ wildly here"))
      .toDF("id", "t").createOrReplaceTempView("cr_docs")
    val sqlOut = spark.sql("SELECT round(graft_compress_ratio(t), 4) AS r FROM cr_docs ORDER BY id")
      .collect().map(_.getDouble(0)).toSeq
    val dslOut = spark.table("cr_docs")
      .select(graft.functions.TextFunctions.compressionRatio($"t").as("r"))
      .orderBy($"id").collect().map(_.getDouble(0)).toSeq
    assert(sqlOut == dslOut)
    assert(sqlOut(0) < sqlOut(1)) // repetitive compresses further
  }

  test("graft_winnow_fps / graft_term_counts / graft_bpeish_count from SQL match the DSL") {
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta epsilon zeta eta"), (2L, "CamelCase42 mixed, tokens!"))
      .toDF("id", "t").createOrReplaceTempView("wf_docs")
    val sqlFps = spark.sql("SELECT id, explode(graft_winnow_fps(t, 3, 2)) AS fp FROM wf_docs")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val dslFps = spark.table("wf_docs")
      .select($"id", org.apache.spark.sql.functions.explode(
        TextExpressions.winnowFps($"t", 3, 2)).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sqlFps == dslFps && sqlFps.nonEmpty)
    val sqlTc = spark.sql(
      "SELECT graft_term_counts(t).ntok, size(graft_term_counts(t).entries) FROM wf_docs WHERE id = 1")
      .head()
    assert(sqlTc.getInt(0) == 7 && sqlTc.getInt(1) == 7)
    val sqlBg = spark.sql(
      "SELECT graft_bigram_counts(t).nbg, size(graft_bigram_counts(t).entries) FROM wf_docs WHERE id = 1")
      .head()
    assert(sqlBg.getInt(0) == 6 && sqlBg.getInt(1) == 6)
    Seq((1L, Seq(2.0f, -1.0f, 0.5f))).toDF("id", "v").createOrReplaceTempView("qv")
    val sqlQ = spark.sql("SELECT graft_quantize8(v).scale, graft_quantize8(v).codes FROM qv").head()
    assert(sqlQ.getDouble(0) == 2.0 / 127.0 &&
      sqlQ.getSeq[Byte](1) == Seq[Byte](127, -64, 32))
    val sqlBpe = spark.sql("SELECT graft_bpeish_count(t) FROM wf_docs WHERE id = 2").head().getInt(0)
    val dslBpe = spark.table("wf_docs").filter($"id" === 2)
      .select(TextExpressions.bpeishCount($"t")).head().getInt(0)
    assert(sqlBpe == dslBpe)
    // literal-only k/w guard
    val e = intercept[Exception] {
      spark.sql("SELECT graft_winnow_fps(t, id, 2) FROM wf_docs").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
  }

  test("graft_topk aggregate from SQL matches the window formulation") {
    import spark.implicits._
    (0L until 200L).map(i => (i % 5, i, math.cos(i.toDouble)))
      .toDF("q", "id", "score").createOrReplaceTempView("tk_rows")
    val sqlOut = spark.sql(
      """SELECT q, e.id, e.score
         FROM (SELECT q, graft_topk(score, id, 3) AS tk FROM tk_rows GROUP BY q)
         LATERAL VIEW explode(tk) AS e""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val winOut = spark.sql(
      """SELECT q, id, score FROM (
           SELECT q, id, score,
                  row_number() OVER (PARTITION BY q ORDER BY score DESC, id) AS rk
           FROM tk_rows) WHERE rk <= 3""")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sqlOut == winOut && sqlOut.size == 15)
  }

  test("graft_url_canonical and graft_money_sum from SQL match the DSL natives") {
    import spark.implicits._
    Seq((1L, "HTTPS://A.B:443/P?utm_x=1&id=2", 1.15),
        (1L, "http://h:80/q#frag", 2.30),
        (2L, "not a url", 0.145))
      .toDF("g", "u", "v").createOrReplaceTempView("r15_rows")
    val url = spark.sql("SELECT graft_url_canonical(u) FROM r15_rows ORDER BY u")
      .collect().map(_.getString(0)).toSeq
    val dsl = spark.table("r15_rows").orderBy("u")
      .select(graft.functions.TextFunctions.normalizeUrl($"u"))
      .collect().map(_.getString(0)).toSeq
    assert(url == dsl)
    val sums = spark.sql(
      "SELECT g, graft_money_sum(v, 2) AS s FROM r15_rows GROUP BY g ORDER BY g")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ref = spark.sql(
      "SELECT g, CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) FROM r15_rows GROUP BY g ORDER BY g")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sums == ref)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_money_sum(v, g) FROM r15_rows GROUP BY g").collect()
    }
    assert(e.getMessage.contains("literal"), e.getMessage)
  }
}
