package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, SparkTestSession, Tables}
import graft.functions.{VectorFunctions => VF}
import graft.plans.{VectorExpressions => PV}

/** FusedTopK: the fused retrieval scans must be ROW-IDENTICAL (scores
  * bit-for-bit, tie order included) to the join path, across the edge corpus
  * (null vectors, null elements, zero vectors, mismatched lengths,
  * exact-duplicate vectors → id tie-breaks, k larger than the corpus) and the
  * real testdata shapes. The join path is this spec's own reference: the
  * scored cross product (CosineSim / AdcDistance under the same predicates),
  * ranked per query by a `row_number` window (score desc, id asc — the
  * order TopKAggregateSpec pins). It shares no code with TopKAggregate or
  * the fused scans.
  */
class FusedTopKSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  import scala.jdk.CollectionConverters._

  /** Edge corpus: floats like the real embeddings table. */
  private lazy val planted: DataFrame = {
    def v(xs: Float*): Seq[Float] = xs
    val rows = Seq(
      Row(1L, v(1f, 0f, 0f), 0),
      Row(2L, v(1f, 0f, 0f), 1),            // exact dup of 1 → tie on score
      Row(3L, v(0f, 1f, 0f), 0),
      Row(4L, v(0.6f, 0.8f, 0f), 1),
      Row(5L, v(0f, 0f, 0f), 0),            // zero vector → score 0.0
      Row(6L, null, 1),                      // null vector → null score
      Row(7L, Seq[Any](0.5f, null, 0.5f), 0), // null element → null score
      Row(8L, v(1f, 0f), 1),                 // mismatched length → null score
      Row(9L, v(-1f, 0f, 0f), null)          // null label
    )
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType, nullable = true)))
    spark.createDataFrame(rows.asJava, schema)
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  private def usesFusedScan(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("FusedTopK")

  /** The top-k join path: `queries` (its columns renamed apart from the
    * corpus's) crossed with `corpus`, filtered by `pred`, scored by `score`
    * and ranked per `qid` by a window. Output `(qid, vec_id as long, score)`,
    * the fused scans' layout. */
  private def joinPath(corpus: DataFrame, queries: DataFrame, k: Int, qid: String,
      pred: Column, score: Column): DataFrame = {
    val rank = Window.partitionBy(qid).orderBy(desc("score"), col("vec_id"))
    corpus.crossJoin(queries).filter(pred)
      .select(col(qid), col("vec_id").cast("long").as("vec_id"), score.as("score"))
      .withColumn("__rank", row_number().over(rank))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  private def selfPred(excludeSelf: Boolean): Column =
    if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)

  /** [[Similarity.bruteForceTopK]]'s join path. */
  private def cosineJoin(corpus: DataFrame, queries: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame =
    joinPath(corpus, queries.select(col("query_id"), col("embedding").as("__qvec")), k,
      "query_id", selfPred(excludeSelf), VF.cosine(col("embedding"), col("__qvec")))

  /** [[Similarity.hardNegatives]]'s join path. */
  private def negativesJoin(corpus: DataFrame, anchors: DataFrame, k: Int): DataFrame =
    joinPath(corpus, anchors.select(col("anchor_id"), col("embedding").as("__avec"),
        col("label").as("__albl")), k,
      "anchor_id", col("label") =!= col("__albl"), VF.cosine(col("embedding"), col("__avec")))

  /** [[Pq.adcTopKBatch]]'s join path: negated distances rank highest-first. */
  private def adcJoin(encoded: DataFrame, cb: Pq.PqCodebook, queries: DataFrame, k: Int,
      excludeSelf: Boolean): DataFrame =
    joinPath(encoded,
        queries.select(col("query_id"), PV.pqDistTable(col("embedding"), cb.asSeq).as("__qtab")),
        k, "query_id", selfPred(excludeSelf),
        -PV.adcDistance(col("codes"), col("__qtab"), cb.ksub))
      .select(col("query_id"), col("vec_id"), (-col("score")).as("distance"))

  /** [[Similarity.IvfIndex.topKBatch]]'s join path. Each query's probed
    * cells are chosen here, on the driver: the `nprobe` nearest centroids by
    * squared Euclidean distance folded in index order, ties to the lower
    * cell. */
  private def ivfJoin(index: Similarity.IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean): DataFrame = {
    val probed = queries.select(col("query_id"), col("embedding").cast("array<double>"))
      .collect().toSeq.map { r =>
        val q = r.getSeq[Double](1)
        val cells = index.centers.indices.sortBy { c =>
          var d = 0.0
          q.indices.foreach { j => val t = q(j) - index.centers(c)(j); d += t * t }
          (d, c)
        }.take(nprobe)
        (r.getLong(0), q, cells)
      }
    import spark.implicits._
    joinPath(index.assigned, probed.toDF("query_id", "__qvec", "__cells"), k, "query_id",
      array_contains(col("__cells"), col("cell")) && selfPred(excludeSelf),
      VF.cosine(col("embedding"), col("__qvec")))
  }

  /** [[Similarity.semDupesOnIndex]]'s join path: every pair of rows in one
    * cell where the base row's bucket is among the probe row's probe
    * buckets, oriented `id_a < id_b`, scored and kept at `>= threshold`. */
  private def pairsJoin(index: Similarity.IvfIndex, dim: Int, threshold: Double,
      nbits: Int): DataFrame = {
    val base = index.assigned.select(col("cell"), col("vec_id"), col("embedding"),
      VF.hyperplaneBucket(col("embedding"), dim, nbits, 7L).as("bucket"))
    base.select(col("cell").as("cell_a"), col("vec_id").as("id_a"), col("embedding").as("v_a"),
        VF.probeBuckets(col("bucket"), nbits).as("probes"))
      .crossJoin(base)
      .filter(col("cell_a") === col("cell") && array_contains(col("probes"), col("bucket")) &&
        col("id_a") < col("vec_id"))
      .select(col("id_a"), col("vec_id").as("id_b"),
        VF.cosine(col("v_a"), col("embedding")).as("score"))
      .filter(col("score") >= threshold)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  test("bruteForceTopK: fused == join path on the edge corpus (both excludeSelf modes)") {
    val queries = planted.select(col("vec_id").as("query_id"), col("embedding"))
    for (ex <- Seq(true, false)) {
      val fused = Similarity.bruteForceTopK(planted, queries, k = 4, excludeSelf = ex)
      val join = cosineJoin(planted, queries, k = 4, excludeSelf = ex)
      assert(sortedRows(fused) == sortedRows(join), s"excludeSelf=$ex")
    }
  }

  test("bruteForceTopK: k exceeding the corpus still matches") {
    val queries = planted.limit(2).select(col("vec_id").as("query_id"), col("embedding"))
    val fused = Similarity.bruteForceTopK(planted, queries, k = 50)
    val join  = cosineJoin(planted, queries, k = 50, excludeSelf = false)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("hardNegatives: fused == join path incl. null labels") {
    val anchors = planted.select(col("vec_id").as("anchor_id"),
      col("embedding"), col("label"))
    val fused = Similarity.hardNegatives(planted, anchors, k = 3)
    val join  = negativesJoin(planted, anchors, k = 3)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("adcTopKBatch: fused == join path on real embeddings") {
    val cb = Pq.formulaCodebook(m = 8, ksub = 16, dsub = 8)
    val emb = Tables.load(spark, dir, "embeddings").filter(col("embedding").isNotNull)
    val encoded = Pq.encode(emb, cb)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    for (ex <- Seq(true, false)) {
      val fused = Pq.adcTopKBatch(encoded, cb, queries, k = 5, excludeSelf = ex)
      val join = adcJoin(encoded, cb, queries, k = 5, excludeSelf = ex)
      assert(sortedRows(fused) == sortedRows(join), s"excludeSelf=$ex")
    }
  }

  test("IvfIndex.topKBatch: fused == join path at nprobe<nlist and nprobe=nlist") {
    val emb = Tables.load(spark, dir, "embeddings")
    val index = Similarity.ivfIndex(emb, nlist = 8, seed = 7L)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    for (nprobe <- Seq(2, 8); ex <- Seq(true, false)) {
      val fused = index.topKBatch(queries, k = 5, nprobe = nprobe, excludeSelf = ex)
      val join = ivfJoin(index, queries, k = 5, nprobe = nprobe, excludeSelf = ex)
      assert(sortedRows(fused) == sortedRows(join), s"nprobe=$nprobe excludeSelf=$ex")
    }
  }

  test("semDupesOnIndex: fused pair scan == join path (planted edges + real embeddings)") {
    // planted: exact dups (cosine 1.0), a zero vector, scaled copies
    // (cosine 1.0 at different norms). Null vectors/elements are excluded
    // by ivfIndex's own contract (NearestCenter throws on them — the
    // assignment scan must never silently misfile a vector), so the
    // null-score path has no reachable input here; the topK tests above
    // cover those edges where they ARE reachable.
    val rows = Seq(
      Row(1L, Seq(1f, 0f, 0f)), Row(2L, Seq(1f, 0f, 0f)),   // dup pair
      Row(3L, Seq(2f, 0f, 0f)),                              // scaled copy of 1,2
      Row(4L, Seq(0f, 1f, 0f)),
      Row(5L, Seq(0f, 0f, 0f)))                              // zero vector
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val df = spark.createDataFrame(rows.asJava, schema)
    val idxPlanted = Similarity.ivfIndex(df, nlist = 2, seed = 7L)
    for (thr <- Seq(0.999, 0.5)) {
      val fused = Similarity.semDupesOnIndex(idxPlanted, dim = 3, threshold = thr,
        nbits = 4).select("id_a", "id_b", "score")
      val join = pairsJoin(idxPlanted, dim = 3, threshold = thr, nbits = 4)
      assert(sortedRows(fused) == sortedRows(join), s"threshold=$thr")
    }
    // real embeddings with the q_dedup_semantic shape (planted exact dups);
    // the fused scan and the join path must produce the identical pair set
    // with identical scores
    val emb = Tables.load(spark, dir, "embeddings")
    val aug = emb.unionByName(emb.filter(col("vec_id") % 50 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000000L))
    val index = Similarity.ivfIndex(aug, nlist = 8, seed = 7L)
    val fusedR = Similarity.semDupesOnIndex(index, dim = 64, threshold = 0.999)
    val joinR  = pairsJoin(index, dim = 64, threshold = 0.999, nbits = 8)
    assert(sortedRows(fusedR.select("id_a", "id_b", "score")) == sortedRows(joinR))
    assert(fusedR.count() > 0) // the planted dups are actually found
  }

  test("semDupesOnIndex: fused == join path across a dense near-threshold sweep") {
    // random unit-ish vectors put many pairs NEAR each threshold, where a
    // tie or rounding difference between the two scans would show; low
    // thresholds make the near-boundary band dense, and -1.0 admits every
    // co-bucketed pair (scores <= 0 and zero-norm pairs included)
    val rnd = new scala.util.Random(20260815L)
    val rows = (0L until 300L).map { i =>
      Row(i, Seq.fill(8)((rnd.nextGaussian() * 0.3).toFloat), 0)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType, nullable = true)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val index = Similarity.ivfIndex(df, nlist = 4, seed = 7L)
    for (thr <- Seq(0.9, 0.5, 0.1, -1.0)) {
      val fused = Similarity.semDupesOnIndex(index, dim = 8, threshold = thr, nbits = 2)
        .select("id_a", "id_b", "score")
      val join = pairsJoin(index, dim = 8, threshold = thr, nbits = 2)
      assert(sortedRows(fused) == sortedRows(join), s"threshold=$thr")
      assert(fused.count() > 0, s"threshold=$thr produced no pairs — test is vacuous")
    }
  }

  test("real embeddings: fused bruteForceTopK scores bit-equal to the join path") {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fused = Similarity.bruteForceTopK(emb, queries, k = 5,
      excludeSelf = true).orderBy("query_id", "vec_id").collect().toSeq
    val join = cosineJoin(emb, queries, k = 5,
      excludeSelf = true).orderBy("query_id", "vec_id").collect().toSeq
    assert(fused == join) // Row equality: double scores must match BITWISE
  }

  test("hardNegatives on real embeddings: fused == join path") {
    val emb = Tables.load(spark, dir, "embeddings")
    val anchors = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding"), col("label"))
    val fused = Similarity.hardNegatives(emb, anchors, k = 5)
    val join  = negativesJoin(emb, anchors, k = 5)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("oversized query frame is scored in chunks: chunked == single pass") {
    // 9 queries through a cap of 4 → 3 chunks (4 + 4 + 1), each one more
    // pass over every corpus partition, all under ONE TopKAggregate merge:
    // ROW-IDENTICAL (bitwise scores, tie order) to one unchunked pass AND to
    // the join path.
    val queries = planted.select(col("vec_id").as("query_id"), col("embedding"))
    val chunked = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None, maxQueries = 4)
    val single = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None)
    val join = cosineJoin(planted, queries, k = 2, excludeSelf = false)
    assert(usesFusedScan(chunked))
    assert(sortedRows(chunked) == sortedRows(single))
    assert(sortedRows(chunked) == sortedRows(join))
    // every query id present — chunk boundaries drop nothing
    assert(chunked.select("query_id").distinct().count() == 9)

    // ADC path, same contract: 6 queries / cap 4 → 2 chunks
    val cb = Pq.formulaCodebook(m = 1, ksub = 4, dsub = 3)
    // clean length-3 vectors only (PqDistTable rejects null elements)
    val clean = planted.filter(col("vec_id").isin(1L, 2L, 3L, 4L, 5L, 9L))
    val q = clean.select(col("vec_id").as("query_id"),
      graft.plans.VectorExpressions.pqDistTable(col("embedding"), cb.asSeq).as("__qtab"))
    val enc = clean.select(col("vec_id"),
      graft.plans.VectorExpressions.pqEncode(col("embedding"), cb.asSeq).as("codes"))
    val adcChunked = FusedTopK.adcTopK(enc, q, k = 2, ksub = 4, "vec_id", "codes",
      "query_id", "__qtab", excludeSelf = false, maxQueries = 4)
    val adcSingle = FusedTopK.adcTopK(enc, q, k = 2, ksub = 4, "vec_id", "codes",
      "query_id", "__qtab", excludeSelf = false)
    assert(usesFusedScan(adcChunked))
    assert(sortedRows(adcChunked) == sortedRows(adcSingle))
    assert(adcChunked.select("query_id").distinct().count() == 6)
  }

  test("duplicate query ids across chunks merge: chunked == single pass") {
    // Both paths aggregate a duplicated query id into ONE group. With
    // 9 base queries + 3 duplicates of ids {1, 5, 9} and a cap of 4, the
    // duplicates land in other chunks than their originals; the one merge
    // over every chunk's candidates still yields one k-row group per id.
    val base = planted.select(col("vec_id").as("query_id"), col("embedding"))
    val dups = base.filter(col("query_id").isin(1L, 5L, 9L))
    val queries = base.unionByName(dups)
    val chunked = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None, maxQueries = 4)
    val single = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None)
    val join = cosineJoin(planted, queries, k = 2, excludeSelf = false)
    assert(sortedRows(chunked) == sortedRows(single))
    assert(sortedRows(chunked) == sortedRows(join))
    // one group per id — never k extra rows for a duplicated id
    assert(chunked.select("query_id").distinct().count() == 9)
    assert(chunked.count() == single.count())
  }

  test("decimal(19,0) corpus ids: in range == the join path, beyond Long range a loud failure") {
    // the fused heaps key the corpus id as a long: an in-range decimal(19,0)
    // id converts exactly, and one beyond Long range fails the query under
    // either ANSI mode — never nulled (excludeSelf would skip the row) or
    // wrapped (neighbors would merge)
    val dec = DecimalType(19, 0)
    val corpusDec = planted.withColumn("vec_id", col("vec_id").cast(dec))
    val beyond = planted.withColumn("vec_id", when(col("vec_id") === 9L,
      lit(BigDecimal("9999999999999999999")).cast(dec)).otherwise(col("vec_id").cast(dec)))
    val q = planted.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // a query id no long can hold equals no corpus id: excludeSelf drops nothing
    val qBeyond = q.withColumn("query_id", when(col("query_id") === 1L,
      lit(BigDecimal("9999999999999999999")).cast(dec)).otherwise(col("query_id").cast(dec)))
    for (ansi <- Seq("true", "false"); ex <- Seq(true, false))
      SparkTestSession.withConf("spark.sql.ansi.enabled", ansi) {
        val viaDefault = Similarity.bruteForceTopK(corpusDec, q, k = 2, excludeSelf = ex)
        assert(usesFusedScan(viaDefault))
        assert(sortedRows(viaDefault) == sortedRows(cosineJoin(corpusDec, q, k = 2, ex)),
          s"ansi=$ansi excludeSelf=$ex")
        assert(sortedRows(Similarity.bruteForceTopK(corpusDec, qBeyond, k = 2, excludeSelf = ex)) ==
          sortedRows(cosineJoin(corpusDec, qBeyond, k = 2, ex)), s"ansi=$ansi excludeSelf=$ex")
        val e = intercept[Exception] {
          Similarity.bruteForceTopK(beyond, q, k = 2, excludeSelf = ex).collect()
        }
        assert(causes(e).exists(c => String.valueOf(c.getMessage).contains("CAST_OVERFLOW")),
          s"ansi=$ansi excludeSelf=$ex: $e")
      }
    // and a non-integer corpus id fails at plan construction, on a direct
    // fused call too
    val e = intercept[IllegalArgumentException] {
      FusedTopK.cosineTopK(planted.withColumn("vec_id", col("vec_id").cast("double")), q,
        k = 2, "vec_id", "embedding", "query_id", excludeSelf = false, labelCol = None)
    }
    assert(e.getMessage.contains("corpus id"))
  }

  test("decimal(19,0) query ids ride the fused scan, == the join path") {
    // decimal(19,0) CAN hold values a long cannot: the query id rides the
    // fused scan in its own type (only the CORPUS id is cast to long)
    val qDec = planted.filter(col("vec_id") <= 3)
      .select(col("vec_id").cast(DecimalType(19, 0)).as("query_id"), col("embedding"))
    for (ex <- Seq(true, false)) {
      val viaDefault = Similarity.bruteForceTopK(planted, qDec, k = 2, excludeSelf = ex)
      val viaJoin = cosineJoin(planted, qDec, k = 2, excludeSelf = ex)
      assert(usesFusedScan(viaDefault))
      assert(sortedRows(viaDefault) == sortedRows(viaJoin), s"excludeSelf=$ex")
      assert(viaDefault.schema("query_id").dataType == DecimalType(19, 0))
    }
  }

  test("string query ids ride the fused scan, == the join path") {
    // "123" vs "0123": distinct STRING ids that a long cast would silently
    // merge into one heap; in their own type they stay two groups.
    val q2 = planted.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(when(col("vec_id") === 1L, lit("0123"))
        .when(col("vec_id") === 2L, lit("123"))
        .otherwise(lit("q3")).as("query_id"), col("embedding"))
    val viaDefault = Similarity.bruteForceTopK(planted, q2, k = 3)
    val viaJoin    = cosineJoin(planted, q2, k = 3, excludeSelf = false)
    assert(usesFusedScan(viaDefault))
    assert(sortedRows(viaDefault) == sortedRows(viaJoin))
    // three distinct query ids, each with its own full top-3
    assert(viaDefault.select("query_id").distinct().count() == 3)
    assert(viaDefault.count() == 9)
    assert(viaDefault.schema("query_id").dataType == StringType)
    // excludeSelf compares corpus and query ids as SQL's `=!=` does
    // (Spark's own coercion), so both paths drop the same rows
    val numeric = planted.filter(col("vec_id").isin(1L, 2L))
      .select(when(col("vec_id") === 1L, lit("01")).otherwise(lit("2")).as("query_id"),
        col("embedding"))
    assert(sortedRows(Similarity.bruteForceTopK(planted, numeric, k = 3, excludeSelf = true)) ==
      sortedRows(cosineJoin(planted, numeric, k = 3, excludeSelf = true)))
  }

  test("fused output keeps the original exact-integer query-id type") {
    val qInt = planted.filter(col("vec_id") <= 3)
      .select(col("vec_id").cast("int").as("query_id"), col("embedding"))
    val fused = Similarity.bruteForceTopK(planted, qInt, k = 2)
    val join  = cosineJoin(planted, qInt, k = 2, excludeSelf = false)
    assert(fused.schema("query_id").dataType == join.schema("query_id").dataType)
    assert(fused.schema("query_id").dataType == IntegerType)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("adcTopKBatch: null query vector (null distance table) matches the join path") {
    val cb = Pq.formulaCodebook(m = 1, ksub = 4, dsub = 3)
    val corpus = planted.filter(col("vec_id").isin(1L, 3L, 4L))
    val encoded = Pq.encode(corpus, cb)
    // query 6 has a NULL embedding → null __qtab; the join path ranks its
    // neighbors with null distances, the fused scan must do the same (it
    // NPE'd at table.length before r19)
    val queries = planted.filter(col("vec_id").isin(1L, 6L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fused = Pq.adcTopKBatch(encoded, cb, queries, k = 2)
    val join  = adcJoin(encoded, cb, queries, k = 2, excludeSelf = false)
    assert(sortedRows(fused) == sortedRows(join))
    assert(fused.filter(col("query_id") === 6L).count() == 2) // null-ranked, not dropped
  }

  test("cosinePairs: zero-norm mismatched-length pair scores 0.0 (CosineSim's denom-first order)") {
    // CosineSim decides denom == 0 BEFORE the length check: a zero-norm
    // pair scores 0.0 even at mismatched lengths, and the join path emits
    // it whenever threshold <= 0.0 — the fused scan must not drop it.
    val rows = Seq(
      Row(0, 0, true, 1L, Seq(0f, 0f, 0f)),   // zero vector, length 3
      Row(0, 0, true, 2L, Seq(0f, 0f)),       // zero vector, length 2
      Row(0, 0, true, 3L, Seq(1f, 0f)))       // nonzero, length 2
    val schema = StructType(Seq(
      StructField("cell", IntegerType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("__orig", BooleanType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val replicated = spark.createDataFrame(rows.asJava, schema)
    val pairs = FusedTopK.cosinePairs(replicated, threshold = 0.0,
        "cell", "bucket", "__orig", "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // (1,2): zero-norm, mismatched → 0.0 (emitted). (2,3): same length,
    // denom 0 from the zero side → 0.0 (emitted). (1,3): mismatched with
    // nonzero side... denom = 0 (vector 1 is zero-norm) → 0.0 (emitted).
    assert(pairs == Set((1L, 2L, 0.0), (2L, 3L, 0.0), (1L, 3L, 0.0)))
    // and above a positive threshold none of them survive
    assert(FusedTopK.cosinePairs(replicated, threshold = 0.5,
      "cell", "bucket", "__orig", "vec_id", "embedding").count() == 0)
  }
}
