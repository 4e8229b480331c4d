package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** FusedTopK: the fused mapPartitions retrieval pass must be ROW-IDENTICAL
  * (scores bit-for-bit, tie order included) to the join + bounded-aggregate
  * formulation it replaces, across the edge corpus (null vectors, null
  * elements, zero vectors, mismatched lengths, exact-duplicate vectors → id
  * tie-breaks, k larger than the corpus) and the real testdata shapes.
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

  test("bruteForceTopK: fused == join path on the edge corpus (both excludeSelf modes)") {
    val queries = planted.select(col("vec_id").as("query_id"), col("embedding"))
    for (ex <- Seq(true, false)) {
      val fused = Similarity.bruteForceTopK(planted, queries, k = 4,
        excludeSelf = ex, fused = true)
      val join = Similarity.bruteForceTopK(planted, queries, k = 4,
        excludeSelf = ex, fused = false)
      assert(sortedRows(fused) == sortedRows(join), s"excludeSelf=$ex")
    }
  }

  test("bruteForceTopK: k exceeding the corpus still matches") {
    val queries = planted.limit(2).select(col("vec_id").as("query_id"), col("embedding"))
    val fused = Similarity.bruteForceTopK(planted, queries, k = 50, fused = true)
    val join  = Similarity.bruteForceTopK(planted, queries, k = 50, fused = false)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("hardNegatives: fused == join path incl. null labels") {
    val anchors = planted.select(col("vec_id").as("anchor_id"),
      col("embedding"), col("label"))
    val fused = Similarity.hardNegatives(planted, anchors, k = 3, fused = true)
    val join  = Similarity.hardNegatives(planted, anchors, k = 3, fused = false)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("adcTopKBatch: fused == join path on real embeddings") {
    val cb = Pq.formulaCodebook(m = 8, ksub = 16, dsub = 8)
    val emb = Tables.load(spark, dir, "embeddings").filter(col("embedding").isNotNull)
    val encoded = Pq.encode(emb, cb)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    for (ex <- Seq(true, false)) {
      val fused = Pq.adcTopKBatch(encoded, cb, queries, k = 5,
        excludeSelf = ex, fused = true)
      val join = Pq.adcTopKBatch(encoded, cb, queries, k = 5,
        excludeSelf = ex, fused = false)
      assert(sortedRows(fused) == sortedRows(join), s"excludeSelf=$ex")
    }
  }

  test("IvfIndex.topKBatch: fused == join path at nprobe<nlist and nprobe=nlist") {
    val emb = Tables.load(spark, dir, "embeddings")
    val index = Similarity.ivfIndex(emb, nlist = 8, seed = 7L)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    for (nprobe <- Seq(2, 8); ex <- Seq(true, false)) {
      val fused = index.topKBatch(queries, k = 5, nprobe = nprobe,
        excludeSelf = ex, fused = true)
      val join = index.topKBatch(queries, k = 5, nprobe = nprobe,
        excludeSelf = ex, fused = false)
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
        nbits = 4, fused = true).select("id_a", "id_b", "score")
      val join = Similarity.semDupesOnIndex(idxPlanted, dim = 3, threshold = thr,
        nbits = 4, fused = false).select("id_a", "id_b", "score")
      assert(sortedRows(fused) == sortedRows(join), s"threshold=$thr")
    }
    // real embeddings with the q_dedup_semantic shape (planted exact dups);
    // exact fused (default) and join must produce the identical pair set
    // with identical scores
    val emb = Tables.load(spark, dir, "embeddings")
    val aug = emb.unionByName(emb.filter(col("vec_id") % 50 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000000L))
    val index = Similarity.ivfIndex(aug, nlist = 8, seed = 7L)
    val fusedR = Similarity.semDupesOnIndex(index, dim = 64, threshold = 0.999)
    val joinR  = Similarity.semDupesOnIndex(index, dim = 64, threshold = 0.999, fused = false)
    assert(sortedRows(fusedR.select("id_a", "id_b", "score")) ==
           sortedRows(joinR.select("id_a", "id_b", "score")))
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
      val fused = Similarity.semDupesOnIndex(index, dim = 8, threshold = thr, nbits = 2,
        fused = true).select("id_a", "id_b", "score")
      val join = Similarity.semDupesOnIndex(index, dim = 8, threshold = thr, nbits = 2,
        fused = false).select("id_a", "id_b", "score")
      assert(sortedRows(fused) == sortedRows(join), s"threshold=$thr")
      assert(fused.count() > 0, s"threshold=$thr produced no pairs — test is vacuous")
    }
  }

  test("real embeddings: fused bruteForceTopK scores bit-equal to the join path") {
    val emb = Tables.load(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fused = Similarity.bruteForceTopK(emb, queries, k = 5,
      excludeSelf = true, fused = true).orderBy("query_id", "vec_id").collect().toSeq
    val join = Similarity.bruteForceTopK(emb, queries, k = 5,
      excludeSelf = true, fused = false).orderBy("query_id", "vec_id").collect().toSeq
    assert(fused == join) // Row equality: double scores must match BITWISE
  }

  test("hardNegatives on real embeddings: fused == join path") {
    val emb = Tables.load(spark, dir, "embeddings")
    val anchors = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("anchor_id"), col("embedding"), col("label"))
    val fused = Similarity.hardNegatives(emb, anchors, k = 5, fused = true)
    val join  = Similarity.hardNegatives(emb, anchors, k = 5, fused = false)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("oversized query frame SHARDS: union of per-shard merges == single pass") {
    // 9 queries through a cap of 4 → 3 shards (4 + 4 + 1); the union of
    // the per-shard TopKAggregate merges must be ROW-IDENTICAL (bitwise
    // scores, tie order) to one unsharded pass AND to the join path.
    val queries = planted.select(col("vec_id").as("query_id"), col("embedding"))
    val sharded = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None, maxQueries = 4)
    val single = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None)
    val join = Similarity.bruteForceTopK(planted, queries, k = 2,
      excludeSelf = false, fused = false)
    assert(sortedRows(sharded) == sortedRows(single))
    assert(sortedRows(sharded) == sortedRows(join))
    // every query id present — shard boundaries drop nothing
    assert(sharded.select("query_id").distinct().count() == 9)

    // ADC path, same contract: 6 queries / cap 4 → 2 shards
    val cb = Pq.formulaCodebook(m = 1, ksub = 4, dsub = 3)
    // clean length-3 vectors only (PqDistTable rejects null elements)
    val clean = planted.filter(col("vec_id").isin(1L, 2L, 3L, 4L, 5L, 9L))
    val q = clean.select(col("vec_id").as("query_id"),
      graft.plans.VectorExpressions.pqDistTable(col("embedding"), cb.asSeq).as("__qtab"))
    val enc = clean.select(col("vec_id"),
      graft.plans.VectorExpressions.pqEncode(col("embedding"), cb.asSeq).as("codes"))
    val adcSharded = FusedTopK.adcTopK(enc, q, k = 2, ksub = 4, "vec_id", "codes",
      "query_id", "__qtab", excludeSelf = false, maxQueries = 4)
    val adcSingle = FusedTopK.adcTopK(enc, q, k = 2, ksub = 4, "vec_id", "codes",
      "query_id", "__qtab", excludeSelf = false)
    assert(sortedRows(adcSharded) == sortedRows(adcSingle))
    assert(adcSharded.select("query_id").distinct().count() == 6)
  }

  test("DUPLICATE query ids never straddle shards: sharded == single pass with dup ids") {
    // A duplicated id split across two shards would emit TWO k-row groups
    // where the single pass emits ONE (both occurrences aggregate into one
    // heap). The id-sorted, run-extending chunker keeps each id in exactly
    // one shard, so the union stays row-identical even on degenerate
    // duplicate-id frames: 9 base queries + 3 duplicates of ids {1, 5, 9},
    // cap 4 → boundaries land inside the duplicate runs without the rule.
    val base = planted.select(col("vec_id").as("query_id"), col("embedding"))
    val dups = base.filter(col("query_id").isin(1L, 5L, 9L))
    val queries = base.unionByName(dups)
    val sharded = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None, maxQueries = 4)
    val single = FusedTopK.cosineTopK(planted, queries, k = 2, "vec_id", "embedding",
      "query_id", excludeSelf = false, labelCol = None)
    assert(sortedRows(sharded) == sortedRows(single))
    // one group per id — never k extra rows for a duplicated id
    assert(sharded.select("query_id").distinct().count() == 9)
    assert(sharded.count() == single.count())
  }

  test("decimal CORPUS ids beyond long precision take the join path (no lossy cast)") {
    // the corpus id rides the same cast("long") round-trip inside the fused
    // scans as the query id — the caller gate must check BOTH sides
    val corpusDec = planted.withColumn("vec_id", col("vec_id").cast(DecimalType(19, 0)))
    val q = planted.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val viaDefault = Similarity.bruteForceTopK(corpusDec, q, k = 2, fused = true)
    val viaJoin    = Similarity.bruteForceTopK(corpusDec, q, k = 2, fused = false)
    assert(sortedRows(viaDefault) == sortedRows(viaJoin))
    // and the in-operator backstop is loud for direct fused calls
    val e = intercept[IllegalArgumentException] {
      FusedTopK.cosineTopK(corpusDec, q, k = 2, "vec_id", "embedding",
        "query_id", excludeSelf = false, labelCol = None)
    }
    assert(e.getMessage.contains("corpus id"))
  }

  test("decimal query ids beyond long precision take the join path (no lossy cast)") {
    // decimal(19,0) CAN hold values a long cannot — the fused gate must
    // reject the TYPE (precision > 18), not trust runtime values
    assert(!FusedTopK.exactIntegerIdType(DecimalType(19, 0)))
    assert(!FusedTopK.exactIntegerIdType(DecimalType(38, 0)))
    assert(FusedTopK.exactIntegerIdType(DecimalType(18, 0)))
    val qDec = planted.filter(col("vec_id") <= 3)
      .select(col("vec_id").cast(DecimalType(19, 0)).as("query_id"), col("embedding"))
    val viaDefault = Similarity.bruteForceTopK(planted, qDec, k = 2, fused = true)
    val viaJoin    = Similarity.bruteForceTopK(planted, qDec, k = 2, fused = false)
    assert(sortedRows(viaDefault) == sortedRows(viaJoin))
    assert(viaDefault.schema("query_id").dataType == DecimalType(19, 0))
  }

  test("non-integral query ids fall back to the join path (no NPE, no id merging)") {
    // "123" vs "0123": distinct STRING ids that a long cast would silently
    // merge into one heap (and a failed cast would NPE at the driver).
    val q2 = planted.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(when(col("vec_id") === 1L, lit("0123"))
        .when(col("vec_id") === 2L, lit("123"))
        .otherwise(lit("q3")).as("query_id"), col("embedding"))
    val viaDefault = Similarity.bruteForceTopK(planted, q2, k = 3, fused = true)
    val viaJoin    = Similarity.bruteForceTopK(planted, q2, k = 3, fused = false)
    assert(sortedRows(viaDefault) == sortedRows(viaJoin))
    // three distinct query ids, each with its own full top-3
    assert(viaDefault.select("query_id").distinct().count() == 3)
    assert(viaDefault.count() == 9)
    assert(viaDefault.schema("query_id").dataType == StringType)
  }

  test("fused output keeps the original exact-integer query-id type") {
    val qInt = planted.filter(col("vec_id") <= 3)
      .select(col("vec_id").cast("int").as("query_id"), col("embedding"))
    val fused = Similarity.bruteForceTopK(planted, qInt, k = 2, fused = true)
    val join  = Similarity.bruteForceTopK(planted, qInt, k = 2, fused = false)
    assert(fused.schema("query_id").dataType == join.schema("query_id").dataType)
    assert(fused.schema("query_id").dataType == IntegerType)
    assert(sortedRows(fused) == sortedRows(join))
  }

  test("adcTopKBatch: null query vector (null distance table) matches the join path") {
    val cb = Pq.formulaCodebook(m = 1, ksub = 4, dsub = 3)
    val corpus = planted.filter(col("vec_id").isin(1L, 3L, 4L))
    val encoded = Pq.encode(corpus, cb)
    // query 6 has a NULL embedding → null __qtab; the join path ranks its
    // neighbors with null distances, the fused path must do the same (it
    // NPE'd at table.length before r19)
    val queries = planted.filter(col("vec_id").isin(1L, 6L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val fused = Pq.adcTopKBatch(encoded, cb, queries, k = 2, fused = true)
    val join  = Pq.adcTopKBatch(encoded, cb, queries, k = 2, fused = false)
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
