package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths: brute-force cosine (the exact baseline — a single broadcast of
  * the query against a linear scan, fine at any corpus size for ONE query)
  * and hyperplane-LSH bucketing (the scale path for query batches / all-pairs
  * near-dup, where candidates come from bucket equi-joins, never a crossJoin).
  */
object Similarity {

  /** The LSH batch paths' per-query rank tail: score desc, id tie-break,
    * keep top k — the same [[graft.plans.TopKAggregate]] merge the fused
    * scans end in, so ranking semantics (incl. NULL-score placement) cannot
    * fork. The map-side partial keeps at most k candidates per query per
    * partition, so the exchange carries ≤ partitions × queries × k slim
    * rows instead of EVERY scored candidate (the window formulation it
    * replaced shuffled all of them just to rank-filter; ordering parity
    * with that window is pinned in TopKAggregateSpec).
    */
  private def rankPerQuery(scored: DataFrame, k: Int,
                           queryIdCol: String, idCol: String): DataFrame =
    scored
      .groupBy(col(queryIdCol))
      .agg(graft.plans.TopKAggregate.topK(col("score"), col(idCol), k).as("__tk"))
      .select(col(queryIdCol), explode(col("__tk")).as("__e"))
      .select(col(queryIdCol), col("__e.id").as(idCol), col("__e.score").as("score"))

  /** Reserved-column guard shared by the batch paths. */
  private def requireNoReservedCols(df: DataFrame, reserved: Seq[String], who: String): Unit =
    reserved.foreach(c => require(!df.columns.contains(c),
      s"$who: corpus already has a '$c' column — rename it first"))

  /** Exact top-k cosine neighbors of each query row. `queries` is expected to
    * be small (it is broadcast); the corpus is scanned once by the fused
    * scan ([[FusedTopK]]: per-query bounded heaps, no row per scored pair),
    * then merged per query (one shuffle on query_id). The corpus id must be
    * an exact integer; the query id keeps its own type.
    * `excludeSelf` skips corpus rows whose id equals the query id — only
    * meaningful when the queries are drawn FROM the corpus (an unrelated
    * query-id space would drop one legitimate neighbor per id collision).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     queryIdCol: String = "query_id",
                     excludeSelf: Boolean = false): DataFrame =
    FusedTopK.cosineTopK(corpus, queries, k, idCol, vecCol, queryIdCol,
      excludeSelf, labelCol = None)

  /** Top-k for a single query vector id taken from the corpus itself —
    * single-query fast path: ORDER BY + LIMIT compiles to
    * TakeOrderedAndProject (no window shuffle, no full sort).
    */
  def topKForId(corpus: DataFrame, queryId: Long, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(corpus.filter(col(idCol) === queryId)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qvec")))
    corpus
      .join(q, col(idCol) =!= col("query_id"))
      .withColumn("score", V.cosine(col(vecCol), col("__qvec")))
      .select(col("query_id"), col(idCol), col("score"))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Corpus with its hyperplane-LSH bucket id attached (the "index build"). */
  def bucketed(corpus: DataFrame, dim: Int, nbits: Int = 8, seed: Long = 7L,
               vecCol: String = "embedding"): DataFrame =
    corpus.withColumn("bucket", V.hyperplaneBucket(col(vecCol), dim, nbits, seed))

  /** ANN top-k via LSH buckets + 1-bit multiprobe: score only rows whose
    * bucket is the query's bucket or one bit-flip away (~(nbits+1)/2^nbits of
    * the corpus), then exact cosine on candidates. Recall/ cost dial: nbits.
    */
  def lshTopK(corpus: DataFrame, queryId: Long, k: Int, dim: Int,
              nbits: Int = 8, seed: Long = 7L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val idx = bucketed(corpus, dim, nbits, seed, vecCol)
    val q = idx.filter(col(idCol) === queryId)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qvec"),
        explode(V.probeBuckets(col("bucket"), nbits)).as("bucket"))
    idx
      .join(broadcast(q), Seq("bucket"))
      .filter(col(idCol) =!= col("query_id"))
      // score MAP-SIDE (codegen'd fused cosine), then dedupe the NARROW
      // (query, id, score) rows: a candidate shared by several probe flips
      // pays an extra ~dim-flop cosine per duplicate — cheap compute inside
      // the scan stage — while the alternative (dedupe first, vectors in
      // tow) ships two dim-length arrays per candidate through the dedup
      // exchange. Shuffle bytes, not flops, are the scarce resource.
      // Duplicates carry identical scores, so dedup-after-score is exact.
      .select(col("query_id"), col(idCol),
        V.cosine(col(vecCol), col("__qvec")).as("score"))
      .dropDuplicates("query_id", idCol)
      .orderBy(desc("score"), col(idCol))
      .limit(k)
  }

  /** Batch ANN: top-k for a WHOLE query frame in one plan — the production
    * retrieval shape (N queries against the corpus per run, not one). Same
    * bucket-and-probe structure as [[lshTopK]], but the query side is a
    * frame: every query's probe buckets broadcast together, the corpus is
    * scanned ONCE for all queries, and candidates rank per query through
    * the bounded top-k aggregate (map-side discard — the exchange carries
    * ≤ partitions × queries × k rows). Cost ∝ corpus × (probed fraction) +
    * candidates — independent of query count until the broadcast (queries ×
    * (nbits+1) probe rows) stops fitting, at which point shard the query
    * frame and union.
    *
    * `excludeSelf` drops corpus rows whose id equals the query id (same
    * caveat as [[bruteForceTopK]]: only meaningful for queries drawn from
    * the corpus).
    */
  def lshTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                   nbits: Int = 8, seed: Long = 7L,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   queryIdCol: String = "query_id",
                   excludeSelf: Boolean = false): DataFrame = {
    requireNoReservedCols(corpus, Seq(queryIdCol, "__qvec", "bucket", "score", "__rank"),
      "lshTopKBatch")
    val idx = bucketed(corpus, dim, nbits, seed, vecCol)
    val q = broadcast(
      bucketed(queries.select(col(queryIdCol), col(vecCol).as("__qvec")),
          dim, nbits, seed, "__qvec")
        .select(col(queryIdCol), col("__qvec"),
          explode(V.probeBuckets(col("bucket"), nbits)).as("bucket")))
    rankPerQuery(
      idx
        .join(q, Seq("bucket"))
        .filter(if (excludeSelf) col(idCol) =!= col(queryIdCol) else lit(true))
        // score map-side, dedupe the narrow scored rows (see lshTopK: an
        // extra cosine per probe-duplicate beats shipping two vectors per
        // candidate through the dedup exchange).
        .select(col(queryIdCol), col(idCol),
          V.cosine(col(vecCol), col("__qvec")).as("score"))
        .dropDuplicates(queryIdCol, idCol),
      k, queryIdCol, idCol)
  }

  /** IVF (inverted-file) ANN — the k-means scale path: a coarse quantizer
    * (MLlib KMeans on a sample) partitions the corpus into `nlist` cells; a
    * query scores only the `nprobe` nearest cells (~nprobe/nlist of the data).
    * Returns (model-assigned corpus, searcher). At 100 TB the assignment is
    * one codegen'd scan and the cell layout doubles as the partitioning key
    * for locality.
    */
  def ivfIndex(corpus: DataFrame, nlist: Int = 16, seed: Long = 7L,
               idCol: String = "vec_id", vecCol: String = "embedding",
               maxFitSample: Long = 100000L): IvfIndex = {
    // Fit the quantizer on a bounded sample — a coarse quantizer doesn't need
    // the full corpus; any distributed fit over 100 TB would dwarf the single
    // assignment scan the index build should cost. Sizing must not pre-scan
    // the corpus either (the count() used through round 4 was itself a full
    // pass): a fixed 10% fraction with a hard row cap bounds what reaches
    // the fit with no sizing pass at all. Because a thin fraction could
    // starve the fit below `nlist` rows on a tiny corpus, a bounded
    // file-order prefix is unioned in. Net fit coverage by corpus size:
    // ≤ prefixCap rows → the whole corpus (prefix branch); prefixCap..~10×cap
    // rows → prefix + 10% random (a file-order-clustered corpus contributes
    // its random slice from every region); beyond → prefix + cap random
    // rows. Overlap rows are duplicate fit weight — harmless for a coarse
    // quantizer.
    //
    // The fit itself is DRIVER-LOCAL (LocalKMeans — see its scaladoc for the
    // FAISS-shape rationale and the measured 15-job overhead of the MLlib
    // fit it replaced): ONE bounded collect, then a codegen'd NearestCenter
    // scan assigns the corpus — so the distributed work is exactly one pass
    // regardless of iteration count.
    val points = boundedFitSample(corpus, vecCol, maxFitSample,
      prefixFloor = nlist * 1000, seed = seed)
    val centers = LocalKMeans.fit(points, nlist, seed)
    val assigned = corpus.withColumn("cell",
      graft.plans.VectorExpressions.nearestCenter(col(vecCol), centers.map(_.toSeq).toSeq))
    IvfIndex(assigned, centers, idCol, vecCol)
  }

  /** The ONE bounded fit-sampling policy shared by every quantizer fit
    * ([[ivfIndex]], [[graft.operators.Pq.train]]): 10% fraction capped at
    * `maxFitSample` rows, unioned with a bounded file-order prefix so a
    * tiny corpus can't starve the fit (coverage table in [[ivfIndex]]'s
    * comment). Null embeddings (or rows whose cast produced null) must not
    * reach the collect: getSeq on a null cell NPEs at the driver with no
    * context, before LocalKMeans's NaN/Inf guard can name the offending
    * input.
    */
  private[operators] def boundedFitSample(corpus: DataFrame, vecCol: String,
                                          maxFitSample: Long, prefixFloor: Int,
                                          seed: Long): Array[Array[Double]] = {
    val cap = math.min(maxFitSample, Int.MaxValue.toLong).toInt
    val prefixCap = math.min(math.max(prefixFloor, 4096).toLong, cap.toLong).toInt
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("v"))
      .filter(col("v").isNotNull)
    vecs.sample(withReplacement = false, fraction = 0.1, seed)
      .limit(cap)
      .union(vecs.limit(prefixCap))
      .collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** @param storedCellLayout true when `assigned` is a [[writeIvfIndex]]
    *        table scan (bucketed BY CELL): scan parallelism is then capped
    *        at the number of non-empty buckets ≤ nlist, which
    *        [[topKBatch]] must compensate for when nlist < the session's
    *        core count — see the guard there.
    */
  final case class IvfIndex(assigned: DataFrame, centers: Array[Array[Double]],
                            idCol: String, vecCol: String,
                            storedCellLayout: Boolean = false) {
    /** Top-k for a query vector already in the corpus: probe the `nprobe`
      * cells whose centroids are nearest the query's own vector.
      */
    def topKForId(queryId: Long, k: Int, nprobe: Int = 4): DataFrame = {
      // one-row collect of the query vector (point lookup, pushdown); a
      // missing id returns empty like Similarity.topKForId, not a crash
      val qRow = assigned.filter(col(idCol) === queryId)
        .select(col(vecCol).cast("array<double>")).head(1)
      if (qRow.isEmpty)
        return assigned.select(col(idCol), lit(0.0).as("score")).limit(0)
      val qVec = qRow.head.getAs[scala.collection.Seq[Double]](0).toArray
      // probe by the quantizer's OWN metric (squared Euclidean — the
      // assignment metric), not by cosine to the centroids: under a
      // mismatched probe metric the query's own cell is not even
      // guaranteed to rank in the top nprobe, which silently costs recall
      // exactly where IVF should be strongest (measured: 0.6 → 0.9 on the
      // SkewIvfStreamSpec clusters). Ties → lower cell id, like NearestCenter.
      val probeCells = centers.zipWithIndex
        .map { case (c, i) =>
          var d = 0.0
          var j = 0
          while (j < c.length) { val t = c(j) - qVec(j); d += t * t; j += 1 }
          (i, d)
        }
        .sortBy { case (i, d) => (d, i) }.take(nprobe).map(_._1)
      assigned
        .filter(col("cell").isin(probeCells.toIndexedSeq: _*) && col(idCol) =!= queryId)
        .withColumn("score", V.cosine(col(vecCol), typedLit(qVec.toSeq)))
        .select(col(idCol), col("score"))
        .orderBy(desc("score"), col(idCol))
        .limit(k)
    }

    /** Batch top-k: a WHOLE query frame probes the index in ONE plan with no
      * driver-side per-query work (unlike [[topKForId]]'s point-lookup
      * collect). Each query's `nprobe` nearest cells are chosen INSIDE the
      * plan — centroids ship as a literal (nlist × dim doubles, small by
      * construction), each query scores them and keeps the best `nprobe` —
      * then the queries (vector plus probed-cell list) broadcast to the
      * fused scan ([[FusedTopK]]), where a corpus row scores against a query
      * only when its cell is probed (an O(1) membership test per pair). Only
      * ≤ partitions × queries × k rows reach the top-k merge's exchange.
      * A corpus row lives in exactly one
      * cell, so (query, doc) pairs are unique — no dedup stage needed.
      * When the query frame itself outgrows broadcast range, shard it and
      * union the results (the lshTopKBatch guidance).
      *
      * The per-query centroid scoring uses interpreted HOF lambdas — fine
      * HERE because it runs once per query row (the small side), never per
      * corpus row; corpus-side scoring stays on the native fused cosine.
      *
      * A query vector whose length differs from the index dimension raises
      * per-row (same policy as hyperplaneBucket): CosineSim yields NULL on
      * mismatch, and a NULL-score query would otherwise probe arbitrary
      * cells and return k null-scored "neighbors".
      */
    def topKBatch(queries: DataFrame, k: Int, nprobe: Int = 4,
                  queryIdCol: String = "query_id",
                  excludeSelf: Boolean = false): DataFrame = {
      require(nprobe > 0 && k > 0, s"IvfIndex.topKBatch: k=$k nprobe=$nprobe must be positive")
      requireNoReservedCols(assigned, Seq(queryIdCol, "__qvec", "__rank", "score"),
        "IvfIndex.topKBatch")
      val dim = centers.head.length
      val qv = {
        val raw = col(vecCol).cast("array<double>")
        when(size(raw) === dim, raw).otherwise(raise_error(format_string(
          s"IvfIndex.topKBatch: query vector has %d dims but the index was built with $dim",
          size(raw))))
      }
      val centersLit = typedLit(centers.map(_.toSeq).toSeq)
      // struct(sqdist, cell): probe by the quantizer's OWN metric (squared
      // Euclidean — the assignment metric; see topKForId for why a cosine
      // probe silently costs recall). array_sort's ascending struct order
      // makes the slice the nprobe NEAREST cells; ties break toward the
      // lower cell id.
      val scoredCells = transform(centersLit,
        (c, i) => struct(
          aggregate(zip_with(qv, c, (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, v) => acc + v).as("d"),
          i.as("cell")))
      val withCells = queries.select(
        col(queryIdCol), qv.as("__qvec"),
        transform(slice(array_sort(scoredCells), 1, nprobe), s => s("cell")).as("__cells"))
      // Stored-layout parallelism guard: a writeIvfIndex table is bucketed
      // by `cell`, so its scan has ≤ nlist NON-EMPTY partitions — and the
      // fused scan does all its candidate scoring in the scan's stage. At
      // production nlist that's fine (nlistFor keeps cells ≫ cores), but a
      // small-nlist index meeting a big probe batch concentrates the whole
      // quadratic scoring on nlist cores (sf10 measured: 100.8 s vs the
      // identical in-memory plan's 18.9 s — 8 cells on 32 cores). One
      // round-robin exchange of the NARROW assignment (id, vec, cell)
      // redistributes the scoring; taken only when the stored layout is
      // actually degenerate.
      val spark0 = assigned.sparkSession
      val spread =
        if (storedCellLayout && centers.length < spark0.sparkContext.defaultParallelism)
          assigned.repartition(spark0.sparkContext.defaultParallelism)
        else assigned
      FusedTopK.cosineTopK(spread,
        withCells.select(col(queryIdCol), col("__qvec").as(vecCol), col("__cells")),
        k, idCol, vecCol, queryIdCol, excludeSelf, labelCol = None,
        cellCol = Some("cell"), queryCellsCol = Some("__cells"))
    }
  }

  /** Persist an [[IvfIndex]]: the cell-assigned corpus as a parquet table
    * bucketed by `cell` (probe joins and within-cell scans consume the
    * stored layout) plus the centroids as `<table>_centroids` — the ANN
    * sibling of [[Tfidf.writePostingsIndex]]. The point at scale: the
    * quantizer fit and the full-corpus assignment scan are paid ONCE at
    * build time; every later query batch ([[loadIvfIndex]] →
    * `topKBatch`) and every [[semDupesOnIndex]] run reads the stored
    * assignment and never re-touches an embedding it doesn't probe.
    */
  def writeIvfIndex(index: IvfIndex, table: String, buckets: Int): Unit = {
    require(buckets > 0, s"Similarity.writeIvfIndex: bucket count must be positive, got $buckets")
    val spark = index.assigned.sparkSession
    Bucketing.writeBucketed(index.assigned, table, buckets, Seq("cell"))
    Bucketing.clearTable(spark, table + "_centroids")
    import spark.implicits._
    index.centers.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "center")
      .coalesce(1)
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(table + "_centroids")
  }

  /** Reopen a stored IVF index ([[writeIvfIndex]] layout). The centroid
    * collect is nlist-bounded (small by construction); the assigned corpus
    * comes back through the bucketing-aware scan. Malformed layouts fail
    * with the loud rebuild message, not an AnalysisException mid-plan.
    */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                   idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val assigned = Bucketing.table(spark, table)
    Seq(idCol, vecCol, "cell").foreach(c => require(assigned.columns.contains(c),
      s"Similarity.loadIvfIndex: index table has no '$c' column (expect writeIvfIndex layout)"))
    val cRows = spark.table(table + "_centroids")
      .orderBy("cell")
      .select(col("cell").cast("int"), col("center").cast("array<double>"))
      .collect()
    require(cRows.nonEmpty, s"Similarity.loadIvfIndex: '${table}_centroids' is empty — rebuild the index")
    require(cRows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"Similarity.loadIvfIndex: '${table}_centroids' cell ids are not dense 0..n-1 — rebuild the index")
    val centers = cRows.map(_.getSeq[Double](1).toArray)
    IvfIndex(assigned, centers, idCol, vecCol, storedCellLayout = true)
  }

  /** All-pairs embedding near-duplicates above a cosine threshold, candidates
    * from shared LSH buckets (multiprobe over 1-bit flips so near-identical
    * vectors split by one hyperplane still pair up). Bucket equi-join only.
    */
  def cosineDupes(corpus: DataFrame, dim: Int, threshold: Double = 0.95,
                  nbits: Int = 8, seed: Long = 7L,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val idx = bucketed(corpus, dim, nbits, seed, vecCol)
    val probed = idx.select(col(idCol).as("id_a"), col(vecCol).as("v_a"),
      explode(V.probeBuckets(col("bucket"), nbits)).as("bucket"))
    val base = idx.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), col("bucket"))
    probed.join(base, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      // Score MAP-SIDE in the join's output projection (codegen'd fused
      // cosine) and THRESHOLD before anything shuffles: only actual
      // near-dup pairs — plus their multiprobe duplicates, which carry
      // identical scores — ever reach the dedup exchange, as narrow
      // (id, id, score) rows. The previous shape deduped first with the
      // vectors in tow, which shipped two dim-length arrays per CANDIDATE
      // (measured at sf1: 14M candidates × ~1 KB ≈ the whole runtime);
      // re-scoring a probe-duplicate costs ~dim flops inside the scan.
      .select(col("id_a"), col("id_b"),
        V.cosine(col("v_a"), col("v_b")).as("score"))
      .filter(col("score") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDedup-shape semantic near-duplicate pairs (Abbas et al. 2023,
    * "SemDedup"): cluster the embedding space with the IVF coarse quantizer,
    * then pair up near-duplicates WITHIN each cluster only — the published
    * embedding-dedup recipe, and the semantic complement to lexical minhash.
    * Candidates come from a `(cell, bucket)` equi-join (k-means cell ∧
    * hyperplane-LSH bucket with 1-bit multiprobe), so the quadratic
    * all-pairs-within-cluster step of the paper becomes an exchange-friendly
    * equi-join that never materializes a cell cross-product; exact cosine
    * then validates every candidate against `threshold`.
    *
    * Recall contract: identical vectors ALWAYS pair (same cell, same bucket);
    * near-identical pairs can miss only if split by >1 hyperplane (the
    * [[cosineDupes]] trade) or by a cluster boundary (the SemDedup trade —
    * the paper accepts cross-cluster misses by design). Pass a pre-built
    * [[IvfIndex]] to reuse a pipeline's existing cell assignment instead of
    * re-fitting the quantizer.
    */
  def semDupes(corpus: DataFrame, dim: Int, threshold: Double = 0.95,
               nlist: Int = 16, nbits: Int = 8, seed: Long = 7L,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    semDupesOnIndex(ivfIndex(corpus, nlist, seed, idCol, vecCol), dim, threshold, nbits, seed)

  /** Cell-count policy for dedup at scale, executable: with a FIXED `nlist`
    * the `(cell, bucket)` candidate join is QUADRATIC — cells hold ~N/nlist
    * rows, so candidate pairs grow ∝ N²·probes/(nlist·2^nbits). The sf10
    * bench measured it: q_dedup_semantic grew 21× for 10× vectors at
    * nlist=8. Holding the target CELL SIZE constant instead makes candidate
    * volume LINEAR in N (pairs ∝ N·cellSize·probes/2^nbits). `n` comes from
    * the ingest manifest or a parquet count-star — never a data scan
    * ([[ivfIndex]]'s no-sizing-pass rule; count-star reads only footers).
    * FAISS's search-side heuristic nlist≈√N optimizes probe LATENCY and
    * still leaves pair volume growing ∝ N^1.5 — dedup wants the
    * constant-cell-size rule. Default 4096 keeps today's behavior at
    * sf0.01–sf1 (min floor 8 = the bench nlist) and sizes sf10's 204.8k
    * vectors to 50 cells; 10^9 vectors → ~244k cells, still a
    * driver-trivial centroid table (a coarse quantizer at that scale wants
    * a hierarchical fit — out of scope; the POLICY is what must not ship
    * quadratic).
    */
  def nlistFor(n: Long, targetCellSize: Long = 4096,
               minNlist: Int = 8, maxNlist: Int = 1 << 20): Int = {
    require(n >= 0 && targetCellSize > 0 && minNlist > 0 && maxNlist >= minNlist,
      s"nlistFor: bad arguments n=$n targetCellSize=$targetCellSize min=$minNlist max=$maxNlist")
    val cells = (n + targetCellSize - 1) / targetCellSize
    math.min(maxNlist.toLong, math.max(minNlist.toLong, cells)).toInt
  }

  /** [[semDupes]] over an existing IVF index — no quantizer re-fit.
    *
    * Candidates are the `(cell, bucket)` pairs of a probe×base equi-join,
    * found by the fused pair scan ([[FusedTopK.cosinePairs]]) without
    * materializing a row per CANDIDATE pair: it takes the probe-replicated
    * rows clustered and sorted on `(cell, bucket)`, streams each group, and
    * emits only the pairs `id_a < id_b` with exact cosine ≥ `threshold`
    * (parity pinned in FusedTopKSpec). The id must be an exact integer.
    */
  def semDupesOnIndex(index: IvfIndex, dim: Int, threshold: Double = 0.95,
                      nbits: Int = 8, seed: Long = 7L): DataFrame = {
    val idCol = index.idCol; val vecCol = index.vecCol
    val replicated = index.assigned
      .withColumn("__obk", V.hyperplaneBucket(col(vecCol), dim, nbits, seed))
      .select(col("cell"), col(idCol), col(vecCol), col("__obk"),
        explode(V.probeBuckets(col("__obk"), nbits)).as("bucket"))
      .withColumn("__orig", col("bucket") === col("__obk"))
    FusedTopK.cosinePairs(replicated, threshold, "cell", "bucket", "__orig", idCol, vecCol)
      .dropDuplicates("id_a", "id_b")
  }

  /** The corpus with semantic near-duplicates dropped: for every
    * [[semDupes]] pair the higher id goes (greedy min-id-keeps — the same
    * policy as the lexical dedup family; on a chain a~b~c this can drop `c`
    * whose kept neighbor `b` was itself dropped, exactly the paper's
    * ε-greedy over-drop). Pairs anti-join the corpus as a slim id set —
    * vectors never ride the anti-join exchange — and the drop set grows
    * with the corpus, so Spark's size estimate and AQE choose the join.
    */
  def semDedupe(corpus: DataFrame, dim: Int, threshold: Double = 0.95,
                nlist: Int = 16, nbits: Int = 8, seed: Long = 7L,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val drops = semDupes(corpus, dim, threshold, nlist, nbits, seed, idCol, vecCol)
      .select(col("id_b").as(idCol)).distinct()
    corpus.join(drops, Seq(idCol), "left_anti")
  }

  /** Hard-negative mining for contrastive embedding training — the
    * DPR/ANCE recipe: for each anchor, the `k` corpus items MOST similar
    * to it that carry a DIFFERENT label. Random negatives are trivially
    * separable and teach the model nothing; the near-misses are what a
    * contrastive loss needs, and mining them is an ANN search with a label
    * exclusion — so this composes the exact batch scorer ([[bruteForceTopK]]
    * shape) with the inequality pushed BELOW the top-k (filtering after
    * ranking would under-fill k).
    *
    * Exact path: anchors broadcast (with vector + label) to the fused scan
    * ([[FusedTopK]]), which scores only label-mismatched pairs in one corpus
    * pass; the one exchange carries ≤ partitions × anchors × k slim rows to
    * the top-k merge. Null-label corpus rows are never negatives and
    * null-label anchors mine nothing (SQL three-valued `<>` semantics — the
    * oracle agrees by construction).
    *
    * Returns `(anchorIdCol, idCol, score)` rank-ordered per anchor.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label",
                    anchorIdCol: String = "anchor_id"): DataFrame = {
    requireNoReservedCols(corpus, Seq(anchorIdCol, "__avec", "__albl", "score"),
      "hardNegatives")
    Seq(vecCol, labelCol).foreach(c => require(anchors.columns.contains(c),
      s"hardNegatives: anchors have no '$c' column"))
    require(anchors.columns.contains(anchorIdCol),
      s"hardNegatives: anchors have no '$anchorIdCol' column")
    FusedTopK.cosineTopK(corpus, anchors, k, idCol, vecCol, anchorIdCol,
      excludeSelf = false, labelCol = Some(labelCol))
  }

  /** [[hardNegatives]] through the LSH bucket index — the scale path when
    * the corpus side is too large for a per-anchor linear scan to be worth
    * it: candidates come from bucket equi-joins (query's bucket ± one bit
    * flip, like [[lshTopKBatch]]), so each anchor scores ~(nbits+1)/2^nbits
    * of the corpus. Same narrow-rows discipline: score map-side, dedupe
    * probe duplicates on (anchor, id) scalars only, rank through the
    * bounded aggregate. Approximate — a hard negative in no probed bucket
    * is missed (recall pinned in SimilaritySpec).
    */
  def hardNegativesLsh(corpus: DataFrame, anchors: DataFrame, k: Int, dim: Int,
                       nbits: Int = 8, seed: Long = 7L,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label",
                       anchorIdCol: String = "anchor_id"): DataFrame = {
    requireNoReservedCols(corpus,
      Seq(anchorIdCol, "__avec", "__albl", "bucket", "score"), "hardNegativesLsh")
    Seq(vecCol, labelCol, anchorIdCol).foreach(c => require(anchors.columns.contains(c),
      s"hardNegativesLsh: anchors have no '$c' column"))
    val idx = bucketed(corpus, dim, nbits, seed, vecCol)
    val q = broadcast(
      bucketed(anchors.select(col(anchorIdCol), col(vecCol).as("__avec"),
          col(labelCol).as("__albl")), dim, nbits, seed, "__avec")
        .select(col(anchorIdCol), col("__avec"), col("__albl"),
          explode(V.probeBuckets(col("bucket"), nbits)).as("bucket")))
    rankPerQuery(
      idx
        .join(q, Seq("bucket"))
        .filter(col(labelCol) =!= col("__albl"))
        .select(col(anchorIdCol), col(idCol),
          V.cosine(col(vecCol), col("__avec")).as("score"))
        .dropDuplicates(anchorIdCol, idCol),
      k, anchorIdCol, idCol)
  }
}
