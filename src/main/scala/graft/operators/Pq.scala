package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.{TopKAggregate, VectorExpressions => V}

/** Product quantization + asymmetric-distance (ADC) retrieval — the FAISS
  * IndexPQ shape (Jégou et al. 2011, "Product Quantization for Nearest
  * Neighbor Search"), the storage rung AFTER int8 scalar quantization
  * ([[Quantize]], SURVEY #80): the vector splits into `m` subspaces, each
  * subspace gets its own `ksub`-entry codebook, and a vector stores as `m`
  * small codes — 64-dim float32 at m=8 drops 256 bytes → 8 bytes (32×),
  * vs SQ8's 4×.
  *
  * Scale shape, mirroring [[Similarity.ivfIndex]]'s discipline:
  *
  *  - **Train** ([[train]]): driver-local k-means per subspace over ONE
  *    bounded sample collect (a codebook needs thousands of rows, not the
  *    corpus; any distributed fit would dwarf the encode scan).
  *  - **Encode** ([[encode]]): one codegen'd scan expression
  *    ([[graft.plans.PqEncode]]) — the corpus is read once, nothing
  *    shuffles, codes land next to the ids.
  *  - **Search** ([[adcTopKBatch]]): each query's distance TABLE is
  *    computed once on the broadcast side ([[graft.plans.PqDistTable]] —
  *    m·ksub·dsub flops per QUERY), then every corpus row pays `m` array
  *    lookups ([[graft.plans.AdcDistance]]) instead of `dim` flops, and
  *    candidates rank through the bounded [[graft.plans.TopKAggregate]]
  *    tail — the exchange carries ≤ partitions × queries × k rows, the
  *    same bound as every ANN path here. Vectors themselves never ride
  *    the search: only codes do, which is the point of PQ at 100 TB.
  */
object Pq {

  /** Trained codebooks: `codebooks(m)(c)` = subspace m's centroid c. */
  final case class PqCodebook(codebooks: Array[Array[Array[Double]]]) {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
      "PqCodebook: empty codebook")
    val m: Int = codebooks.length
    val ksub: Int = codebooks(0).length
    val dsub: Int = codebooks(0)(0).length
    require(codebooks.forall(s => s.length == ksub && s.forall(_.length == dsub)),
      "PqCodebook: ragged codebook (all subspaces need identical ksub and dsub)")
    def dim: Int = m * dsub
    private[operators] def asSeq: Seq[Seq[Seq[Double]]] =
      codebooks.toIndexedSeq.map(_.toIndexedSeq.map(_.toIndexedSeq))

    /** Decode a code word back to its centroid concatenation — the spec's
      * reconstruction tool (ADC distance to a doc ≡ exact distance to its
      * reconstruction). */
    def reconstruct(codes: Seq[Int]): Array[Double] = {
      require(codes.length == m, s"PqCodebook.reconstruct: ${codes.length} codes, expected $m")
      codes.toArray.zipWithIndex.flatMap { case (c, mm) => codebooks(mm)(c) }
    }
  }

  /** Deterministic formula codebooks (integer arithmetic / 10.0) — the
    * cross-engine oracle's model, like NearestCenter's formula centroids:
    * `cb(m,c,j) = (((m*7 + c*31 + j*17) % 41) - 20) / 10.0`.
    */
  def formulaCodebook(m: Int = 8, ksub: Int = 16, dsub: Int = 8): PqCodebook = {
    require(m > 0 && ksub > 0 && dsub > 0,
      s"Pq.formulaCodebook: m=$m, ksub=$ksub, dsub=$dsub must be positive")
    PqCodebook(Array.tabulate(m, ksub, dsub)((mm, c, j) =>
      (((mm * 7 + c * 31 + j * 17) % 41) - 20) / 10.0))
  }

  /** Fit per-subspace codebooks on a bounded sample — the same
    * fraction+prefix sampling contract as [[Similarity.ivfIndex]] (no
    * corpus-sizing pre-pass, fit coverage documented there), then ONE
    * [[LocalKMeans]] run per subspace over the collected slice.
    */
  def train(corpus: DataFrame, m: Int, ksub: Int = 256, seed: Long = 7L,
            vecCol: String = "embedding", maxFitSample: Long = 100000L): PqCodebook = {
    require(m > 0 && ksub > 0, s"Pq.train: m=$m and ksub=$ksub must be positive")
    val points = Similarity.boundedFitSample(corpus, vecCol, maxFitSample,
      prefixFloor = ksub * 256, seed = seed)
    require(points.nonEmpty, "Pq.train: no vectors to fit")
    val dim = points(0).length
    // explicit per-vector dim check: copyOfRange would silently zero-pad a
    // short vector's missing subspaces into the fit, skewing centroids with
    // no error — fail loudly on ragged input instead
    points.find(_.length != dim).foreach(p => throw new IllegalArgumentException(
      s"Pq.train: ragged fit sample — vectors of ${p.length} AND $dim dims present"))
    require(dim % m == 0, s"Pq.train: dim=$dim is not divisible by m=$m")
    val dsub = dim / m
    val cbs = Array.tabulate(m) { mm =>
      val slice = points.map(p => java.util.Arrays.copyOfRange(p, mm * dsub, (mm + 1) * dsub))
      LocalKMeans.fit(slice, ksub, seed + mm)
    }
    PqCodebook(cbs)
  }

  /** Corpus with its `codes` column attached (the "index build" scan). */
  def encode(corpus: DataFrame, cb: PqCodebook,
             vecCol: String = "embedding", codesCol: String = "codes"): DataFrame =
    corpus.withColumn(codesCol, V.pqEncode(col(vecCol), cb.asSeq))

  /** ADC top-k for a query frame against an encoded corpus: smallest
    * asymmetric distance wins, ties to the lower id. Output
    * `(query_id, id, distance)`. `queries` carries raw vectors (the
    * asymmetric half — queries are never quantized); `excludeSelf` as in
    * [[Similarity.bruteForceTopK]].
    */
  def adcTopKBatch(encoded: DataFrame, cb: PqCodebook, queries: DataFrame, k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   queryIdCol: String = "query_id", codesCol: String = "codes",
                   excludeSelf: Boolean = false): DataFrame = {
    require(k > 0, s"Pq.adcTopKBatch: k must be positive, got $k")
    // per-query distance tables computed by Spark; the tiny table frame
    // broadcasts to one fused scan (FusedTopK), which keeps the highest
    // NEGATED distances (ties → lower id)
    val q = queries.select(col(queryIdCol),
      V.pqDistTable(col(vecCol), cb.asSeq).as("__qtab"))
    FusedTopK.adcTopK(encoded, q, k, cb.ksub, idCol, codesCol, queryIdCol,
        "__qtab", excludeSelf)
      .select(col(queryIdCol), col(idCol), (-col("score")).as("distance"))
  }

  /** IVF+PQ residual encode — FAISS IndexIVFPQ, THE billion-scale
    * production layout: each vector stores its coarse cell (from
    * [[Similarity.ivfIndex]]) plus PQ codes of its RESIDUAL
    * `x − centroid(cell)` (residuals are smaller and better centered than
    * raw vectors, so the same codebook budget quantizes them tighter — the
    * FAISS default). One scan: the residual is column algebra feeding the
    * codegen'd [[graft.plans.PqEncode]]. Train `cb` on residuals for best
    * recall (e.g. `Pq.train` over `residualCol`-projected vectors).
    */
  def encodeIvf(ivf: Similarity.IvfIndex, cb: PqCodebook,
                codesCol: String = "codes"): DataFrame = {
    val centersLit = typedLit(ivf.centers.map(_.toSeq).toSeq)
    val residual = zip_with(col(ivf.vecCol).cast("array<double>"),
      element_at(centersLit, col("cell") + 1), (x, c) => x - c)
    ivf.assigned.withColumn(codesCol, V.pqEncode(residual, cb.asSeq))
  }

  /** ADC search over an IVF+PQ index: probe the `nprobe` nearest cells
    * (the coarse quantizer's own squared-Euclidean metric, ties to the
    * lower cell — [[Similarity.IvfIndex.topKBatch]]'s discipline), score
    * only their rows via per-(query, cell) RESIDUAL distance tables
    * computed on the broadcast side, rank through the bounded top-k tail.
    * Search cost ≈ (nprobe/nlist) × corpus × m lookups; the broadcast
    * carries queries × nprobe × m·ksub doubles (shard the query frame
    * when that stops fitting). nprobe = nlist makes it exactly
    * PQ-on-residuals brute force (spec-pinned).
    */
  def ivfPqTopKBatch(ivf: Similarity.IvfIndex, encoded: DataFrame, cb: PqCodebook,
                     queries: DataFrame, k: Int, nprobe: Int = 4,
                     queryIdCol: String = "query_id", codesCol: String = "codes",
                     excludeSelf: Boolean = false): DataFrame = {
    require(k > 0 && nprobe > 0, s"Pq.ivfPqTopKBatch: k=$k nprobe=$nprobe must be positive")
    val dim = ivf.centers.head.length
    require(dim == cb.dim,
      s"Pq.ivfPqTopKBatch: IVF dim $dim != codebook dim ${cb.dim}")
    val centersLit = typedLit(ivf.centers.map(_.toSeq).toSeq)
    val qv = col(ivf.vecCol).cast("array<double>")
    val scoredCells = transform(centersLit,
      (c, i) => struct(
        aggregate(zip_with(qv, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v).as("d"),
        i.as("cell")))
    // per (query, probed cell): the RESIDUAL distance table q−centroid vs cb
    val probes = broadcast(queries
      .select(col(queryIdCol), qv.as("__qv"),
        transform(slice(array_sort(scoredCells), 1, nprobe), s => s("cell")).as("__cells"))
      .select(col(queryIdCol), col("__qv"), explode(col("__cells")).as("cell"))
      .select(col(queryIdCol), col("cell"),
        V.pqDistTable(
          zip_with(col("__qv"), element_at(centersLit, col("cell") + 1), (x, c) => x - c),
          cb.asSeq).as("__qtab")))
    encoded
      .join(probes, Seq("cell"))
      .filter(if (excludeSelf) col(ivf.idCol) =!= col(queryIdCol) else lit(true))
      .select(col(queryIdCol), col(ivf.idCol),
        (-V.adcDistance(col(codesCol), col("__qtab"), cb.ksub)).as("score"))
      .groupBy(col(queryIdCol))
      .agg(TopKAggregate.topK(col("score"), col(ivf.idCol), k).as("__tk"))
      .select(col(queryIdCol), explode(col("__tk")).as("__e"))
      .select(col(queryIdCol), col("__e.id").as(ivf.idCol), (-col("__e.score")).as("distance"))
  }

  /** Persist the encoded corpus (id + codes only — the PQ index IS the
    * compression) bucketed by id for pruned point lookups; codebooks ride
    * alongside as `<table>_codebooks` (m·ksub rows, each a centroid).
    */
  def writePqIndex(encoded: DataFrame, table: String, buckets: Int, cb: PqCodebook,
                   idCol: String = "vec_id", codesCol: String = "codes"): Unit = {
    Bucketing.writeBucketed(encoded.select(col(idCol), col(codesCol)), table, buckets, Seq(idCol))
    val spark = encoded.sparkSession
    Bucketing.clearTable(spark, table + "_codebooks")
    import spark.implicits._
    (for (mm <- 0 until cb.m; c <- 0 until cb.ksub)
      yield (mm, c, cb.codebooks(mm)(c).toSeq))
      .toDF("m", "c", "center")
      .coalesce(1)
      .write.format("parquet").mode(org.apache.spark.sql.SaveMode.Overwrite)
      .saveAsTable(table + "_codebooks")
  }

  /** Reopen a stored PQ index: `(encoded codes relation, codebook)`. The
    * codebook collect is m·ksub-bounded; malformed layouts fail with the
    * loud rebuild message like [[Similarity.loadIvfIndex]].
    */
  def loadPqIndex(spark: SparkSession, table: String): (DataFrame, PqCodebook) = {
    val encoded = Bucketing.table(spark, table)
    val rows = spark.table(table + "_codebooks")
      .orderBy("m", "c")
      .select(col("m").cast("int"), col("c").cast("int"), col("center").cast("array<double>"))
      .collect()
    require(rows.nonEmpty, s"Pq.loadPqIndex: '${table}_codebooks' is empty — rebuild the index")
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    require(rows.length == m * ksub,
      s"Pq.loadPqIndex: '${table}_codebooks' has ${rows.length} rows, expected ${m * ksub} — rebuild the index")
    val cbs = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    // the row-count guard alone passes a table with duplicate (m,c) rows
    // plus missing ones — verify every slot filled so corruption gets the
    // loud rebuild message, not a bare NPE from PqCodebook's invariants
    for (mm <- 0 until m; c <- 0 until ksub if cbs(mm)(c) == null)
      throw new IllegalArgumentException(
        s"Pq.loadPqIndex: '${table}_codebooks' is missing entry (m=$mm, c=$c) — rebuild the index")
    (encoded, PqCodebook(cbs.map(_.toArray)))
  }
}
