package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet,
  Cast, EvalMode, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution,
  Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import graft.plans.{TopKAggregate, TopKBuffer}

/** Fused broadcast-scored top-k: the brute-force retrieval inner loop
  * (score every (corpus row, query) pair, keep k per query) run inside one
  * planned operator instead of a BroadcastNestedLoopJoin feeding an
  * ObjectHashAggregate.
  *
  * WHY: a join feeding the aggregate materializes an UnsafeRow PER SCORED
  * PAIR, and the object-hash aggregate sits outside whole-stage codegen —
  * ~150 ns/pair of pure row plumbing around a ~30 ns dot product (sf10
  * q_ann_batch: 20.9 s that way, 1.99 s fused; BASELINE.md). The fused scan
  * keeps per-query [[TopKBuffer]]s (exactly the aggregate's discipline)
  * and emits only ≤ partitions × queries × k candidate rows to one final
  * [[graft.plans.TopKAggregate]] merge.
  *
  * PLAN: [[FusedTopKScan]] / [[FusedPairsScan]] are logical nodes that
  * [[FusedTopK.Strategy]] (injected by [[graft.plans.GraftExtensions]])
  * plans as [[FusedTopKExec]] / [[FusedPairsExec]]. The query frame is the
  * top-k Exec's broadcast child, so `explain` shows the corpus scan, one
  * broadcast exchange of the queries, the fused scan with its metrics
  * (output rows, scored pairs) and the merge exchange.
  *
  * BIT PARITY with the SQL scorers is load-bearing (the q_ann_* oracle rows
  * hash-check full rankings): the scorers replicate
  * [[graft.plans.CosineSim]].compute / [[graft.plans.AdcDistance]].compute
  * accumulator-for-accumulator in index order (float→double widening is
  * exact; per-row invariants like the self-norm are hoisted, which
  * IEEE-preserves the per-pair value since each accumulator's own fold
  * sequence is unchanged), and the insert discipline IS [[TopKBuffer]].
  * Parity is pinned in FusedTopKSpec against a window ranking of the
  * scored cross product, on planted edge corpora (null vectors, null
  * elements, zero vectors, ties, mismatched lengths) and real embeddings.
  */
object FusedTopK {

  /** Queries scored per pass over a corpus partition. A task holds the
    * decoded vectors and the k-bounded heaps of one chunk (≤ maxQueries ×
    * (dim × 8 + k × 24) B); a bigger frame is scored chunk by chunk, one more
    * corpus pass per chunk, every chunk feeding the same top-k merge.
    */
  val MaxFusedQueries: Int = 1 << 16

  /** The corpus id as the long the heaps key on. A non-integer id fails
    * here, at plan construction ([[TopKAggregate.exactIntegerId]], the
    * contract the merge aggregate checks); a decimal(p>18,0) id beyond Long
    * range fails the cast whatever `spark.sql.ansi.enabled` says, where a
    * null or wrapped id would silently merge or lose neighbors. The query id
    * rides through in its own type and needs no check.
    */
  private def longId(df: DataFrame, idCol: String): Column = {
    val dt = df.schema(idCol).dataType
    require(TopKAggregate.exactIntegerId(dt),
      s"FusedTopK: corpus id '$idCol' must be an exact integer (integral or decimal(p,0)), " +
        s"got ${dt.catalogString}")
    ColumnShim.column(Cast(ColumnShim.expression(col(idCol)), LongType, evalMode = EvalMode.ANSI))
  }

  /** Exact cosine top-k per query (the [[Similarity.bruteForceTopK]] inner
    * loop). `labelCol` switches the pair predicate to hard-negative label
    * mismatch (both-non-null-and-different — SQL `=!=` three-valued
    * semantics). `cellCol`/`queryCellsCol` add IVF probe filtering: a corpus
    * row scores against a query only when its cell is in the query's probed
    * set (the [[Similarity.IvfIndex.topKBatch]] candidate equi-join, done as
    * an O(1) membership test per pair).
    */
  private[operators] def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String, queryIdCol: String,
      excludeSelf: Boolean, labelCol: Option[String],
      cellCol: Option[String] = None, queryCellsCol: Option[String] = None,
      maxQueries: Int = MaxFusedQueries): DataFrame = {
    require(cellCol.isDefined == queryCellsCol.isDefined,
      "FusedTopK: cellCol and queryCellsCol come together")
    isFloatArray(corpus.schema(vecCol).dataType)
    isFloatArray(queries.schema(vecCol).dataType)
    def opt(c: Option[String], as: String) = c.fold(lit(null))(col).as(as)
    topK(CosineKernel(labelCol.isDefined, cellCol.isDefined), k, excludeSelf, maxQueries,
      corpus, idCol, Seq(col(vecCol), opt(labelCol, "__label"), opt(cellCol, "__cell")),
      queries, queryIdCol,
      Seq(col(vecCol), opt(labelCol, "__label"), opt(queryCellsCol, "__cells")))
  }

  /** ADC (PQ asymmetric-distance) top-k per query — the
    * [[Pq.adcTopKBatch]] inner loop. Scores are NEGATED distances (the
    * shared buffer keeps highest-first). */
  private[operators] def adcTopK(encoded: DataFrame, queryTables: DataFrame, k: Int,
      ksub: Int, idCol: String, codesCol: String, queryIdCol: String,
      tableCol: String, excludeSelf: Boolean,
      maxQueries: Int = MaxFusedQueries): DataFrame =
    topK(AdcKernel(ksub), k, excludeSelf, maxQueries,
      encoded, idCol, Seq(col(codesCol)), queryTables, queryIdCol, Seq(col(tableCol)))

  /** The fused scan under the one top-k merge: corpus rows are
    * `(id as long, kernel columns…)`, query rows `(query id, self id, pairs,
    * kernel columns…)`. `excludeSelf` keeps SQL's `id =!= qid` semantics in
    * the query id's own type: `self` is the one corpus id equal to the query
    * id under Spark's comparison (null: none, as for a query id no long
    * can hold), and a query whose comparison is null (a null id) pairs with
    * nothing.
    */
  private def topK(kernel: TopKKernel, k: Int, excludeSelf: Boolean, maxQueries: Int,
      corpus: DataFrame, idCol: String, corpusCols: Seq[Column],
      queries: DataFrame, queryIdCol: String, queryCols: Seq[Column])
      : DataFrame = {
    require(maxQueries > 0, s"FusedTopK: maxQueries must be positive, got $maxQueries")
    val c = corpus.select(longId(corpus, idCol) +: corpusCols: _*)
    val idType = corpus.schema(idCol).dataType
    val qid = col(queryIdCol)
    val asId = qid.try_cast(idType)
    val self = (if (excludeSelf) when(asId === qid, asId) else lit(null))
      .try_cast(LongType).as("__self")
    val pairs = (if (excludeSelf) (lit(0).cast(idType) === qid).isNotNull else lit(true)).as("__pairs")
    val q = queries.select(Seq(qid, self, pairs) ++ queryCols: _*)
    val qidField = queries.schema(queryIdCol)
    val out = Seq(AttributeReference(queryIdCol, qidField.dataType, qidField.nullable)(),
      AttributeReference("__id", LongType, nullable = false)(),
      AttributeReference("__score", DoubleType)())
    ColumnShim.ofRows(corpus.sparkSession, FusedTopKScan(kernel, k, excludeSelf, maxQueries,
        c.queryExecution.analyzed, q.queryExecution.analyzed, out))
      .groupBy(qid)
      .agg(TopKAggregate.topK(col("__score"), col("__id"), k).as("__tk"))
      .select(qid, explode(col("__tk")).as("__e"))
      .select(qid, col("__e.id").as(idCol), col("__e.score").as("score"))
  }

  /** Fused within-bucket near-dup PAIR scan — the [[Similarity
    * .semDupesOnIndex]] inner join done without materializing a row per
    * candidate pair. Input: every corpus row replicated to its probe
    * buckets (`origCol` marks the identity copy, i.e. the row standing in
    * its OWN bucket — the base side of a probe×base join). [[FusedPairsExec]]
    * requires its input clustered and sorted on `(cell, bucket)`, so each
    * group streams contiguously; within a group every member (copy or
    * original) scores against every ORIGINAL with a larger id — exactly the
    * probe×base join with its `id_a < id_b` orientation, each qualifying
    * pair emitted once (a copy never lands in its own bucket: XOR with a
    * nonzero mask). Null cell/bucket rows are dropped up front (equi-join
    * semantics); null-vector/element/length-mismatch scores are null under
    * CosineSim and cannot pass `>= threshold`, so they are skipped.
    * Output: `(id_a, id_b, score)`, score non-null ≥ threshold.
    */
  private[operators] def cosinePairs(replicated: DataFrame, threshold: Double,
      cellCol: String, bucketCol: String, origCol: String,
      idCol: String, vecCol: String): DataFrame = {
    isFloatArray(replicated.schema(vecCol).dataType)
    val proj = replicated
      .filter(col(cellCol).isNotNull && col(bucketCol).isNotNull)
      .select(col(cellCol).cast("int"), col(bucketCol).cast("int"),
        col(origCol), longId(replicated, idCol), col(vecCol))
    val out = Seq(AttributeReference("id_a", LongType, nullable = false)(),
      AttributeReference("id_b", LongType, nullable = false)(),
      AttributeReference("score", DoubleType, nullable = false)())
    ColumnShim.ofRows(replicated.sparkSession,
      FusedPairsScan(threshold, proj.queryExecution.analyzed, out))
  }

  /** Plans the fused logical nodes; [[graft.plans.GraftExtensions]] injects it. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case s: FusedTopKScan =>
        FusedTopKExec(s.kernel, s.k, s.excludeSelf, s.maxQueries, s.output,
          planLater(s.corpus), planLater(s.queries)) :: Nil
      case s: FusedPairsScan => FusedPairsExec(s.threshold, s.output, planLater(s.child)) :: Nil
      case _ => Nil
    }
  }

  // ---- executor side ----------------------------------------------------

  private[operators] def metrics(sc: org.apache.spark.SparkContext): Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sc, "number of output rows"),
    "scoredPairs" -> SQLMetrics.createMetric(sc, "number of scored pairs"))

  /** A vector value as doubles (float→double is exact, so the kernels see
    * the values [[graft.plans.CosineSim]] reads), whether an element is
    * null, and the self-norm over the non-null elements folded in index
    * order (CosineSim's accumulator sequence). One decode for corpus rows,
    * queries and distance tables. */
  private final class Vec(val xs: Array[Double], val hasNull: Boolean, val normSq: Double)

  private def decode(row: InternalRow, i: Int, isFloat: Boolean): Vec =
    if (row.isNullAt(i)) null
    else {
      val a = row.getArray(i)
      val xs = new Array[Double](a.numElements())
      var hasNull = false
      var normSq = 0.0
      var j = 0
      while (j < xs.length) {
        if (a.isNullAt(j)) hasNull = true
        else {
          val x = if (isFloat) a.getFloat(j).toDouble else a.getDouble(j)
          xs(j) = x
          normSq += x * x
        }
        j += 1
      }
      new Vec(xs, hasNull, normSq)
    }

  /** Is [[graft.plans.CosineSim]].compute null for this pair? A null vector
    * or element, or mismatched lengths at a non-zero norm product (a zero
    * norm scores 0.0 first, even at mismatched lengths). */
  private def cosineIsNull(a: Vec, b: Vec): Boolean =
    a == null || b == null || a.hasNull || b.hasNull ||
      a.xs.length != b.xs.length && math.sqrt(a.normSq) * math.sqrt(b.normSq) != 0.0

  /** CosineSim.compute's value where [[cosineIsNull]] is false. */
  private def cosine(a: Vec, b: Vec): Double = {
    val denom = math.sqrt(a.normSq) * math.sqrt(b.normSq)
    if (denom == 0.0) 0.0
    else {
      val n = math.min(a.xs.length, b.xs.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a.xs(i) * b.xs(i); i += 1 }
      acc / denom
    }
  }

  /** One query row of the broadcast, decoded: `cells` is the probed-cell
    * membership table (cells are small ints by construction: the
    * quantizer's nlist). */
  private final class Query(val qid: Any, val self: Long, val hasSelf: Boolean,
                            val vec: Vec, val label: Any, val cells: Array[Boolean])

  private def decodeQuery(r: InternalRow, types: Seq[DataType], isFloat: Boolean): Query = {
    val cells =
      if (types.length < 6 || r.isNullAt(5)) null
      else {
        val a = r.getArray(5)
        val ids = (0 until a.numElements()).filterNot(a.isNullAt).map(a.getInt)
        val t = new Array[Boolean](if (ids.isEmpty) 0 else ids.max + 1)
        ids.foreach(c => if (c >= 0) t(c) = true)
        t
      }
    val label = if (types.length < 5 || r.isNullAt(4)) null else r.get(4, types(4))
    new Query(r.get(0, types(0)), if (r.isNullAt(1)) 0L else r.getLong(1), !r.isNullAt(1),
      decode(r, 3, isFloat), label, cells)
  }

  /** One task's scan of a corpus partition against one chunk of queries:
    * the kernel's heaps, then one `(query id, id, score)` row per kept
    * candidate. */
  private def topKScan(rows: Iterator[InternalRow], chunk: Array[InternalRow],
      kernel: TopKKernel, k: Int, excludeSelf: Boolean,
      corpusTypes: Seq[DataType], queryTypes: Seq[DataType],
      numOutputRows: SQLMetric, scoredPairs: SQLMetric): Iterator[InternalRow] = {
    val qFloat = isFloatArray(queryTypes(3))
    val cFloat = kernel.isInstanceOf[CosineKernel] && isFloatArray(corpusTypes(1))
    val qs = chunk.filter(_.getBoolean(2)).map(decodeQuery(_, queryTypes, qFloat))
    val bufs = Array.fill(qs.length)(new TopKBuffer(k))
    def selfOk(q: Query, id: Long) = !excludeSelf || !q.hasSelf || id != q.self
    var pairs = 0L
    while (rows.hasNext) {
      val row = rows.next()
      // SQL's `id =!= qid` is null for a null id, so excludeSelf drops the
      // row; other shapes would feed TopKByScore a null id, which errors —
      // do so here
      if (row.isNullAt(0)) require(excludeSelf,
        "FusedTopK: corpus id is null — ids must be non-null exact integers")
      else {
        val id = row.getLong(0)
        kernel match {
          case CosineKernel(labelled, celled) =>
            val vec = decode(row, 1, cFloat)
            val rowLabel =
              if (labelled && !row.isNullAt(2)) InternalRow.copyValue(row.get(2, corpusTypes(2)))
              else null
            // a null cell matches no probe pair (equi-join semantics)
            val cell = if (celled && !row.isNullAt(3)) row.getInt(3) else -1
            var q = 0
            while (q < qs.length) {
              val qq = qs(q)
              if (selfOk(qq, id) &&
                  (!celled || cell >= 0 && qq.cells != null &&
                    cell < qq.cells.length && qq.cells(cell)) &&
                  (!labelled || rowLabel != null && qq.label != null && rowLabel != qq.label)) {
                pairs += 1
                if (cosineIsNull(vec, qq.vec)) bufs(q).insert(nl = true, 0.0, id)
                else bufs(q).insert(nl = false, cosine(vec, qq.vec), id)
              }
              q += 1
            }
          case AdcKernel(ksub) =>
            val codes = if (row.isNullAt(1)) null else row.getArray(1).toIntArray()
            var q = 0
            while (q < qs.length) {
              val qq = qs(q)
              if (selfOk(qq, id)) {
                pairs += 1
                // a null query vector yields a null distance table, which
                // AdcDistance null-propagates to a null score
                if (codes == null || qq.vec == null) bufs(q).insert(nl = true, 0.0, id)
                else {
                  // AdcDistance.compute, verbatim over the hoisted arrays
                  val table = qq.vec.xs
                  val m = codes.length
                  require(table.length == m * ksub,
                    s"graft.AdcDistance: table has ${table.length} entries, codes expect ${m * ksub}")
                  var acc = 0.0
                  var mm = 0
                  while (mm < m) {
                    val c = codes(mm)
                    require(c >= 0 && c < ksub, s"graft.AdcDistance: code $c out of range [0, $ksub)")
                    acc += table(mm * ksub + c)
                    mm += 1
                  }
                  bufs(q).insert(nl = false, -acc, id)
                }
              }
              q += 1
            }
        }
      }
    }
    scoredPairs.add(pairs)
    val proj = UnsafeProjection.create(Array[DataType](queryTypes.head, LongType, DoubleType))
    val out = new GenericInternalRow(3)
    qs.indices.iterator.flatMap { q =>
      val b = bufs(q)
      (0 until b.n).iterator.map { j =>
        out.update(0, qs(q).qid)
        out.setLong(1, b.ids(j))
        if (b.nulls(j)) out.setNullAt(2) else out.setDouble(2, b.scores(j))
        numOutputRows.add(1)
        proj(out)
      }
    }
  }

  /** One task's pair scan over `(cell, bucket)`-sorted rows: buffer the
    * current group's members, flush its qualifying pairs on every group
    * change. Only pairs at or above `threshold` are kept. */
  private def pairScan(rows: Iterator[InternalRow], threshold: Double, isFloat: Boolean,
      numOutputRows: SQLMetric, scoredPairs: SQLMetric): Iterator[InternalRow] = {
    final class Member(val orig: Boolean, val id: Long, val vec: Vec)
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    val members = scala.collection.mutable.ArrayBuffer.empty[Member]
    var curCell = 0
    var curBucket = 0
    var open = false
    var pairs = 0L

    def flush(): Unit = {
      val n = members.length
      var xi = 0
      while (xi < n) {
        val x = members(xi)
        var yi = 0
        while (yi < n) {
          val y = members(yi)
          if (y.orig && x.id < y.id) {
            pairs += 1
            if (!cosineIsNull(x.vec, y.vec)) {
              val score = cosine(x.vec, y.vec)
              if (score >= threshold) {
                val r = new GenericInternalRow(3)
                r.setLong(0, x.id); r.setLong(1, y.id); r.setDouble(2, score)
                out += r
              }
            }
          }
          yi += 1
        }
        xi += 1
      }
      members.clear()
    }

    while (rows.hasNext) {
      val row = rows.next()
      val cell = row.getInt(0)
      val bucket = row.getInt(1)
      if (!open || cell != curCell || bucket != curBucket) {
        if (open) flush()
        curCell = cell; curBucket = bucket; open = true
      }
      require(!row.isNullAt(3), "FusedTopK.cosinePairs: null id — ids must be non-null exact integers")
      members += new Member(!row.isNullAt(2) && row.getBoolean(2), row.getLong(3), decode(row, 4, isFloat))
    }
    if (open) flush()
    scoredPairs.add(pairs)
    numOutputRows.add(out.length)
    val proj = UnsafeProjection.create(Array[DataType](LongType, LongType, DoubleType))
    out.iterator.map(proj)
  }

  private[operators] def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"FusedTopK: vector column must be array<float|double>, got ${other.catalogString}")
  }

  private[operators] def scanTopK(exec: FusedTopKExec): RDD[InternalRow] = {
    val queries = exec.right.executeBroadcast[Array[InternalRow]]()
    val n = queries.value.length
    val corpus = exec.left.execute()
    val (kernel, k, excludeSelf, per) = (exec.kernel, exec.k, exec.excludeSelf, exec.maxQueries)
    val corpusTypes = exec.left.output.map(_.dataType)
    val queryTypes = exec.right.output.map(_.dataType)
    val (rowsOut, scored) = (exec.longMetric("numOutputRows"), exec.longMetric("scoredPairs"))
    val chunks = (0 until math.max(1, (n + per - 1) / per)).map { c =>
      corpus.mapPartitions(it => topKScan(it,
        queries.value.slice(c * per, (c + 1) * per), kernel, k, excludeSelf,
        corpusTypes, queryTypes, rowsOut, scored))
    }
    if (chunks.size == 1) chunks.head else corpus.sparkContext.union(chunks)
  }

  private[operators] def scanPairs(exec: FusedPairsExec): RDD[InternalRow] = {
    val (threshold, isFloat) = (exec.threshold, isFloatArray(exec.child.output(4).dataType))
    val (rowsOut, scored) = (exec.longMetric("numOutputRows"), exec.longMetric("scoredPairs"))
    exec.child.execute().mapPartitions(pairScan(_, threshold, isFloat, rowsOut, scored))
  }
}

/** What a [[FusedTopKScan]] scores per (corpus row, query) pair. */
sealed trait TopKKernel
/** [[graft.plans.CosineSim]], restricted to label-mismatched pairs when
  * `labelled` and to the query's probed IVF cells when `celled`. */
case class CosineKernel(labelled: Boolean, celled: Boolean) extends TopKKernel
/** The negated [[graft.plans.AdcDistance]] over `ksub`-entry codebooks. */
case class AdcKernel(ksub: Int) extends TopKKernel

/** Per-query top-k candidates of `corpus` against `queries` (layouts in
  * [[FusedTopK]]'s `topK`): per corpus partition ≤ k rows per query. The
  * children are read by position, so all their columns are referenced. */
case class FusedTopKScan(kernel: TopKKernel, k: Int, excludeSelf: Boolean, maxQueries: Int,
    corpus: LogicalPlan, queries: LogicalPlan, output: Seq[Attribute]) extends BinaryNode {
  override def left: LogicalPlan = corpus
  override def right: LogicalPlan = queries
  override def references: AttributeSet = inputSet
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): FusedTopKScan =
    copy(corpus = l, queries = r)
}

/** Near-duplicate pairs of `(cell, bucket, orig, id, vec)` rows (see
  * [[FusedTopK.cosinePairs]]). */
case class FusedPairsScan(threshold: Double, child: LogicalPlan, output: Seq[Attribute])
    extends UnaryNode {
  override def references: AttributeSet = inputSet
  override protected def withNewChildInternal(c: LogicalPlan): FusedPairsScan = copy(child = c)
}

/** [[FusedTopKScan]] planned: the queries arrive as a broadcast, and each
  * corpus partition is scanned once per chunk of [[FusedTopK.MaxFusedQueries]]
  * queries. */
case class FusedTopKExec(kernel: TopKKernel, k: Int, excludeSelf: Boolean, maxQueries: Int,
    output: Seq[Attribute], left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  override lazy val metrics: Map[String, SQLMetric] = FusedTopK.metrics(sparkContext)
  override def producedAttributes: AttributeSet = outputSet
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))
  override protected def doExecute(): RDD[InternalRow] = FusedTopK.scanTopK(this)
  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): FusedTopKExec =
    copy(left = l, right = r)
}

/** [[FusedPairsScan]] planned: its input hash-partitioned and sorted on
  * `(cell, bucket)`. */
case class FusedPairsExec(threshold: Double, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  private def keys = child.output.take(2)
  override lazy val metrics: Map[String, SQLMetric] = FusedTopK.metrics(sparkContext)
  override def producedAttributes: AttributeSet = outputSet
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(keys, requireAllClusterKeys = true))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(keys.map(SortOrder(_, Ascending)))
  override protected def doExecute(): RDD[InternalRow] = FusedTopK.scanPairs(this)
  override protected def withNewChildInternal(c: SparkPlan): FusedPairsExec = copy(child = c)
}
