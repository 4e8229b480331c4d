package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.plans.TopKBuffer

/** Fused broadcast-scored top-k: the brute-force retrieval inner loop
  * (score every (corpus row, query) pair, keep k per query) executed inside
  * ONE `mapPartitions` pass instead of a BroadcastNestedLoopJoin feeding an
  * ObjectHashAggregate.
  *
  * WHY: the join formulation is plan-shape-optimal (one scan, one slim
  * exchange — see [[graft.plans.TopKAggregate]]) but its inner loop
  * materializes an UnsafeRow PER SCORED PAIR between the join and the
  * aggregate, and the object-hash aggregate sits outside whole-stage
  * codegen — ~150 ns/pair of pure row plumbing around a ~30 ns dot product.
  * At sf10 the ANN family scores 4×10⁸ pairs; at sf100, 4×10¹⁰ (q_ann_batch
  * ran 1594 s). The fused pass keeps per-query [[TopKBuffer]]s (exactly the
  * aggregate's discipline) and emits only ≤ partitions × queries × k
  * candidate rows; a final [[graft.plans.TopKAggregate]] merge reproduces
  * the aggregate plan's exchange exactly.
  *
  * BIT PARITY with the join path is load-bearing (the q_ann_* oracle rows
  * hash-check full rankings): the scorers replicate
  * [[graft.plans.CosineSim]].compute / [[graft.plans.AdcDistance]].compute
  * accumulator-for-accumulator in index order (float→double widening is
  * exact; per-row invariants like the corpus self-norm are hoisted, which
  * IEEE-preserves the per-pair value since each accumulator's own fold
  * sequence is unchanged), and the insert discipline IS [[TopKBuffer]].
  * Parity is pinned in FusedTopKSpec on planted edge corpora (null
  * vectors, null elements, zero vectors, ties, mismatched lengths).
  *
  * SCALE: corpus partitions stream (nothing buffered but the k-bounded
  * heaps: queries × k × 24 B per task); queries ride an executor-local
  * broadcast; a frame above [[MaxFusedQueries]] is automatically sharded
  * ([[shardedRun]]) so the driver/broadcast bound holds at any query count.
  */
object FusedTopK {

  private val outSchema = StructType(Seq(
    StructField("__qid", LongType, nullable = false),
    StructField("__id", LongType, nullable = false),
    StructField("__score", DoubleType, nullable = true)))

  /** Per-shard cap on the collected query frame. The fused contract says
    * the query side is "tiny" — this makes that contract a bound instead
    * of prose: a frame within the cap runs as one shard (a single
    * `limit(cap + 1)` probe, no extra jobs); a bigger frame is SHARDED by
    * [[shardedRun]] — chunked through `toLocalIterator`, one fused corpus
    * scan per chunk, the per-shard TopKAggregate merges unioned (bitwise
    * the single-pass result: each query id lives in exactly one shard).
    * At the cap, driver + broadcast cost is ≤ maxQueries × dim doubles
    * (64 MB at dim=128) plus the per-task heap cost maxQueries × k × 24 B,
    * and sharding holds that bound at ANY query count — at the price of
    * one full corpus scan per shard, the unavoidable trade once the query
    * batch itself stops fitting in memory.
    */
  val MaxFusedQueries: Int = 1 << 16

  /** The query-id types the fused path can round-trip through its long-keyed
    * heaps without collision: the exact-integer family [[graft.plans
    * .TopKAggregate.TopKByScore]] accepts for corpus ids (integral +
    * scale-0 decimal). Anything else — strings, fractional — must take the
    * join path, where the query id is only ever a grouping key: a failed
    * long cast would NPE at the driver collect, and distinct ids like
    * "123"/"0123" would silently merge into one heap. Callers check this
    * and fall back; the entry `require` is the backstop.
    */
  def exactIntegerIdType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    // precision ≤ 18 keeps the cast("long") round-trip lossless; a
    // decimal(p>18,0) id beyond Long range would null out (non-ANSI) or
    // wrap, silently merging distinct query ids — the exact collision this
    // gate exists to prevent.
    case d: DecimalType if d.scale == 0 && d.precision <= 18 => true
    case _                                             => false
  }

  private def requireFusableQueryId(df: DataFrame, queryIdCol: String, who: String): DataType = {
    val dt = df.schema(queryIdCol).dataType
    require(exactIntegerIdType(dt),
      s"$who: fused path needs an exact-integer query id (integral or decimal(p,0)), " +
        s"got ${dt.catalogString} — use the join path (fused = false)")
    dt
  }

  /** Backstop for the CORPUS id: the fused scans round-trip it through
    * `cast("long")` exactly like the query id, so the same lossless gate
    * applies — a decimal(p>18,0) corpus id beyond Long range would null out
    * or wrap and silently merge/lose neighbors. Callers check
    * [[exactIntegerIdType]] on both sides and fall back to the join path
    * (where the corpus id is loudly analysis-gated by TopKByScore); this
    * require is the in-operator backstop for direct calls.
    */
  private def requireFusableCorpusId(df: DataFrame, idCol: String, who: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(exactIntegerIdType(dt),
      s"$who: fused path needs an exact-integer corpus id (integral or decimal(p,0), " +
        s"precision <= 18), got ${dt.catalogString} — use the join path (fused = false)")
  }

  /** Run the fused scan over the query frame in driver-bounded SHARDS.
    *
    * Fast path: one `limit(cap + 1)` probe; a frame within the cap runs as
    * a single shard with zero extra jobs (the r19 behavior minus the
    * raise). Above the cap the frame is `localCheckpoint`ed ONCE (the
    * probe already paid one evaluation; without the materialization the
    * count and the iterator below would re-run the caller's query pipeline
    * twice more), then streamed in id-SORTED order — `repartitionByRange` +
    * `sortWithinPartitions` on the id column (ordinal 0 of the projection,
    * both call sites) keeps `toLocalIterator`'s one-partition driver buffer
    * ~cap-sized while yielding a globally sorted stream — and chunked with
    * one rule beyond `grouped(cap)`: a chunk EXTENDS through a run of equal
    * ids, so no query id ever straddles two shards. That rule is what makes
    * the union of per-shard merges bitwise the single-pass result even for
    * frames with DUPLICATE query ids (degenerate but legal — both paths
    * then aggregate the duplicates into ONE group per id; naive chunking
    * would emit two k-row groups for an id split across shards). Per-shard
    * results are `localCheckpoint`ed (eager): the merge output is tiny
    * (≤ cap × k rows), materializing it truncates the lineage so the
    * shard's query broadcast becomes GC-collectable before the next shard
    * builds its own — driver + task memory stay bounded by ONE shard (plus
    * any single id's duplicate run) at every point.
    */
  private def shardedRun(spark: org.apache.spark.sql.SparkSession, qProj: DataFrame,
      maxQueries: Int, runShard: Array[org.apache.spark.sql.Row] => DataFrame): DataFrame = {
    require(maxQueries > 0, s"FusedTopK: maxQueries must be positive, got $maxQueries")
    // Contract (ADVICE r20, made explicit): the query id must be ORDINAL 0
    // of qProj — the range partitioning, the sorted stream, and the
    // equal-id chunk extension below all read get(0). Both call sites
    // project the id first; this guard makes a future caller that doesn't
    // fail loudly instead of sharding on a non-id column.
    require(exactIntegerIdType(qProj.schema.head.dataType),
      s"FusedTopK.shardedRun: ordinal 0 of the query projection must be the " +
        s"exact-integer query id, got ${qProj.schema.head.dataType.catalogString}")
    val probe = qProj.limit(maxQueries + 1).collect()
    if (probe.length <= maxQueries) runShard(probe)
    else {
      val mat = qProj.localCheckpoint()
      val n = mat.count()
      val parts = math.min(Int.MaxValue.toLong, (n + maxQueries - 1) / maxQueries).toInt
      val idCol0 = col(mat.columns.head)
      val rows = mat.repartitionByRange(parts, idCol0)
        .sortWithinPartitions(idCol0)
        .toLocalIterator().asScala.buffered
      val chunks = new Iterator[Array[org.apache.spark.sql.Row]] {
        override def hasNext: Boolean = rows.hasNext
        override def next(): Array[org.apache.spark.sql.Row] = {
          val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
          while (rows.hasNext && buf.length < maxQueries) buf += rows.next()
          while (rows.hasNext && rows.head.get(0) == buf.last.get(0)) buf += rows.next()
          buf.toArray
        }
      }
      // Once the reduce has consumed the iterator, every shard result is
      // materialized (eager localCheckpoint) and the returned plan reads
      // only those — release the full query-frame checkpoint NOW instead of
      // pinning the whole frame in executor storage until the
      // ContextCleaner happens to GC it (a sharded run exists precisely
      // because the frame is big). finally: a shard job that THROWS
      // mid-reduce must release the frame too (r21 review) — the pinning
      // would otherwise outlive the failed query.
      try chunks
        .map(chunk => runShard(chunk).localCheckpoint())
        .reduce(_ unionByName _)
      finally
        // best-effort: if the shard failure is a dying/stopped context, the
        // unpersist itself can throw — that must not MASK the original
        // exception (r21 review); the blocks die with the context anyway
        try mat.queryExecution.optimizedPlan.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        } catch { case scala.util.control.NonFatal(e) =>
          // swallowed by design (must not mask the real failure), but a
          // persistent unpersist failure on the SUCCESS path would silently
          // pin the checkpoint — leave a trace for diagnosis (r21 ADVICE)
          System.err.println(s"[graft] FusedTopK: query-frame unpersist failed (checkpoint may stay pinned): $e")
        }
    }
  }

  /** One collected query: id, dense payload, and precomputed invariants. */
  private final case class CosQuery(qid: Long, vec: Array[Double],
                                    hasNullElem: Boolean, normSq: Double,
                                    label: Any, cells: Array[Boolean])

  /** Exact cosine top-k per query (the [[Similarity.bruteForceTopK]] inner
    * loop). `labelled` switches the pair predicate from
    * `excludeSelf`-style id inequality to hard-negative label mismatch
    * (both-non-null-and-different — SQL `=!=` three-valued semantics).
    * `cellCol`/`queryCellsCol` add IVF probe filtering: a corpus row scores
    * against a query only when its cell is in the query's probed set (the
    * [[Similarity.IvfIndex.topKBatch]] candidate equi-join, done as an
    * O(1) membership test per pair).
    */
  private[operators] def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String, queryIdCol: String,
      excludeSelf: Boolean, labelCol: Option[String],
      cellCol: Option[String] = None, queryCellsCol: Option[String] = None,
      maxQueries: Int = MaxFusedQueries): DataFrame = {
    val spark = corpus.sparkSession
    val vecIsFloat = isFloatArray(corpus.schema(vecCol).dataType)
    require(cellCol.isDefined == queryCellsCol.isDefined,
      "FusedTopK: cellCol and queryCellsCol come together")
    val celled = cellCol.isDefined
    val qidType = requireFusableQueryId(queries, queryIdCol, "FusedTopK.cosineTopK")
    requireFusableCorpusId(corpus, idCol, "FusedTopK.cosineTopK")

    // queries collected through Spark itself (bounded per shard — see
    // the sharding block below) — driver extracts primitive payloads;
    // float→double is exact so the executor math sees the same values
    // CosineSim would read
    val qCols = Seq(col(queryIdCol).cast("long"), col(vecCol)) ++
      labelCol.map(col).toSeq ++ queryCellsCol.map(col).toSeq
    val qIsFloat = isFloatArray(queries.schema(vecCol).dataType)
    val cellsOrd = 2 + labelCol.size // ordinal of the probed-cells array
    def toQuery(r: org.apache.spark.sql.Row): CosQuery = {
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        "FusedTopK: query id is null — query ids must be non-null exact integers")
      val qid = r.getLong(0)
      val (vec, hasNull) =
        if (r.isNullAt(1)) (null: Array[Double], true)
        else {
          val s = r.getSeq[Any](1)
          val arr = new Array[Double](s.length)
          var nulls = false
          var i = 0
          s.foreach { v =>
            if (v == null) nulls = true
            else arr(i) = if (qIsFloat) v.asInstanceOf[Float].toDouble
                          else v.asInstanceOf[Double]
            i += 1
          }
          (arr, nulls)
        }
      // query self-norm folded in index order (CosineSim's accBB sequence)
      var normSq = 0.0
      if (vec != null && !hasNull) { var i = 0; while (i < vec.length) { val y = vec(i); normSq += y * y; i += 1 } }
      // labels are compared executor-side against CATALYST values — convert
      // the externally-collected one up front (String → UTF8String etc.)
      val label =
        if (labelCol.isDefined && !r.isNullAt(2))
          org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(r.get(2))
        else null
      // probed cells → dense membership table (cells are small ints by
      // construction: the quantizer's nlist)
      val cells: Array[Boolean] =
        if (!celled || r.isNullAt(cellsOrd)) null
        else {
          val s = r.getSeq[Int](cellsOrd)
          val max = if (s.isEmpty) -1 else s.max
          val t = new Array[Boolean](max + 1)
          s.foreach(c => if (c >= 0) t(c) = true)
          t
        }
      CosQuery(qid, vec, hasNull, normSq, label, cells)
    }
    val labelled = labelCol.isDefined
    val labelDt = labelCol.map(c => corpus.schema(c).dataType).getOrElse(NullType)

    val projCols = Seq(col(idCol).cast("long"), col(vecCol)) ++
      labelCol.map(col).toSeq ++ cellCol.map(col).toSeq
    val cellOrd = 2 + labelCol.size
    def scanShard(shard: Array[CosQuery]): org.apache.spark.rdd.RDD[InternalRow] = {
    val bc = spark.sparkContext.broadcast(shard)
    ColumnShim.toInternalRdd(corpus.select(projCols: _*))
      .mapPartitions { it =>
        val qs = bc.value
        val nq = qs.length
        val bufs = Array.fill(nq)(new TopKBuffer(k))
        while (it.hasNext) {
          val row = it.next()
          if (row.isNullAt(0)) {
            // join-path parity: the `id =!= qid` condition is null for a
            // null id, so excludeSelf silently drops the row; other shapes
            // would feed TopKByScore a null id, which errors — do so here
            if (!labelled && excludeSelf) { /* skip row */ }
            else throw new IllegalArgumentException(
              "FusedTopK: corpus id is null — ids must be non-null exact integers")
          } else {
          val id = row.getLong(0)
          val rowLabel: Any =
            if (labelled && !row.isNullAt(2)) copyLabel(row.get(2, labelDt)) else null
          // a null cell matches no probe pair (equi-join semantics)
          val rowCell: Int =
            if (celled) { if (row.isNullAt(cellOrd)) -1 else row.getInt(cellOrd) }
            else -1
          // hoist the corpus row's payload once: values + null flag + self-norm
          var vec: Array[Double] = null
          var hasNull = false
          var normSq = 0.0
          if (!row.isNullAt(1)) {
            val a = row.getArray(1)
            val la = a.numElements()
            vec = new Array[Double](la)
            var i = 0
            while (i < la) {
              if (a.isNullAt(i)) hasNull = true
              else {
                val x = if (vecIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
                vec(i) = x
                normSq += x * x // CosineSim's accAA fold sequence
              }
              i += 1
            }
          }
          var q = 0
          while (q < nq) {
            val qq = qs(q)
            val cellOk = !celled ||
              (rowCell >= 0 && qq.cells != null &&
                rowCell < qq.cells.length && qq.cells(rowCell))
            val keep = cellOk && {
              if (labelled) rowLabel != null && qq.label != null && rowLabel != qq.label
              else !(excludeSelf && id == qq.qid)
            }
            if (keep) {
              // replicate CosineSim.compute outcomes exactly: any null
              // vector or null element → null score (ranks last)
              if (vec == null || qq.vec == null || hasNull || qq.hasNullElem) {
                bufs(q).insert(nl = true, 0.0, id)
              } else {
                val la = vec.length
                val lb = qq.vec.length
                val n = math.min(la, lb)
                var accAB = 0.0
                var i = 0
                while (i < n) { accAB += vec(i) * qq.vec(i); i += 1 }
                val denom = math.sqrt(normSq) * math.sqrt(qq.normSq)
                if (denom == 0.0) bufs(q).insert(nl = false, 0.0, id)
                else if (la != lb) bufs(q).insert(nl = true, 0.0, id)
                else bufs(q).insert(nl = false, accAB / denom, id)
              }
            }
            q += 1
          }
          } // non-null id
        }
        emit(qs.map(_.qid), bufs)
      }
    }
    shardedRun(spark, queries.select(qCols: _*), maxQueries,
      rows => merge(spark, scanShard(rows.map(toQuery)), k, queryIdCol, qidType, idCol))
  }

  /** ADC (PQ asymmetric-distance) top-k per query — the
    * [[Pq.adcTopKBatch]] inner loop. Scores are NEGATED distances, exactly
    * like the join path (the shared buffer keeps highest-first). */
  private[operators] def adcTopK(encoded: DataFrame, queryTables: DataFrame, k: Int,
      ksub: Int, idCol: String, codesCol: String, queryIdCol: String,
      tableCol: String, excludeSelf: Boolean,
      maxQueries: Int = MaxFusedQueries): DataFrame = {
    val spark = encoded.sparkSession
    val qidType = requireFusableQueryId(queryTables, queryIdCol, "FusedTopK.adcTopK")
    requireFusableCorpusId(encoded, idCol, "FusedTopK.adcTopK")
    def toQuery(r: org.apache.spark.sql.Row): (Long, Array[Double]) = {
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        "FusedTopK: query id is null — query ids must be non-null exact integers")
      // a null query vector yields a null distance table upstream; the
      // join path's AdcDistance null-propagates and ranks that query's
      // neighbors with null scores — keep the null and do the same
      val t = if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray
      (r.getLong(0), t)
    }
    def scanShard(shard: Array[(Long, Array[Double])]): org.apache.spark.rdd.RDD[InternalRow] = {
    val bc = spark.sparkContext.broadcast(shard)

    ColumnShim.toInternalRdd(
        encoded.select(col(idCol).cast("long"), col(codesCol)))
      .mapPartitions { it =>
        val qs = bc.value
        val nq = qs.length
        val bufs = Array.fill(nq)(new TopKBuffer(k))
        while (it.hasNext) {
          val row = it.next()
          if (row.isNullAt(0)) {
            if (excludeSelf) { /* join-path parity: null =!= qid drops the row */ }
            else throw new IllegalArgumentException(
              "FusedTopK: corpus id is null — ids must be non-null exact integers")
          } else {
          val id = row.getLong(0)
          var codes: Array[Int] = null
          if (!row.isNullAt(1)) {
            val a = row.getArray(1)
            codes = new Array[Int](a.numElements())
            var i = 0
            while (i < codes.length) { codes(i) = a.getInt(i); i += 1 }
          }
          var q = 0
          while (q < nq) {
            val (qid, table) = qs(q)
            if (!(excludeSelf && id == qid)) {
              if (codes == null || table == null) bufs(q).insert(nl = true, 0.0, id)
              else {
                // AdcDistance.compute, verbatim over the hoisted arrays
                val m = codes.length
                require(table.length == m * ksub,
                  s"graft.AdcDistance: table has ${table.length} entries, codes expect ${m * ksub}")
                var acc = 0.0
                var mm = 0
                while (mm < m) {
                  val c = codes(mm)
                  require(c >= 0 && c < ksub,
                    s"graft.AdcDistance: code $c out of range [0, $ksub)")
                  acc += table(mm * ksub + c)
                  mm += 1
                }
                bufs(q).insert(nl = false, -acc, id)
              }
            }
            q += 1
          }
          } // non-null id
        }
        emit(qs.map(_._1), bufs)
      }
    }
    shardedRun(spark,
      queryTables.select(col(queryIdCol).cast("long"), col(tableCol)), maxQueries,
      rows => merge(spark, scanShard(rows.map(toQuery)), k, queryIdCol, qidType, idCol))
  }

  /** Fused within-bucket near-dup PAIR scan — the [[Similarity
    * .semDupesOnIndex]] inner join done without materializing a row per
    * candidate pair. Input: every corpus row replicated to its probe
    * buckets (`origCol` marks the identity copy, i.e. the row standing in
    * its OWN bucket — the join formulation's base side). Rows exchange on
    * `(cell, bucket)` and sort within partitions so each group streams
    * contiguously; within a group every member (copy or original) scores
    * against every ORIGINAL with a larger id — exactly the probe×base join
    * with its `id_a < id_b` orientation, each qualifying pair emitted once
    * (a copy never lands in its own bucket: XOR with a nonzero mask).
    * Null cell/bucket rows are dropped up front (equi-join semantics);
    * null-vector/element/length-mismatch scores are null in the twin and
    * cannot pass `>= threshold`, so they are skipped identically.
    * Output: `(id_a, id_b, score)`, score non-null ≥ threshold.
    */
  private[operators] def cosinePairs(replicated: DataFrame, threshold: Double,
      cellCol: String, bucketCol: String, origCol: String,
      idCol: String, vecCol: String): DataFrame = {
    val spark = replicated.sparkSession
    val vecIsFloat = isFloatArray(replicated.schema(vecCol).dataType)
    val proj = replicated
      .filter(col(cellCol).isNotNull && col(bucketCol).isNotNull)
      .select(col(cellCol).cast("int"), col(bucketCol).cast("int"),
        col(origCol), col(idCol).cast("long"), col(vecCol))
      .repartition(col(cellCol), col(bucketCol))
      .sortWithinPartitions(cellCol, bucketCol)

    val pairSchema = StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))

    final case class Member(orig: Boolean, id: Long, vec: Array[Double],
                            hasNull: Boolean, normSq: Double)

    val rdd = ColumnShim.toInternalRdd(proj).mapPartitions { it =>
      // single forward pass: buffer the current (cell, bucket) group's
      // members (primitives extracted immediately — the input row object is
      // reused), flush its pairs on every group change. Only QUALIFYING
      // pairs are stored (what the query returns anyway); candidate pairs
      // are evaluated and discarded inline.
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      val members = scala.collection.mutable.ArrayBuffer.empty[Member]
      var curCell = 0
      var curBucket = 0
      var open = false

      def flush(): Unit = {
        val n = members.length
        var xi = 0
        while (xi < n) {
          val x = members(xi)
          var yi = 0
          while (yi < n) {
            val y = members(yi)
            if (y.orig && x.id < y.id &&
                x.vec != null && y.vec != null && !x.hasNull && !y.hasNull) {
              // CosineSim.compute outcomes, in ITS order: zero denom → 0.0
              // FIRST (even for a length mismatch — a zero-norm mismatched
              // pair scores 0.0 and passes a threshold ≤ 0), THEN length
              // mismatch → null (score never ≥ threshold, emit nothing)
              val len = math.min(x.vec.length, y.vec.length)
              var accAB = 0.0
              var i = 0
              while (i < len) { accAB += x.vec(i) * y.vec(i); i += 1 }
              val denom = math.sqrt(x.normSq) * math.sqrt(y.normSq)
              val mismatched = x.vec.length != y.vec.length
              val isNull = denom != 0.0 && mismatched
              val score = if (denom == 0.0) 0.0 else accAB / denom
              if (!isNull && score >= threshold) {
                val r = new GenericInternalRow(3)
                r.setLong(0, x.id); r.setLong(1, y.id); r.setDouble(2, score)
                out += r
              }
            }
            yi += 1
          }
          xi += 1
        }
        members.clear()
      }

      while (it.hasNext) {
        val row = it.next()
        val cell = row.getInt(0)
        val bucket = row.getInt(1)
        if (!open || cell != curCell || bucket != curBucket) {
          if (open) flush()
          curCell = cell; curBucket = bucket; open = true
        }
        val orig = !row.isNullAt(2) && row.getBoolean(2)
        if (row.isNullAt(3))
          throw new IllegalArgumentException(
            "FusedTopK.cosinePairs: null id — ids must be non-null exact integers")
        val id = row.getLong(3)
        var vec: Array[Double] = null
        var hasNull = false
        var normSq = 0.0
        if (!row.isNullAt(4)) {
          val a = row.getArray(4)
          val la = a.numElements()
          vec = new Array[Double](la)
          var i = 0
          while (i < la) {
            if (a.isNullAt(i)) hasNull = true
            else { val x = if (vecIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
                   vec(i) = x; normSq += x * x }
            i += 1
          }
        }
        members += Member(orig, id, vec, hasNull, normSq)
      }
      if (open) flush()
      out.iterator
    }
    ColumnShim.internalCreateDataFrame(spark, rdd, pairSchema)
  }

  // ---- shared plumbing ------------------------------------------------

  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"FusedTopK: vector column must be array<float|double>, got ${other.catalogString}")
  }

  /** Labels arrive as catalyst values off a reused row buffer — copy the
    * unsafe-backed ones. (The `get(_, StringType)` type tag is only used by
    * unsafe rows for strings; other primitives come back boxed already.) */
  private def copyLabel(v: Any): Any = v match {
    case s: org.apache.spark.unsafe.types.UTF8String => s.copy()
    case other => other
  }

  /** Per-partition candidates: one slim row per buffer entry. */
  private def emit(qids: Array[Long], bufs: Array[TopKBuffer]): Iterator[InternalRow] =
    qids.indices.iterator.flatMap { q =>
      val b = bufs(q)
      (0 until b.n).iterator.map { j =>
        val r = new GenericInternalRow(3)
        r.setLong(0, qids(q))
        r.setLong(1, b.ids(j))
        if (b.nulls(j)) r.setNullAt(2) else r.setDouble(2, b.scores(j))
        r: InternalRow
      }
    }

  /** Merge partials through the SAME bounded aggregate the join path uses —
    * identical exchange shape, identical tie discipline. The query id rides
    * the fused pass as a long; casting back to `qidType` (lossless — values
    * originated in that exact-integer type) keeps the output schema
    * identical to the join path's, where the query id is a grouping key and
    * never changes type. */
  private def merge(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[InternalRow], k: Int,
      queryIdCol: String, qidType: DataType, idCol: String): DataFrame =
    ColumnShim.internalCreateDataFrame(spark, rdd, outSchema)
      .groupBy(col("__qid"))
      .agg(graft.plans.TopKAggregate.topK(col("__score"), col("__id"), k).as("__tk"))
      .select(col("__qid").cast(qidType).as(queryIdCol), explode(col("__tk")).as("__e"))
      .select(col(queryIdCol), col("__e.id").as(idCol), col("__e.score").as("score"))
}
