package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private lazy val vecs: Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(47L)
    (0L until 80L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
  }
  private lazy val emb = vecs.toDF("vec_id", "embedding")
  private lazy val cb = Pq.formulaCodebook(m = 4, ksub = 8, dsub = 4)

  /** Local reference encoder — independent argmin over the same codebook. */
  private def refEncode(v: Seq[Double], c: Pq.PqCodebook): Seq[Int] =
    (0 until c.m).map { mm =>
      val sub = v.slice(mm * c.dsub, (mm + 1) * c.dsub)
      (0 until c.ksub).minBy { cc =>
        val ctr = c.codebooks(mm)(cc)
        (sub.zip(ctr).map { case (a, b) => (a - b) * (a - b) }.sum, cc)
      }
    }

  private def sqDist(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }

  test("native encode matches an independent local argmin, ties to the lower code") {
    val got = Pq.encode(emb, cb).select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == refEncode(v, cb), s"codes differ for vec $id")
    }
  }

  test("ADC distance ≡ exact squared distance to the doc's reconstruction") {
    val q = emb.filter($"vec_id" === 0L)
      .select($"vec_id".as("query_id"), $"embedding")
    val dists = Pq.adcTopKBatch(Pq.encode(emb, cb), cb, q, k = 80)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val qv = vecs.head._2
    vecs.foreach { case (id, v) =>
      val recon = cb.reconstruct(refEncode(v, cb)).toSeq
      assert(math.abs(dists(id) - sqDist(qv, recon)) < 1e-9,
        s"ADC distance for doc $id is not the reconstruction distance")
    }
  }

  test("a planted identical vector is every query's nearest neighbor") {
    // identical vector → identical codes → ADC distance equals the query's
    // own reconstruction error, the minimum over ALL code words (each code
    // is that subspace's argmin) — exact top-1, not a recall statement
    val planted = emb.unionByName(
      emb.filter($"vec_id" < 5L).withColumn("vec_id", $"vec_id" + 1000L))
    val queries = emb.filter($"vec_id" < 5L)
      .select($"vec_id".as("query_id"), $"embedding")
    val top = Pq.adcTopKBatch(Pq.encode(planted, cb), cb, queries, k = 1,
        excludeSelf = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach(q => assert(top(q) == q + 1000L,
      s"query $q: nearest is ${top(q)}, expected the planted twin ${q + 1000L}"))
  }

  test("train fits per-subspace codebooks on floats and encode stays in range") {
    val fEmb = vecs.map { case (i, v) => (i, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
    val trained = Pq.train(fEmb, m = 4, ksub = 8, seed = 3L)
    assert(trained.m == 4 && trained.ksub == 8 && trained.dsub == 4)
    val codes = Pq.encode(fEmb, trained).select("codes").collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 8)))
    // a trained codebook reconstructs better than the arbitrary formula one
    def err(c: Pq.PqCodebook): Double = vecs.map { case (_, v) =>
      sqDist(v, c.reconstruct(refEncode(v, c)).toSeq)
    }.sum
    assert(err(trained) < err(cb), "training must beat formula codebooks on fit data")
  }

  test("write/load round trip: identical codebook, identical retrieval") {
    dropTables("graft_pq_spec", "graft_pq_spec_codebooks")
    val encoded = Pq.encode(emb, cb)
    Pq.writePqIndex(encoded, "graft_pq_spec", buckets = 4, cb)
    val (loaded, cb2) = Pq.loadPqIndex(spark, "graft_pq_spec")
    assert(cb2.asSeq == cb.asSeq, "codebooks must round-trip exactly")
    val q = emb.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    def run(enc: org.apache.spark.sql.DataFrame, c: Pq.PqCodebook) =
      Pq.adcTopKBatch(enc, c, q, k = 3).orderBy("query_id", "distance", "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(loaded, cb2) == run(encoded, cb))
    dropTables("graft_pq_spec", "graft_pq_spec_codebooks")
  }

  test("IVFPQ: residual encode + planted twin is top-1; nprobe=nlist ≡ residual-PQ brute force") {
    val planted = emb.unionByName(
      emb.filter($"vec_id" < 4L).withColumn("vec_id", $"vec_id" + 1000L))
    val ivf = Similarity.ivfIndex(planted, nlist = 4, vecCol = "embedding")
    val encoded = Pq.encodeIvf(ivf, cb)
    // residual codes differ from raw codes (the residual actually subtracts)
    val raw = Pq.encode(planted, cb).select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val res = encoded.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(res.exists { case (id, cs) => raw(id) != cs },
      "residual encoding must differ from raw encoding somewhere")
    // identical vector ⇒ same cell, same residual, same codes ⇒ top-1
    val queries = emb.filter($"vec_id" < 4L)
      .select($"vec_id".as("query_id"), $"embedding")
    val top = Pq.ivfPqTopKBatch(ivf, encoded, cb, queries, k = 1,
        nprobe = 4, excludeSelf = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 4L).foreach(q => assert(top(q) == q + 1000L,
      s"query $q: nearest is ${top(q)}, expected the planted twin ${q + 1000L}"))
    // nprobe = nlist: every cell probed — the result for ANY query must be
    // the local residual-PQ brute force over the whole corpus
    val centers = ivf.centers
    val all = planted.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cellOf(v: Seq[Double]): Int =
      centers.indices.minBy(j => (sqDist(v, centers(j).toSeq), j))
    def residual(v: Seq[Double]): Seq[Double] = {
      val c = centers(cellOf(v)); v.zip(c).map { case (a, b) => a - b }
    }
    val qv = all(0L)
    val got = Pq.ivfPqTopKBatch(ivf, encoded, cb,
        queries.filter($"query_id" === 0L), k = 5, nprobe = 4, excludeSelf = true)
      .orderBy("distance", "vec_id").collect().map(_.getLong(1)).toSeq
    val want = all.toSeq.filter(_._1 != 0L).map { case (id, v) =>
      val recon = cb.reconstruct(refEncode(residual(v), cb)).toSeq
      val qres = {
        val c = centers(cellOf(v)) // table for the DOC's cell
        qv.zip(c).map { case (a, b) => a - b }
      }
      (sqDist(qres, recon), id)
    }.sorted.take(5).map(_._2)
    assert(got == want, s"nprobe=nlist must equal local residual-PQ brute force")
  }

  test("plan: candidates rank through ONE exchange (the top-k aggregate)") {
    val q = emb.limit(3).select($"vec_id".as("query_id"), $"embedding")
    // fused default: the FusedTopK scan scores the corpus against the
    // broadcast queries, so the ONLY shuffle is the final top-k merge — no
    // join node and no RDD escape hatch
    val plan = Pq.adcTopKBatch(Pq.encode(emb, cb), cb, q, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("FusedTopK") && !plan.contains("ExistingRDD"), plan)
    assert(!plan.contains("Join"), plan)
    assert("BroadcastExchange".r.findAllIn(plan).size == 1, plan) // the queries
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan) // the agg merge
  }

  test("guards: dim mismatch, ragged codebook, bad k, null element") {
    val bad = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    intercept[Exception](Pq.encode(bad, cb).collect())
    intercept[IllegalArgumentException](Pq.PqCodebook(
      Array(Array(Array(1.0)), Array(Array(1.0, 2.0)))))
    intercept[IllegalArgumentException](
      Pq.adcTopKBatch(Pq.encode(emb, cb), cb, emb.select($"vec_id".as("query_id"), $"embedding"), k = 0))
    intercept[IllegalArgumentException](Pq.train(emb, m = 3, ksub = 4)) // 16 % 3 != 0
  }
}
