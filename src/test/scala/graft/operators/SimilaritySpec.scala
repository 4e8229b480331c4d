package graft.operators

import graft.{SparkSpec, SparkTestSession}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  // Deterministic synthetic vectors: 4 clusters around orthogonal-ish centers
  // plus noise; vec 0 belongs to cluster 0.
  private lazy val vecs: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(123)
    val centers = Array.fill(4, dim)(rnd.nextGaussian())
    (0L until 200L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => (x + 0.15 * rnd.nextGaussian()).toFloat).toSeq)
    }
  }
  private lazy val emb = vecs.toDF("vec_id", "embedding")

  test("brute-force top-k returns same-cluster neighbors with sane scores") {
    val top = Similarity.topKForId(emb, 0L, 10).collect()
    assert(top.length == 10)
    assert(top.forall(_.getAs[Double]("score") > 0.8))
    assert(top.forall(r => r.getAs[Long]("vec_id") % 4 == 0)) // cluster 0 members
    val scores = top.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("LSH top-k recalls most brute-force neighbors while scanning fewer rows") {
    val exact = Similarity.topKForId(emb, 0L, 10).collect().map(_.getAs[Long]("vec_id")).toSet
    val approx = Similarity.lshTopK(emb, 0L, 10, dim, nbits = 6).collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall too low; exact=$exact approx=$approx")
    // candidate set is a strict subset of the corpus (bucketing actually prunes)
    val idx = Similarity.bucketed(emb, dim, nbits = 6)
    val qb = idx.filter($"vec_id" === 0L).select("bucket").head().getInt(0)
    val cand = idx.filter($"bucket" === qb).count()
    assert(cand < 200, "bucketing pruned nothing")
  }

  test("cosineDupes finds near-identical planted pair only") {
    val withDup = emb.union(Seq((999L, vecs.find(_._1 == 0L).get._2)).toDF("vec_id", "embedding"))
    val dupes = Similarity.cosineDupes(withDup, dim, threshold = 0.999, nbits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dupes.contains((0L, 999L)), s"missing planted dup, got $dupes")
  }

  test("semDupes finds planted in-cluster dups; semDedupe drops exactly the higher ids") {
    // plant exact copies of vecs 0, 1, 2 at ids 900-902: identical vectors
    // ALWAYS share cell and bucket, so recall on the planted set must be
    // total regardless of where k-means put the centroids
    val planted = Seq.tabulate(3)(i => (900L + i, vecs.find(_._1 == i.toLong).get._2))
    val withDups = emb.union(planted.toDF("vec_id", "embedding"))
    val pairs = Similarity.semDupes(withDups, dim, threshold = 0.999, nlist = 4, nbits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 900L), (1L, 901L), (2L, 902L)).subsetOf(pairs),
      s"missing planted semantic dup, got $pairs")
    // at 0.999 nothing else in the noisy clusters qualifies
    assert(pairs.forall { case (a, b) => b - a == 900L }, s"unexpected pair in $pairs")
    val kept = Similarity.semDedupe(withDups, dim, threshold = 0.999, nlist = 4, nbits = 6)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == (0L until 200L).toSet, s"semDedupe kept wrong set: ${kept -- (0L until 200L)}")
  }

  test("semDedupe's anti-join is not forced to broadcast: planned with thresholds off, same kept set") {
    // the drop set grows with the corpus, so Spark's size estimate and AQE
    // choose the join; with both broadcast thresholds off nothing broadcasts
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val planted = Seq.tabulate(3)(i => (900L + i, vecs.find(_._1 == i.toLong).get._2))
    val withDups = emb.union(planted.toDF("vec_id", "embedding"))
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      SparkTestSession.withConf("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1") {
        val df = Similarity.semDedupe(withDups, dim, threshold = 0.999, nlist = 4, nbits = 6)
        val kept = df.collect().map(_.getAs[Long]("vec_id")).toSet
        assert(kept == (0L until 200L).toSet, s"semDedupe kept wrong set: ${kept -- (0L until 200L)}")
        val plan = df.queryExecution.executedPlan
        assert(Aqe.collect(plan) { case b: BroadcastExchangeExec => b }.isEmpty, plan)
        assert(Aqe.collect(plan) { case j: BaseJoinExec => j.joinType }.contains(LeftAnti), plan)
      }
    }
  }

  test("semDupesOnIndex rejects a non-integer id at plan construction") {
    // ids 1.2 and 1.7 carry the same vector: a long cast would make both 1,
    // and `id_a < id_b` would drop the pair without a word
    val rows = Seq((1.2, Seq(1f, 0f, 0f)), (1.7, Seq(1f, 0f, 0f)), (3.0, Seq(0f, 1f, 0f)))
    for (ids <- Seq(rows.toDF("vec_id", "embedding"),
                    rows.map { case (id, v) => (id.toString, v) }.toDF("vec_id", "embedding"))) {
      val index = Similarity.ivfIndex(ids, nlist = 2)
      val e = intercept[IllegalArgumentException](Similarity.semDupesOnIndex(index, dim = 3))
      assert(e.getMessage.contains("exact integer"), e.getMessage)
    }
  }

  test("nlistFor: constant-cell-size policy — candidate volume linear in N, floors pinned") {
    // harness scales stay on the min floor (bit-identical to the old
    // hardcoded nlist=8 in q_dedup_semantic)…
    assert(Similarity.nlistFor(2040) == 8)       // sf0.01
    assert(Similarity.nlistFor(20400) == 8)      // sf1
    // …and real scales size by ceil(n / targetCellSize)
    assert(Similarity.nlistFor(204800) == 50)    // sf10 — the measured fix
    assert(Similarity.nlistFor(1000000000L) == 244141)
    assert(Similarity.nlistFor(5000000000L, maxNlist = 100000) == 100000)
    // the property the policy buys: per-cell pair volume N²/nlist stays
    // ∝ N (constant cell size), instead of quadratic at fixed nlist
    def pairVolume(n: Long) = n.toDouble * n / Similarity.nlistFor(n)
    val growth = pairVolume(2048000) / pairVolume(204800)
    assert(growth < 11.0, s"pair volume must grow ~linearly (10×), got ${growth}×")
    intercept[IllegalArgumentException](Similarity.nlistFor(-1))
    intercept[IllegalArgumentException](Similarity.nlistFor(10, targetCellSize = 0))
    // recall is nlist-independent for identical vectors: the planted pairs
    // from the test above still surface at a production-shaped cell count
    val planted = Seq.tabulate(3)(i => (900L + i, vecs.find(_._1 == i.toLong).get._2))
    val withDups = emb.union(planted.toDF("vec_id", "embedding"))
    val pairs = Similarity.semDupes(withDups, dim, threshold = 0.999,
        nlist = Similarity.nlistFor(203, targetCellSize = 16), nbits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 900L), (1L, 901L), (2L, 902L)).subsetOf(pairs),
      s"planted dup lost at scaled nlist, got $pairs")
  }

  test("semDupes candidates are cluster-scoped: a cross-cell pair never scores") {
    // nbits=1 with 1-bit multiprobe makes the LSH layer admit EVERY pair, so
    // any pruning left is the cell equi-join — the SemDedup property. With 4
    // well-separated clusters and nlist=4, same-cluster pairs survive and the
    // all-pairs count (200 choose 2) never materializes.
    val scored = Similarity.semDupes(emb, dim, threshold = -1.0, nlist = 4, nbits = 1)
    val n = scored.count()
    assert(n < 199L * 100L, s"cell scoping pruned nothing: $n pairs scored")
    // every surviving pair shares a cluster (clusters are i % 4 by construction
    // and far apart; k-means at nlist=4 recovers them)
    val wrong = scored.collect().count(r => (r.getLong(0) - r.getLong(1)) % 4 != 0)
    assert(wrong == 0, s"$wrong cross-cluster pairs leaked through the cell join")
  }

  test("cosineDupes dedup exchange carries narrow scored rows — vectors never shuffle") {
    // Advisory regression, then strengthened: the original distinct() hashed
    // two dim-length arrays per candidate; the scalar-keyed dropDuplicates
    // still SHIPPED them as aggregate payload. Now scoring happens map-side
    // and only (id_a, id_b, score) rows reach the exchange. The pin: no
    // vector column in any partitioning clause OR any dedup aggregate.
    val p = Similarity.cosineDupes(emb, dim).queryExecution.executedPlan.toString
    val parts = "hashpartitioning\\([^)]*\\)".r.findAllIn(p).mkString("\n")
    assert(parts.nonEmpty, s"expected a dedup exchange:\n$p")
    assert(!parts.contains("v_a") && !parts.contains("v_b"),
      s"a vector column is a partitioning key:\n$parts")
    val aggs = "HashAggregate\\(keys=\\[id_a[^\\n]*".r.findAllIn(p).mkString("\n")
    assert(aggs.nonEmpty, s"expected the pair-dedup aggregate:\n$p")
    assert(!aggs.contains("v_a") && !aggs.contains("v_b"),
      s"vectors ride the dedup aggregate:\n$aggs")
  }

  test("no cartesian product in similarity plans") {
    for (df <- Seq(Similarity.lshTopK(emb, 0L, 10, dim), Similarity.cosineDupes(emb, dim))) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.toLowerCase.contains("cartesian"), s"cartesian product in:\n$plan")
    }
  }

  test("batch LSH with nbits=1 (all candidates probed) equals batch brute force exactly") {
    import org.apache.spark.sql.functions._
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5, excludeSelf = true)
    val lsh = Similarity.lshTopKBatch(emb, queries, k = 5, dim = dim,
      nbits = 1, excludeSelf = true)
    assert(key(lsh.collect()) == key(bf.collect()))
  }

  test("batch LSH at nbits=4 recalls most batch brute-force neighbors per query") {
    import org.apache.spark.sql.functions._
    val queries = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("query_id"), $"embedding")
    val bf = Similarity.bruteForceTopK(emb, queries, k = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopKBatch(emb, queries, k = 5, dim = dim,
      nbits = 4, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.6, s"batch LSH recall $recall below 0.6")
  }

  // label = cluster id (vec_id % 4) — the natural contrastive setup on the
  // synthetic clusters
  private lazy val labeled = vecs.map { case (i, v) => (i, v, i % 4) }
    .toDF("vec_id", "embedding", "label")

  test("hard negatives exclude the anchor's label and match a local brute force") {
    import org.apache.spark.sql.functions._
    val anchors = labeled.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("anchor_id"), $"embedding", $"label")
    val got = Similarity.hardNegatives(labeled, anchors, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val labelOf = vecs.map { case (i, _) => i -> i % 4 }.toMap
    assert(got.forall { case (a, n) => labelOf(a) != labelOf(n) },
      s"a mined negative shares its anchor's label: $got")
    // local reference: exact cosine over the doubles, same tie-break
    def cos(x: Seq[Float], y: Seq[Float]): Double = {
      val (dot, nx, ny) = x.zip(y).foldLeft((0.0, 0.0, 0.0)) {
        case ((d, a, b), (xi, yi)) => (d + xi.toDouble * yi, a + xi.toDouble * xi, b + yi.toDouble * yi)
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val byId = vecs.toMap
    val expected = Seq(0L, 50L, 100L, 150L).flatMap { a =>
      vecs.filter { case (i, _) => i % 4 != a % 4 }
        .map { case (i, v) => (i, cos(byId(a), v)) }
        .sortBy { case (i, s) => (-s, i) }.take(5)
        .map { case (i, _) => (a, i) }
    }.toSet
    assert(got.toSet == expected)
  }

  test("LSH hard negatives: nbits=1 equals exact; nbits=4 recalls well") {
    import org.apache.spark.sql.functions._
    val anchors = labeled.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("anchor_id"), $"embedding", $"label")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = key(Similarity.hardNegatives(labeled, anchors, k = 5))
    assert(key(Similarity.hardNegativesLsh(labeled, anchors, k = 5, dim = dim,
      nbits = 1)) == exact)
    val lsh = key(Similarity.hardNegativesLsh(labeled, anchors, k = 5, dim = dim,
      nbits = 4))
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH hard-negative recall $recall below 0.6")
  }
}
