package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkTestSession}
import graft.operators.Dedup

/** LateKernelMaterialization (LateKernels.scala): under a top-K, graft
  * kernels move into TakeOrderedAndProject's projectList and the rows are
  * those of the same session with the rule excluded; where the rule must
  * not fire, the optimized plan is exactly the rule-excluded one.
  */
class LateKernelMaterializationSpec extends SparkSpec {

  private val rule = LateKernelMaterialization.ruleName
  /** 300 documents of five tokens, doc_id a permutation of 0..299 (7919 is
    * prime). Read back from parquet, so the optimizer knows neither their
    * order nor their count (a known count below the limit drops the limit). */
  private lazy val docsPath: String = {
    val path = java.nio.file.Files.createTempDirectory("graft-late-docs").resolve("docs").toString
    spark.range(0, 300).select(
        (col("id") * 7919 % 300).as("doc_id"),
        concat_ws(" ", lit("alpha"), (col("id") % 13).cast("string"), lit("beta"),
          (col("id") % 29).cast("string"), lit("gamma")).as("text"),
        when(col("id") % 3 === 0, lit("en")).otherwise(lit("fr")).as("lang"))
      .write.parquet(path)
    path
  }
  private def docs: DataFrame = spark.read.parquet(docsPath)
  private def simhash: DataFrame =
    docs.select(col("doc_id"), TextExpressions.simhash64(col("text")).as("sh"))

  private def isKernel(e: Expression): Boolean = e.exists(_.isInstanceOf[GraftKernel])

  /** Rows and physical plan of `build`, planned with `excluded` rules off. */
  private def run(build: => DataFrame, excluded: String): (Seq[Row], SparkPlan) =
    SparkTestSession.excluding(excluded) {
      val df = build
      (df.collect().toSeq, df.queryExecution.sparkPlan)
    }

  /** Does a kernel run in the input of the plan's one TakeOrderedAndProject? */
  private def kernelBelowTopK(p: SparkPlan): Boolean = {
    val tops = p.collect { case t: TakeOrderedAndProjectExec => t }
    assert(tops.size == 1, s"expected one TakeOrderedAndProject:\n$p")
    tops.head.child.exists(_.expressions.exists(isKernel))
  }

  private def assertMoves(build: => DataFrame): Unit = {
    val (on, onPlan)   = run(build, "")
    val (off, offPlan) = run(build, rule)
    assert(on.nonEmpty)
    assert(on == off, s"rule changed rows:\nwith=$on\nwithout=$off")
    assert(kernelBelowTopK(offPlan), s"the case must put a kernel under the top-K:\n$offPlan")
    assert(!kernelBelowTopK(onPlan), s"kernel still evaluated on every row:\n$onPlan")
    assert(onPlan.exists(_.expressions.exists(isKernel)), s"kernel vanished:\n$onPlan")
  }

  private def assertUnchanged(df: DataFrame): Unit = {
    val (on, off) = (SparkTestSession.optimized(df), SparkTestSession.optimized(df, rule))
    assert(on == off, s"rule fired:\n$on\nwithout it:\n$off")
  }

  test("aliased pass-through sort key: kernel runs above the top-K, same rows") {
    assertMoves(docs
      .select(col("doc_id").as("id"), col("lang"), TextExpressions.simhash64(col("text")).as("sh"))
      .orderBy("id").limit(7))
  }

  test("desc keys with nulls, both null placements") {
    // k = 1, null, 3, 3, null, 3 for id 1..6 (a range, not a local
    // relation, so the optimizer cannot fold the projection away)
    def planted: DataFrame = spark.range(1, 7)
      .select(col("id"),
        when(col("id") % 3 =!= 2, least(col("id"), lit(3L))).as("k"),
        concat_ws(" ", lit("tok"), col("id").cast("string"), lit("end")).as("text"))
      .select(col("id"), col("k"), TextExpressions.fingerprint(col("text")).as("fp"))
    assertMoves(planted.orderBy(col("k").desc, col("id").desc).limit(5))
    assertMoves(planted.orderBy(col("k").desc_nulls_first, col("id")).limit(3))
  }

  test("limit above the row count returns every row") {
    assertMoves(docs
      .select(col("doc_id"), TextExpressions.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").limit(100000))
    assert(run(simhash.orderBy("doc_id").limit(100000), "")._1.size == docs.count())
  }

  test("posexplode above the limit (q_dedup_minhash's shape)") {
    assertMoves(Dedup.minhashed(docs)
      .orderBy("doc_id").limit(20)
      .select(col("doc_id"), posexplode(col("band_hashes")).as(Seq("band", "bhash")))
      .orderBy("doc_id", "band"))
  }

  test("SQL: selected and unselected sort keys") {
    docs.createOrReplaceTempView("late_docs")
    assertMoves(spark.sql("SELECT doc_id, graft_simhash(text) AS sh FROM late_docs ORDER BY doc_id LIMIT 20"))
    assertMoves(spark.sql("SELECT graft_simhash(text) AS sh, lang FROM late_docs ORDER BY doc_id DESC LIMIT 5"))
  }

  test("negative: a sort key that reads a kernel output") {
    assertUnchanged(simhash.orderBy("sh", "doc_id").limit(5))
  }

  test("negative: a nondeterministic projection") {
    assertUnchanged(docs
      .select(col("doc_id"), TextExpressions.simhash64(col("text")).as("sh"), rand(7).as("r"))
      .orderBy("doc_id").limit(5))
  }

  test("negative: a limit at or above topKSortFallbackThreshold") {
    SparkTestSession.withConf("spark.sql.execution.topKSortFallbackThreshold", "50") {
      assertUnchanged(simhash.orderBy("doc_id").limit(50))
      assertUnchanged(simhash.orderBy("doc_id").limit(51))
      val below = simhash.orderBy("doc_id").limit(49)
      assert(SparkTestSession.optimized(below) != SparkTestSession.optimized(below, rule))
    }
  }

  test("negative: no limit") {
    assertUnchanged(simhash.orderBy("doc_id"))
  }
}
