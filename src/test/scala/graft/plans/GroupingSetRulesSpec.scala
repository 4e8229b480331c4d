package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, SparkTestSession, Tables}

/** [[PreAggregateGroupingSets]]: fires only with declared-NDV evidence and
  * re-aggregable aggregates, and the two-phase plan is bit-identical to the
  * single-phase one (including Decimal128 money sums, null key values, the
  * all-null-measure group, and grouping() markers).
  */
class GroupingSetRulesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val rule = PreAggregateGroupingSets.ruleName

  /** `body` with the rule's input-size gate lifted: the planted corpora are
    * bytes-sized, so these tests exercise the rewrite itself (the gate has
    * its own test below). A plan keeps the gate it was optimized under. */
  private def lifted[T](body: => T): T =
    SparkTestSession.withConf(PreAggregateGroupingSets.MinInputBytesKey, "0")(body)

  /** Rows of `df`, planned with the rule excluded: the single-phase side. */
  private def ruleOff(df: => DataFrame): Seq[Row] =
    SparkTestSession.excluding(rule)(df.collect().toSeq)

  /** Planted rollup corpus: null keys, an all-null-measure group, and a
    * group whose count differs from its row count (null measures). */
  private def planted: DataFrame = {
    val rows = Seq(
      Row("A", "x", java.lang.Double.valueOf(1.25), java.lang.Long.valueOf(10L)),
      Row("A", "x", java.lang.Double.valueOf(2.50), null),
      Row("A", null, java.lang.Double.valueOf(4.00), java.lang.Long.valueOf(7L)),
      Row(null, "y", null, java.lang.Long.valueOf(3L)),
      Row("B", "y", null, null), // all-null measures in (B, y)
      Row("B", "y", null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("k1", StringType), StructField("k2", StringType),
      StructField("money", DoubleType), StructField("qty", LongType))))
  }

  /** The planted frame written to parquet (scan identity for NDV facts). */
  private def plantedScan(declare: Boolean,
                          bounds: Map[String, Long] = Map("k1" -> 3L, "k2" -> 3L)): DataFrame = {
    val path = java.nio.file.Files.createTempDirectory("graft-gs").toString
    planted.write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    if (declare) assert(Constraints.declareNdv(df, bounds))
    df
  }

  private def rollupQ(df: DataFrame): DataFrame =
    df.rollup("k1", "k2")
      .agg(Decimal128.sumMoney(col("money")).as("sum_money"),
           count(lit(1)).as("cnt"),
           sum(col("qty")).as("sum_qty"),
           min(col("qty")).as("min_qty"),
           max(col("qty")).as("max_qty"),
           grouping(col("k1")).as("g1"),
           grouping(col("k2")).as("g2"))
      .orderBy("g1", "g2", "k1", "k2")

  private def preAggFired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case e: Expand if e.child.isInstanceOf[Aggregate] => e
    }.isDefined

  test("fires with declared NDVs; two-phase result is bit-identical") {
    val base = ruleOff(rollupQ(plantedScan(declare = false)))
    lifted {
      val two = rollupQ(plantedScan(declare = true))
      assert(preAggFired(two), two.queryExecution.optimizedPlan.toString)
      // Row equality is bitwise on the doubles (Decimal128 exactness carries
      // through the partial/merge decomposition)
      assert(two.collect().toSeq == base)
    }
  }

  test("no declaration, no rewrite") {
    lifted(assert(!preAggFired(rollupQ(plantedScan(declare = false)))))
  }

  test("a layout rewrite loses the NDV license; redeclare/auto-carry restores it") {
    // the r19 sf100 finding: a rewrite's output is a NEW scan identity, so
    // the pre-aggregation silently switched off over the rewritten table
    // (rollup probe 37% SLOWER on a better layout) — a bare re-write loses
    // the facts, Constraints.redeclare carries them, and Layout.writeSorted
    // now auto-carries.
    val expect = ruleOff(rollupQ(plantedScan(declare = false)))
    lifted {
      val original = plantedScan(declare = true)
      // bare parquet re-write: fresh scan, no facts → no rewrite
      val barePath = java.nio.file.Files.createTempDirectory("graft-gs-bare").toString
      original.orderBy("k1").write.mode("overwrite").parquet(barePath)
      val bare = spark.read.parquet(barePath)
      assert(!preAggFired(rollupQ(bare)), "a fresh scan must carry no facts")
      assert(Constraints.redeclare(original, bare))
      val q = rollupQ(bare)
      assert(preAggFired(q), q.queryExecution.optimizedPlan.toString)
      assert(q.collect().toSeq == expect)
      // Layout.writeSorted auto-carries — the rewrite fires with no manual step
      val sortedPath = java.nio.file.Files.createTempDirectory("graft-gs-sorted").toString
      graft.operators.Layout.writeSorted(original, sortedPath, Seq("k1"))
      assert(preAggFired(rollupQ(spark.read.parquet(sortedPath))))
      // facts about columns the rewrite dropped are filtered, kept ones carry
      val pruned = original.select("k1", "money")
      val prunedPath = java.nio.file.Files.createTempDirectory("graft-gs-pruned").toString
      pruned.write.mode("overwrite").parquet(prunedPath)
      val prunedScan = spark.read.parquet(prunedPath)
      assert(Constraints.redeclare(original, prunedScan))
      val carried = Constraints.get(Constraints.tagOf(prunedScan).get).get
      assert(carried.ndv.keySet == Set("k1"), carried.toString)
    }
  }

  test("redeclare REPLACES a reused path's facts — no stale-merge across overwrites") {
    // the registry is keyed by file path; SaveMode.Overwrite can reuse a
    // path for a rewrite of a DIFFERENT table. A merging redeclare would
    // retain the previous occupant's NDV/uniqueness facts and license
    // rewrites the new data violates.
    val reused = java.nio.file.Files.createTempDirectory("graft-gs-reused").toString
    // first occupant: declared tight NDV bounds carry onto the path
    val first = plantedScan(declare = true)
    first.write.mode("overwrite").parquet(reused)
    val firstScan = spark.read.parquet(reused)
    assert(Constraints.redeclare(first, firstScan))
    assert(Constraints.get(Constraints.tagOf(firstScan).get).exists(_.ndv.nonEmpty))
    // second occupant: a DIFFERENT source with NO declarations overwrites
    // the same path — the stale facts must be dropped, not merged
    val second = plantedScan(declare = false)
    second.write.mode("overwrite").parquet(reused)
    val secondScan = spark.read.parquet(reused)
    assert(Constraints.redeclare(second, secondScan))
    assert(Constraints.get(Constraints.tagOf(secondScan).get).isEmpty,
      "stale facts from the previous occupant survived the overwrite")
    lifted(assert(!preAggFired(rollupQ(secondScan))))
    // third occupant: a source with DIFFERENT (looser) bounds — the old
    // tighter bound must not win the merge's min()
    val third = plantedScan(declare = true, bounds = Map("k1" -> 1000L))
    first.write.mode("overwrite").parquet(reused) // re-plant facts on the path
    Constraints.redeclare(first, spark.read.parquet(reused))
    third.write.mode("overwrite").parquet(reused)
    val thirdScan = spark.read.parquet(reused)
    assert(Constraints.redeclare(third, thirdScan))
    val carried = Constraints.get(Constraints.tagOf(thirdScan).get).get
    assert(carried.ndv == Map("k1" -> 1000L), carried.toString)
  }

  test("over-threshold NDV product blocks the rewrite") {
    val q = rollupQ(plantedScan(declare = true,
      bounds = Map("k1" -> 100000L, "k2" -> 100000L)))
    lifted(assert(!preAggFired(q)))
  }

  test("a non-re-aggregable aggregate (sum of double) blocks the rewrite") {
    val df = plantedScan(declare = true)
    val q = df.rollup("k1", "k2")
      .agg(sum(col("money")).as("s"), count(lit(1)).as("c"))
    lifted(assert(!preAggFired(q)))
  }

  test("distinct aggregates block the rewrite") {
    val df = plantedScan(declare = true)
    val q = df.rollup("k1", "k2").agg(countDistinct(col("qty")).as("cd"))
    lifted(assert(!preAggFired(q)))
  }

  test("cube and GROUPING SETS shapes rewrite with parity too") {
    def cubeQ(df: DataFrame): DataFrame = df
      .cube("k1", "k2")
      .agg(count(lit(1)).as("cnt"), sum(col("qty")).as("sq"),
           grouping(col("k1")).as("g1"), grouping(col("k2")).as("g2"))
      .orderBy("g1", "g2", "k1", "k2")
    val base = ruleOff(cubeQ(plantedScan(declare = false)))
    lifted {
      val two = cubeQ(plantedScan(declare = true))
      assert(preAggFired(two))
      assert(two.collect().toSeq == base)
    }
  }

  test("empty input: two-phase keeps Spark's zero-row grouping-sets result") {
    val df = plantedScan(declare = true).filter(col("k1") === "never")
    lifted(assert(rollupQ(df).collect().isEmpty))
  }

  test("below the input-size gate, no rewrite (the extra stage cannot pay)") {
    // default gate (128 MB) vs a planted table of a few hundred bytes
    val q = rollupQ(plantedScan(declare = true))
    assert(!preAggFired(q))
  }

  test("q_agg_rollup shape on real testdata: fires and matches the rule-free session") {
    Tables.declareDomainNdvs(spark, dir)
    def q = graft.SparkEntry.queries("q_agg_rollup")(spark, dir)
    val expect = ruleOff(q)
    lifted {
      val got = q
      assert(preAggFired(got), got.queryExecution.optimizedPlan.toString)
      assert(got.collect().toSeq == expect)
    }
  }

  test("q_agg_cube forces the rewrite through the size gate at any scale") {
    // the registered query lifts the gate for its own planning window, so
    // the rewrite fires even on sf0.001 — and the session conf is restored
    val before = spark.conf.getOption(PreAggregateGroupingSets.MinInputBytesKey)
    val df = graft.SparkEntry.queries("q_agg_cube")(spark, dir)
    assert(preAggFired(df), df.queryExecution.optimizedPlan.toString)
    assert(spark.conf.getOption(PreAggregateGroupingSets.MinInputBytesKey) == before)
    assert(df.collect().nonEmpty)
  }

  test("declared-NDV audit: a violated bound is reported") {
    val path = java.nio.file.Files.createTempDirectory("graft-ndv").toString
    planted.write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    assert(Constraints.declareNdv(df, Map("k1" -> 2L))) // data has A, B, null = 3
    val violations = Constraints.validateRely(spark, _.contains(path))
    assert(violations.exists(v => v.constraint == "ndv(k1)"), violations.toString)
  }
}
