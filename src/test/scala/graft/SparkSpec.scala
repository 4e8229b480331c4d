package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, lazy). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // mirror the harness session (Tables.build): consume bucket-sort
    // metadata — Spark still verifies bucketsContainSingleFile per scan
    .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    .getOrCreate()

  /** A session on the same context with [[graft.plans.GraftExtensions]]
    * injected, as harness sessions (Tables.build) have: graft's optimizer
    * rules in the operator-optimization batch and its SQL functions. The
    * shared session above stays rule-free. */
  lazy val withGraftExtensions: SparkSession = {
    val base = spark // the context (master, UI off) comes from the shared session
    val s = SparkSession.builder().withExtensions(new graft.plans.GraftExtensions).create()
    Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
      "spark.sql.legacy.bucketedTableScan.outputOrdering")
      .foreach(k => s.conf.set(k, base.conf.get(k)))
    s
  }

  /** `df`'s analyzed plan as its session optimizes it with `excludedRules`
    * (optimizer rule names, comma-separated) switched off; "" keeps all. */
  def optimized(df: DataFrame, excludedRules: String = ""): LogicalPlan = {
    val s = df.sparkSession
    s.conf.set("spark.sql.optimizer.excludedRules", excludedRules)
    // a fresh QueryExecution optimizes with `s` active, so the optimizer
    // reads this session's conf, not the thread's active one
    try s.sessionState.executePlan(df.queryExecution.analyzed).optimizedPlan
    finally s.conf.unset("spark.sql.optimizer.excludedRules")
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Drop catalog tables AND their managed warehouse directories — a test
    * failure between create and drop leaves the location behind while the
    * in-memory catalog forgets it, and the next run's CREATE then trips
    * over stale files. Shared by every bucketed-table spec.
    */
  protected def dropTables(names: String*): Unit =
    names.foreach { n =>
      spark.sql(s"DROP TABLE IF EXISTS $n")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), n)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(loc)
      }
    }
}
