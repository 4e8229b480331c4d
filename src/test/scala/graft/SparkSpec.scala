package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session, lazy): the
  * library session ([[graft.Tables.session]]: graft's extensions, so its
  * optimizer rules, physical rule and SQL functions, and the library confs)
  * on `local[4]`, so with 4 shuffle partitions. */
object SparkTestSession {
  lazy val spark: SparkSession = Tables.session("local[4]")

  /** `body` evaluated with the shared session's conf `key` set to `value`,
    * then unset. A Dataset plans once, so build the DataFrame inside `body`. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** `body` evaluated with the optimizer rules `excludedRules` (rule names,
    * comma-separated) switched off: the rule-off side of a parity test. */
  def excluding[T](excludedRules: String)(body: => T): T =
    withConf("spark.sql.optimizer.excludedRules", excludedRules)(body)

  /** `df`'s analyzed plan as the shared session optimizes it with
    * `excludedRules` switched off; "" keeps all. A fresh QueryExecution
    * optimizes with the session active, so the optimizer reads its conf. */
  def optimized(df: DataFrame, excludedRules: String = ""): LogicalPlan = excluding(excludedRules) {
    df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed).optimizedPlan
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
