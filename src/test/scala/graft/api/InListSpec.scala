package graft.api

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `where(field, In, values)` with thousands of values, on a plain column
  * (one typed IN, pushed into the parquet scan) and on a multi-valued custom
  * index (`exists` over the hook values): rows equal a plain Scala filter,
  * unparsable values match nothing, an empty list matches nothing.
  */
class InListSpec extends SparkSpec {

  private val n = 3000
  private def codes(id: Int): Seq[Int] = Seq(id * 3 % 10007, id * 7 % 10007)

  private lazy val catalog = {
    val path = java.nio.file.Files.createTempDirectory("graft-in-list").resolve("t").toString
    spark.range(n).select(col("id"), (col("id") % 4001).cast("int").as("v"),
        array((col("id") * 3 % 10007).cast("int"), (col("id") * 7 % 10007).cast("int"))
          .as("__graft_custom_codes"))
      .write.parquet(path)
    new Catalog(Seq(SourceDef("t", spark.read.parquet(path), slugField = "id",
      customIndexFields = Set("codes"))))
  }

  /** 5,000 values: every third integer in range, with unparsable and
    * out-of-int-range strings mixed in. */
  private val values: Seq[String] = (0 until 5000).map { i =>
    i % 50 match {
      case 7  => s"x$i"
      case 19 => s"${i}abc"
      case 31 => "9999999999"
      case _  => (i * 3 % 12000).toString
    }
  }
  private val wanted: Set[Int] = values.flatMap(_.toIntOption).toSet

  private def ids(q: QueryBuilder): Seq[Long] =
    q.pageSize(n).exec().data.map(_.getAs[Long]("id"))

  test("5,000 values on a plain column: one pushed-down IN, rows of a Scala filter") {
    val q = catalog.from("t").where("v", In, values)
    assert(ids(q) == (0L until n).filter(id => wanted((id % 4001).toInt)))
    val plan = q.execDf().queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\n]*".r.findAllIn(plan).toSeq
    assert(pushed.exists(_.contains("In(v,")), s"no In( in the pushed filters: $pushed")
  }

  test("5,000 values on a multi-valued custom index: a row matches when any hook value does") {
    assert(ids(catalog.from("t").where("codes", In, values)) ==
      (0L until n).filter(id => codes(id.toInt).exists(wanted)))
  }

  test("an empty or all-unparsable IN list matches nothing") {
    for (field <- Seq("v", "codes"); vs <- Seq(Seq.empty[String], Seq("x", "1.5e", "")))
      assert(ids(catalog.from("t").where(field, In, vs)).isEmpty, s"$field IN $vs")
  }
}
