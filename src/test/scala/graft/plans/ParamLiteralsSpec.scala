package graft.plans

import java.sql.{Date, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}
import graft.api._

/** ParameterizeFilterLiterals (ParamLiterals.scala): on the shared session
  * a serve request shape compiles once, whatever its slug or cursor values;
  * plans print exactly as on the rule-free twin; and keyset walks over edge
  * values return the rows and cursors the twin does.
  */
class ParamLiteralsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  /** The rule-free twin: a session on the shared context without graft's
    * extensions (`excludedRules` cannot reach a columnar rule). It reads no
    * stored artifact. */
  private lazy val ruleFree: SparkSession = {
    val shared = spark
    val twin = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shared.conf.get("spark.sql.shuffle.partitions"))
      .create()
    // create() made the twin the default and active session
    SparkSession.setDefaultSession(shared)
    SparkSession.setActiveSession(shared)
    twin
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def params(p: SparkPlan): Int =
    p.collect { case n => n.expressions.map(_.collect { case l: ParamLiteral => l }.size).sum }.sum

  test("ParamLiteral prints, evaluates and types like the Literal it replaces") {
    val values = Seq[(Any, DataType)](
      (7.toByte, ByteType), ((-3).toShort, ShortType), (42, IntegerType),
      (Long.MinValue, LongType), (1.5f, FloatType), (-0.0, DoubleType),
      (Double.NaN, DoubleType), (Double.PositiveInfinity, DoubleType),
      (19000, DateType), (1700000000123456L, TimestampType),
      (1700000000123456L, TimestampNTZType))
    for ((v, dt) <- values) {
      val (p, l) = (ParamLiteral(v, dt), Literal(v, dt))
      assert(p.toString == l.toString && p.sql == l.sql && p.dataType == l.dataType, p)
      assert(p.foldable && !p.nullable && p.eval() == v, p)
    }
    assert(!ParamLiteral.supports(StringType) && !ParamLiteral.supports(DecimalType(10, 2)))
  }

  /** The eight serve request shapes (find, a filtered page, startsWith, a
    * forward keyset walk, a walk back with a `before` cursor, a belongs-to
    * join page, a has-many join page, peek), each with two parameter sets.
    * Page sizes suit sf0.001's 150 customers: the walks cross cursors. */
  private def shapes(c: Catalog, v: Int): Seq[(String, () => Unit)] = {
    def pages(q: => QueryBuilder, n: Int): Seq[PageResult] =
      Iterator.iterate(Option(q.exec())) {
        case Some(p) if p.pageInfo.hasNextPage => Some(q.cursor(p.pageInfo.endCursor.get).exec())
        case _ => None
      }.takeWhile(_.isDefined).take(n).flatten.toSeq
    val slug = Seq("42", "117")(v)
    val status = Seq("F", "O")(v)
    val nation = Seq("11", "17")(v)
    val priority = Seq("1-URGENT", "3-MEDIUM")(v)
    def walkBack = c.from("orders").where("o_orderpriority", Eq, priority)
      .orderBy("o_totalprice").pageSize(20)
    Seq(
      "find" -> (() => noop(c.from("customer").find(slug))),
      "where_page" -> (() => c.from("orders").where("o_orderstatus", Eq, status)
        .orderBy("o_totalprice", "desc").pageSize(20).exec()),
      "starts_with" -> (() => c.from("customer")
        .where("c_name", StartsWith, Seq("Customer#00000001", "Customer#00000002")(v))
        .pageSize(20).exec()),
      "walk_forward" -> (() => pages(c.from("customer").where("c_nationkey", Eq, nation)
        .orderBy("c_acctbal").pageSize(2), 3)),
      "walk_back" -> (() => {
        val Seq(_, p2) = pages(walkBack, 2)
        walkBack.cursor(p2.pageInfo.startCursor.get, "before").exec()
      }),
      "join_page" -> (() => c.from("orders").where("o_orderstatus", Eq, status)
        .orderBy("o_totalprice", "desc").join("customer").pageSize(20).exec()),
      "has_many_page" -> (() => c.from("customer").where("c_nationkey", Eq, Seq("10", "13")(v))
        .join("orders").pageSize(3).exec()),
      "peek" -> (() => noop(c.from("lineitem").where("l_returnflag", Eq, Seq("A", "R")(v))
        .orderBy("l_extendedprice", "desc").pageSize(20).peek())))
  }

  /** Per shape: Janino compiles of its second run (new parameters, after a
    * first run that compiled the shape) and the executed plans it ran,
    * expression ids and lambda variable numbers blanked. */
  private def serve(s: SparkSession): Seq[(String, Long, Seq[String])] = {
    val c = Tables.catalog(s, dir)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        plans.add(qe.executedPlan.toString.replaceAll("#\\d+L?", "#")
          .replaceAll("\\bx_\\d+#", "x_#"))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    // scan metadata in full: its truncation point moves with expression-id widths
    s.conf.set("spark.sql.maxMetadataStringLength", "100000")
    try shapes(c, 0).map(_._2).zip(shapes(c, 1)).map { case (first, (name, second)) =>
      first()
      org.apache.spark.ListenerBusDrain(s.sparkContext)
      s.listenerManager.register(listener)
      plans.clear()
      val before = compiles()
      try second()
      finally {
        org.apache.spark.ListenerBusDrain(s.sparkContext)
        s.listenerManager.unregister(listener)
      }
      (name, compiles() - before, plans.toArray(Array.empty[String]).toSeq)
    } finally s.conf.unset("spark.sql.maxMetadataStringLength")
  }

  private lazy val withRuleRuns = serve(spark)
  private lazy val ruleFreeRuns = serve(ruleFree)

  test("serve shapes: new parameters compile nothing with the rule, and recompile without it") {
    val again = withRuleRuns.collect { case (n, k, _) if k > 0 => s"$n: $k" }
    assert(again.isEmpty, s"compiles on the second run of a shape: $again")
    val recompiled = ruleFreeRuns.map { case (n, k, _) => n -> k }.toMap
    for (n <- Seq("find", "walk_forward", "walk_back", "has_many_page"))
      assert(recompiled(n) > 0, s"$n did not recompile on the rule-free session: $recompiled")
  }

  test("serve shapes: executed plans, pushed filters included, print as without the rule") {
    for (((name, _, a), (_, _, b)) <- withRuleRuns.zip(ruleFreeRuns)) {
      assert(a.nonEmpty && a == b, s"$name:\n${a.mkString("\n")}\nvs rule-free\n${b.mkString("\n")}")
      assert(a.exists(_.contains("PushedFilters: [")), s"$name:\n${a.mkString("\n")}")
    }
  }

  /** Rows (slug, order value, seq) and each page's cursors of a forward walk
    * to the last page and a backward walk from there to the first. */
  private def walk(df: DataFrame, order: String, slug: String, desc: Boolean,
                   size: Int): (Seq[Seq[Any]], Seq[Seq[Any]], Seq[Option[String]]) = {
    def go(from: Option[Cursor], dir: PageDirection): Seq[PageResult] =
      Iterator.iterate(Option(Pagination.exec(df, order, slug, desc, size, from, dir))) {
        case Some(p) if (if (dir == After) p.pageInfo.hasNextPage else p.pageInfo.hasPreviousPage) =>
          val c = (if (dir == After) p.pageInfo.endCursor else p.pageInfo.startCursor).get
          Some(Pagination.exec(df, order, slug, desc, size, Some(Cursor.decode(c)), dir))
        case _ => None
      }.takeWhile(_.isDefined).flatten.toSeq
    val fwd = go(None, After)
    val back = go(fwd.last.pageInfo.startCursor.map(Cursor.decode), Before)
    // as strings: NaN equals itself, and -0.0 differs from 0.0
    def rows(ps: Seq[PageResult]) = ps.flatMap(_.data.map(_.toSeq.map(String.valueOf)))
    (rows(fwd), rows(back.reverse :+ fwd.last),
      (fwd ++ back).flatMap(p => Seq(p.pageInfo.startCursor, p.pageInfo.endCursor)))
  }

  test("keyset walks over edge values: same rows and cursors with and without the rule") {
    val n = 30
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      -0.0, 0.0, 1.5, -1.5, Double.MaxValue, Double.MinPositiveValue)
    val longs = Seq(Long.MinValue, Long.MaxValue, Long.MinValue + 1, Long.MaxValue - 1, 0L)
    val rows = (0 until n).map { i =>
      Row(
        if (i < longs.size) longs(i) else i * 1000003L - 20000000L,
        if (i % 9 == 8) null else java.lang.Double.valueOf(doubles(i % doubles.size)),
        if (i % 11 == 10) null
        else Date.valueOf(java.time.LocalDate.of(1970, 1, 1).plusDays(i % 7 * 9000L - 30000)),
        new Timestamp(i % 6 * 1000000000000L - 2000000000000L + i % 2),
        i)
    }
    val schema = StructType(Seq(StructField("slug", LongType), StructField("d", DoubleType),
      StructField("day", DateType), StructField("ts", TimestampType), StructField("seq", IntegerType)))
    // read back from parquet: a local relation's filters are evaluated by the
    // optimizer and never reach a FilterExec
    val path = java.nio.file.Files.createTempDirectory("graft-param-walk").resolve("t").toString
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(path)
    for (order <- Seq("d", "slug", "day", "ts"); desc <- Seq(false, true); size <- Seq(2, 5)) {
      val (fwd, back, cursors) = walk(spark.read.parquet(path), order, "slug", desc, size)
      val expect = walk(ruleFree.read.parquet(path), order, "slug", desc, size)
      assert(fwd.size == n && fwd.map(_(4)).distinct.size == n, s"$order desc=$desc size=$size: $fwd")
      assert(back == fwd, s"$order desc=$desc size=$size: the backward walk differs")
      assert((fwd, back, cursors) == expect, s"$order desc=$desc size=$size")
    }
    // the cursored probe of the shared session carries ParamLiterals
    val c = Cursor("d", "0.0", "5")
    val probe = Pagination.pageDf(spark.read.parquet(path), "d", "slug", descending = false, 3,
      Some(c), After)
    assert(params(probe.queryExecution.executedPlan) > 0, probe.queryExecution.executedPlan)
    assert(params(Pagination.pageDf(ruleFree.read.parquet(path), "d", "slug", descending = false, 3,
      Some(c), After).queryExecution.executedPlan) == 0)
  }
}
