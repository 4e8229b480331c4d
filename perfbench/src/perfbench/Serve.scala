package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.api._

/** The interactive workload: a seeded stream of staticql-style requests
  * against the star-schema catalog. Every request is forced: pages through
  * `exec()`, DataFrames (`find`, `peek`) through a `noop` write. */
object Serve {

  /** One request. `run` is the timed call; `dump` returns the rows the
    * correctness check compares against the DuckDB twin of `params`. */
  final case class Req(shape: String, params: Map[String, Any],
                       run: Catalog => Unit, dump: Catalog => Seq[Seq[Any]])

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One page: the builder chain is `api.build`, `exec()` is `api.execute`. */
  private def execPage(q: => QueryBuilder): PageResult = {
    val b = Spans.span("api.build")(q)
    Spans.span("api.execute")(b.exec())
  }

  private def page(q: Catalog => QueryBuilder): Catalog => Unit = c => execPage(q(c))

  /** A DataFrame request, forced through a `noop` write. */
  private def frame(q: Catalog => DataFrame): Catalog => Unit = c => {
    val df = Spans.span("api.build")(q(c))
    Spans.span("api.execute")(noop(df))
  }

  private def cells(rows: Seq[Row], fields: String*): Seq[Seq[Any]] =
    rows.toList.map(r => fields.toList.map { f =>
      r.get(r.fieldIndex(f)) match {
        case s: scala.collection.Seq[_] => s.map { case x: Row => x.get(0); case x => x }.toList
        case d: java.math.BigDecimal   => d.doubleValue
        case v                         => v
      }
    })

  private def pages(q: => QueryBuilder, n: Int): Seq[PageResult] = {
    val first = execPage(q)
    Iterator.iterate(Option(first)) {
      case Some(p) if p.pageInfo.hasNextPage => Some(execPage(q.cursor(p.pageInfo.endCursor.get)))
      case _ => None
    }.takeWhile(_.isDefined).take(n).flatten.toSeq
  }

  /** The request shapes: one request of each makes a pass, so every shape
    * weighs the same. */
  val Shapes: Seq[String] = Seq("find", "where_page", "starts_with", "walk_forward", "walk_back",
    "join_page", "has_many_page", "peek")

  private val statuses = Seq("F", "O", "P")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** A request of `shape`, parameters drawn from `rnd`. Key ranges come
    * from the generated customer table's size. */
  def request(shape: String, rnd: scala.util.Random, nCust: Long): Req =
    shape match {
      case "find" =>
        val slug = (rnd.nextLong() & Long.MaxValue) % nCust
        Req("find", Map("slug" -> slug),
          frame(_.from("customer").find(slug.toString)),
          c => cells(c.from("customer").find(slug.toString).collect().toSeq, "c_custkey", "c_name"))
      case "where_page" =>
        val st = statuses(rnd.nextInt(3))
        def q(c: Catalog) = c.from("orders").where("o_orderstatus", Eq, st)
          .orderBy("o_totalprice", "desc").pageSize(20)
        Req("where_page", Map("status" -> st), page(q),
          c => cells(q(c).exec().data, "o_orderkey", "o_totalprice"))
      case "starts_with" =>
        val prefix = f"Customer#0000${rnd.nextInt((nCust / 100).toInt.max(1))}%03d"
        def q(c: Catalog) = c.from("customer").where("c_name", StartsWith, prefix).pageSize(20)
        Req("starts_with", Map("prefix" -> prefix), page(q),
          c => cells(q(c).exec().data, "c_custkey", "c_name"))
      case "walk_forward" =>
        val nation = rnd.nextInt(25)
        def q(c: Catalog) = c.from("customer").where("c_nationkey", Eq, nation.toString)
          .orderBy("c_acctbal").pageSize(25)
        Req("walk_forward", Map("nation" -> nation, "pages" -> 3), c => pages(q(c), 3),
          c => pages(q(c), 3).flatMap(p => cells(p.data, "c_custkey", "c_acctbal")))
      case "walk_back" =>
        val pr = priorities(rnd.nextInt(5))
        def q(c: Catalog) = c.from("orders").where("o_orderpriority", Eq, pr)
          .orderBy("o_totalprice").pageSize(20)
        def walk(c: Catalog): Seq[PageResult] = {
          val Seq(p1, p2) = pages(q(c), 2)
          Seq(p1, p2, execPage(q(c).cursor(p2.pageInfo.startCursor.get, "before")))
        }
        Req("walk_back", Map("priority" -> pr), c => walk(c),
          c => walk(c).flatMap(p => cells(p.data, "o_orderkey", "o_totalprice")))
      case "join_page" =>
        val st = statuses(rnd.nextInt(3))
        def q(c: Catalog) = c.from("orders").where("o_orderstatus", Eq, st)
          .orderBy("o_totalprice", "desc").join("customer").pageSize(20)
        Req("join_page", Map("status" -> st), page(q),
          c => cells(q(c).exec().data, "o_orderkey", "customer"))
      case "has_many_page" =>
        val nation = rnd.nextInt(25)
        def q(c: Catalog) = c.from("customer").where("c_nationkey", Eq, nation.toString)
          .join("orders").pageSize(10)
        Req("has_many_page", Map("nation" -> nation), page(q),
          c => cells(q(c).exec().data, "c_custkey", "orders"))
      case "peek" =>
        val flag = Seq("A", "N", "R")(rnd.nextInt(3))
        def q(c: Catalog) = c.from("lineitem").where("l_returnflag", Eq, flag)
          .orderBy("l_extendedprice", "desc").pageSize(20)
        Req("peek", Map("flag" -> flag), frame(q(_).peek()),
          c => cells(q(c).peek().collect().toSeq, "slug", "l_extendedprice"))
    }

  /** A full keyset walk, forward to the last page and back to the first
    * with `before` cursors: the check asserts every row comes once, in
    * order, both ways. */
  def fullWalk(c: Catalog, nation: Int): (Seq[Any], Seq[Any]) = {
    def q = c.from("customer").where("c_nationkey", Eq, nation.toString)
      .orderBy("c_acctbal").pageSize(100)
    val fwd = pages(q, Int.MaxValue)
    val back = Iterator.iterate(Option(fwd.last)) {
      case Some(p) if p.pageInfo.hasPreviousPage =>
        Some(q.cursor(p.pageInfo.startCursor.get, "before").exec())
      case _ => None
    }.takeWhile(_.isDefined).flatten.toSeq
    (fwd.flatMap(p => cells(p.data, "c_custkey").map(_.head)),
      back.reverse.flatMap(p => cells(p.data, "c_custkey").map(_.head)))
  }
}
