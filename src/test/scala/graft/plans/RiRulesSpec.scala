package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join}
import org.apache.spark.sql.functions._

import graft.{SparkSpec, SparkTestSession, Tables}
import graft.SparkTestSession.optimized
import graft.api.Relations

/** The RI-aware optimizer rules (RiRules.scala): rewrite fires on the right
  * shapes (plan assertions), never on the wrong ones (negative cases), and
  * always preserves results (parity against the same query with the three
  * rules excluded — including the null-FK edge an INNER join's implicit
  * null-drop creates, exercised on planted tables since the star schema's
  * FKs are never null).
  */
class RiRulesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val riRules =
    Seq(CollectSizeToCount, TopNThroughRiJoin, RiJoinElimination).map(_.ruleName).mkString(",")

  private def hasTopNBelowJoin(df: DataFrame, excluded: String = ""): Boolean =
    optimized(df, excluded).collect { case j: Join =>
      j.children.exists(_.collectFirst { case g: GlobalLimit => g }.isDefined)
    }.exists(identity)

  private def hasCollect(df: DataFrame, excluded: String = ""): Boolean = {
    val p = optimized(df, excluded).toString
    p.contains("collect_list") || p.contains("collect_set")
  }

  /** The query with and without the RI rules must agree (sorted row sets). */
  private def assertParity(build: => DataFrame): Unit = {
    val expect = SparkTestSession.excluding(riRules)(build.collect()).toSeq.sortBy(_.toString)
    val got    = build.collect().toSeq.sortBy(_.toString)
    assert(got == expect, s"rule changed results:\nexpect=$expect\ngot=$got")
  }

  private def joinQ: DataFrame = {
    val c = Tables.catalog(spark, dir)
    Relations.flatJoin(c("orders").df, c("customer").df, "o_custkey", "c_custkey")
      .select("o_orderkey", "o_totalprice", "c_name")
      .orderBy("o_orderkey").limit(7)
  }

  test("TopNThroughRiJoin: inner FK join pushes the top-N to the FK side") {
    assert(hasTopNBelowJoin(joinQ), optimized(joinQ).toString)
    assert(!hasTopNBelowJoin(joinQ, riRules))
    assertParity(joinQ)
  }

  test("TopNThroughRiJoin: sort key on the PK side substitutes through the equi pair") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      Relations.flatJoin(c("customer").df, c("orders").df, "c_custkey", "o_custkey")
        .select("c_custkey", "c_name", "o_orderkey")
        .orderBy("c_custkey", "o_orderkey").limit(9)
    }
    assert(hasTopNBelowJoin(q), optimized(q).toString)
    assertParity(q)
  }

  test("TopNThroughRiJoin: a real predicate on the PK side blocks the rewrite") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      Relations.flatJoin(c("orders").df,
          c("customer").df.filter(col("c_acctbal") > 0), "o_custkey", "c_custkey")
        .select("o_orderkey", "c_name").orderBy("o_orderkey").limit(7)
    }
    assert(!hasTopNBelowJoin(q), optimized(q).toString)
    assertParity(q)
  }

  test("TopNThroughRiJoin: non-FK equi join does not push") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      // nationkey = nationkey is a real join but not a declared FK→unique pair
      c("customer").df.join(c("supplier").df,
          col("c_nationkey") === col("s_nationkey"))
        .select("c_custkey", "s_suppkey").orderBy("c_custkey").limit(7)
    }
    assert(!hasTopNBelowJoin(q), optimized(q).toString)
    assertParity(q)
  }

  test("TopNThroughRiJoin: left outer with unique right key pushes on uniqueness alone") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      // right side filtered — fine under LEFT OUTER (null-extension, not loss)
      c("orders").df.join(c("customer").df.filter(col("c_acctbal") > 0),
          col("o_custkey") === col("c_custkey"), "left")
        .select("o_orderkey", "c_name").orderBy("o_orderkey").limit(7)
    }
    assert(hasTopNBelowJoin(q), optimized(q).toString)
    assertParity(q)
  }

  test("TopNThroughRiJoin: INNER pushdown drops null-FK rows before limiting") {
    val tmp = java.nio.file.Files.createTempDirectory("ri_nullfk").toString
    val s = spark
    import s.implicits._
    // parent 1..3; child rows 1..6 where even ids have NULL fk — the top-2
    // by id (1,2) includes a null-FK row the inner join must exclude, so a
    // pushed limit that ignored nulls would return (1) only.
    Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("pk", "pname")
      .write.mode("overwrite").parquet(s"$tmp/parent")
    Seq((1L, Some(1L)), (2L, None), (3L, Some(2L)), (4L, None),
        (5L, Some(3L)), (6L, Some(1L)))
      .map { case (id, fk) => (id, fk.map(java.lang.Long.valueOf).orNull) }
      .toDF("id", "fk").write.mode("overwrite").parquet(s"$tmp/child")
    val parent = s.read.parquet(s"$tmp/parent")
    val child  = s.read.parquet(s"$tmp/child")
    Constraints.register(Constraints.tagOf(child).get,
      Constraints.TableConstraints(Set.empty,
        Seq(Constraints.Fk("fk", Constraints.tagOf(parent).get, "pk"))))
    Constraints.register(Constraints.tagOf(parent).get,
      Constraints.TableConstraints(Set("pk"), Nil))
    val q = child.join(parent, col("fk") === col("pk"))
      .select("id", "pname").orderBy("id").limit(2)
    assert(hasTopNBelowJoin(q), optimized(q).toString)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("CollectSizeToCount: size(collect_list) over groupBy becomes count") {
    def q: DataFrame =
      Tables.load(spark, dir, "orders").groupBy("o_custkey")
        .agg(size(collect_list(col("o_orderkey"))).as("n"))
        .orderBy("o_custkey")
    assert(!hasCollect(q), optimized(q).toString)
    assert(hasCollect(q, riRules))
    assertParity(q)
  }

  test("CollectSizeToCount: collect_set becomes count(DISTINCT)") {
    def q: DataFrame =
      Tables.load(spark, dir, "orders").groupBy("o_custkey")
        .agg(size(collect_set(col("o_orderstatus"))).as("n"))
        .orderBy("o_custkey")
    assert(!hasCollect(q), optimized(q).toString)
    assertParity(q)
  }

  test("CollectSizeToCount: the nested-relation attach shape (left join + coalesce)") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      Relations.nested(c("customer").df, c("customer").relations("orders"),
          c("orders").df.select("o_custkey", "o_orderkey"))
        .select(col("c_custkey"), size(col("orders")).as("order_cnt"))
        .orderBy("c_custkey")
    }
    assert(!hasCollect(q), optimized(q).toString)
    assertParity(q)
  }

  test("CollectSizeToCount: a parent with NO children counts 0, not NULL (r18 sf0.1 regression)") {
    // The rewrite installs a fresh count attribute; above the attach shape's
    // LEFT OUTER join it must be NULLABLE, or NullPropagation strips the
    // coalesce-to-0 and a childless parent's size comes back NULL. Planted:
    // parent 3 has no children (the sf0.01 star schema never exercises this
    // — every customer there has orders, which is how the bug shipped in
    // r16 and was only caught by the r18 sf0.1 oracle run).
    val tmp = java.nio.file.Files.createTempDirectory("ri_childless").toString
    val s = spark
    import s.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("pk", "pname")
      .write.mode("overwrite").parquet(s"$tmp/parent")
    Seq((10L, 1L), (11L, 1L), (12L, 2L)).toDF("cid", "fk")
      .write.mode("overwrite").parquet(s"$tmp/child")
    val parent = s.read.parquet(s"$tmp/parent")
    val child  = s.read.parquet(s"$tmp/child")
    val q = graft.api.Relations.nested(parent,
        graft.api.HasMany("kids", "child", "pk", "fk"), child.select("fk", "cid"))
      .select(col("pk"), size(col("kids")).as("kid_cnt"))
      .orderBy("pk")
    assert(!hasCollect(q), optimized(q).toString) // the rewrite fired
    assert(q.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((1L, 2), (2L, 1), (3L, 0)), optimized(q).toString)
  }

  test("CollectSizeToCount: flatten(collect_list(arr)) cascades to sum(count)") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      Relations.nested(c("region").df, c("region").relations("customers"),
          c("customer").df.select("c_custkey", "c_nationkey"),
          through = Some(c("nation").df))
        .select(col("r_name"), size(col("customers")).as("cust_cnt"))
        .orderBy("r_name")
    }
    assert(!hasCollect(q), optimized(q).toString)
    assertParity(q)
  }

  test("CollectSizeToCount: an array consumed beyond size() is untouched") {
    def q: DataFrame =
      Tables.load(spark, dir, "orders").groupBy("o_custkey")
        .agg(collect_list(col("o_orderkey")).as("ids"))
        .select(col("o_custkey"), size(col("ids")).as("n"), col("ids"))
        .orderBy("o_custkey")
    assert(hasCollect(q), optimized(q).toString)
    assertParity(q)
  }

  test("RiJoinElimination: inner FK join consumed one-sided drops the join") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      // c_custkey is the dropped side's KEY — substituted, join still gone
      Relations.flatJoin(c("orders").df, c("customer").df, "o_custkey", "c_custkey")
        .select("o_orderkey", "o_totalprice", "c_custkey")
    }
    assert(optimized(q).collectFirst { case j: Join => j }.isEmpty,
      optimized(q).toString)
    assert(optimized(q, riRules).collectFirst { case j: Join => j }.isDefined)
    assertParity(q)
  }

  test("RiJoinElimination: referencing a non-key column keeps the join") {
    def q: DataFrame = {
      val c = Tables.catalog(spark, dir)
      Relations.flatJoin(c("orders").df, c("customer").df, "o_custkey", "c_custkey")
        .select("o_orderkey", "c_name")
    }
    assert(optimized(q).collectFirst { case j: Join => j }.isDefined)
    assertParity(q)
  }

  // ---- r17 LEFT OUTER soundness fixes (regression pins) -------------------
  // A planted child/parent pair where LEFT OUTER can produce unmatched rows
  // two ways: a NULL fk, and (when the parent is filtered) a dropped parent.
  // `filteredParent = true` plants totality-violating data (fk=2's parent is
  // filtered out), so any rewrite that fires there returns wrong rows.
  private def plantLeftOuter(): (DataFrame, DataFrame) = {
    val tmp = java.nio.file.Files.createTempDirectory("ri_louter").toString
    val s = spark
    import s.implicits._
    Seq((1L, "p1"), (2L, "p2"), (3L, "p3")).toDF("pk", "pname")
      .write.mode("overwrite").parquet(s"$tmp/parent")
    Seq((1L, Some(3L)), (2L, Some(2L)), (3L, None), (4L, Some(1L)))
      .map { case (id, fk) => (id, fk.map(java.lang.Long.valueOf).orNull) }
      .toDF("id", "fk").write.mode("overwrite").parquet(s"$tmp/child")
    val parent = s.read.parquet(s"$tmp/parent")
    val child  = s.read.parquet(s"$tmp/child")
    Constraints.register(Constraints.tagOf(child).get,
      Constraints.TableConstraints(Set.empty,
        Seq(Constraints.Fk("fk", Constraints.tagOf(parent).get, "pk"))))
    Constraints.register(Constraints.tagOf(parent).get,
      Constraints.TableConstraints(Set("pk"), Nil))
    (child, parent)
  }

  test("TopNThroughRiJoin: LEFT OUTER sort-key substitution is blocked when the right side is filtered") {
    val (child, parent) = plantLeftOuter()
    // fk=2's parent is filtered away → that row's output pk is NULL, not 2.
    // Substituting pk→fk in the pushed sort would order it as 2 (r17 hole).
    val q = child.join(parent.filter(col("pname") =!= "p2"),
        col("fk") === col("pk"), "left")
      .select("id", "pk").orderBy(col("pk").asc, col("id").asc).limit(2)
    assert(!hasTopNBelowJoin(q), optimized(q).toString)
    // nulls-first asc: the two unmatched rows (id=3 null fk, id=2 dropped
    // parent) are the correct top-2.
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("TopNThroughRiJoin: LEFT OUTER sort-key substitution pushes with parity when FK totality holds") {
    val (child, parent) = plantLeftOuter()
    val q = child.join(parent, col("fk") === col("pk"), "left")
      .select("id", "pk").orderBy(col("pk").asc, col("id").asc).limit(2)
    assert(hasTopNBelowJoin(q), optimized(q).toString)
    // nulls-first asc: the null-fk row (id=3, pk NULL) then fk=1 (id=4).
    assert(q.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq ==
      Seq((3L, None), (4L, Some(1L))))
  }

  test("TopNThroughRiJoin: a pre-existing hint on the probe side survives the rewrite") {
    val (child, parent) = plantLeftOuter()
    import org.apache.spark.sql.catalyst.plans.logical.BROADCAST
    val q = child.join(parent.hint("broadcast"), col("fk") === col("pk"))
      .select("id", "pname").orderBy("id").limit(2)
    assert(hasTopNBelowJoin(q), optimized(q).toString)
    val j = optimized(q).collectFirst { case j: Join => j }.get
    assert(j.hint.rightHint.flatMap(_.strategy).contains(BROADCAST),
      s"user's probe-side hint was clobbered: ${j.hint}")
    assert(j.hint.leftHint.flatMap(_.strategy).contains(BROADCAST),
      s"pushed n-row side should be the broadcast build: ${j.hint}")
  }

  test("RiJoinElimination: LEFT OUTER dropped-key substitution is blocked when the right side is filtered") {
    val (child, parent) = plantLeftOuter()
    val q = child.join(parent.filter(col("pname") =!= "p2"),
        col("fk") === col("pk"), "left")
      .select("id", "pk")
    assert(optimized(q).collectFirst { case j: Join => j }.isDefined,
      optimized(q).toString)
    // id=2's parent is filtered → pk NULL (fk substitution would say 2)
    assert(q.collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq ==
      Seq((1L, Some(3L)), (2L, None), (3L, None), (4L, Some(1L))))
  }

  test("RiJoinElimination: LEFT OUTER dropped-key substitution eliminates with parity when FK totality holds") {
    val (child, parent) = plantLeftOuter()
    val q = child.join(parent, col("fk") === col("pk"), "left").select("id", "pk")
    assert(optimized(q).collectFirst { case j: Join => j }.isEmpty,
      optimized(q).toString)
    assert(q.collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq ==
      Seq((1L, Some(3L)), (2L, Some(2L)), (3L, None), (4L, Some(1L))))
  }

  test("CollectSizeToCount: flatten rewrite returns 0, not NULL, for an all-null-arrays group") {
    def q: DataFrame = {
      import spark.implicits._
      Seq((1, Option(Seq(10, 20))), (1, Option.empty[Seq[Int]]),
          (2, Option.empty[Seq[Int]]), (2, Option.empty[Seq[Int]]))
        .toDF("g", "arr")
        .groupBy("g")
        .agg(size(flatten(collect_list(col("arr")))).as("n"))
        .orderBy("g")
    }
    assert(!hasCollect(q), optimized(q).toString)
    // group 2 collects nothing (collect_list skips nulls) → size 0; a bare
    // sum(size(arr)) rewrite would return NULL here.
    assert(q.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 2), (2, 0)))
    assertParity(q)
  }

  test("q_page_join: the registered paged-join query keeps the rule exercised (plan pin)") {
    // The oracle row that covers TopNThroughRiJoin forever: cursor pagination
    // over orders ⋈ customer must compute the page on the orders side FIRST.
    val q = graft.SparkEntry.queries("q_page_join")(spark, dir)
    assert(hasTopNBelowJoin(q), optimized(q).toString)
    assert(q.count() == 20)
  }

  test("catalog RELY derivation: hasOne derives nothing (no totality, no uniqueness)") {
    Tables.catalog(spark, dir)
    // supplier —hasOne→ nation: supplier must carry NO fk on s_nationkey
    // (hasOne is 0-or-1 — optional), nation must carry ONLY its slug
    // (n_nationkey) unique — nothing hasOne-derived on top.
    val supplierTag = Constraints.tagOf(Tables.load(spark, dir, "supplier")).get
    val nationTag   = Constraints.tagOf(Tables.load(spark, dir, "nation")).get
    assert(!Constraints.get(supplierTag).get.fks.exists(_.childCol == "s_nationkey"))
    assert(Constraints.get(nationTag).get.uniqueCols == Set("n_nationkey"))
    // belongsTo still derives totality: orders → customer.
    val ordersTag = Constraints.tagOf(Tables.load(spark, dir, "orders")).get
    assert(Constraints.get(ordersTag).get.fks
      .exists(f => f.childCol == "o_custkey" && f.parentCol == "c_custkey"))
    // The load-bearing case — a hasOne whose target FK is NOT the target's
    // slug must register NO uniqueness fact: hasOne only promises ≤1 match
    // per PARENT key; orphan target rows may duplicate the FK, and nulls
    // are allowed — neither satisfies uniqueCols' unique+non-null meaning.
    val s = spark
    import s.implicits._
    Seq((1L, "a")).toDF("pk", "pname")
      .write.mode("overwrite").parquet("/tmp/ri_hasone_parent")
    Seq((10L, 1L)).toDF("ck", "fk")
      .write.mode("overwrite").parquet("/tmp/ri_hasone_child")
    val pDf = s.read.parquet("/tmp/ri_hasone_parent")
    val cDf = s.read.parquet("/tmp/ri_hasone_child")
    Tables.registerRelyConstraints(Seq(
      graft.api.SourceDef("p", pDf, slugField = "pk",
        relations = Map("c" -> graft.api.HasOne("c", "c", "pk", "fk"))),
      graft.api.SourceDef("c", cDf, slugField = "ck")))
    val cTag = Constraints.tagOf(cDf).get
    assert(Constraints.get(cTag).get.uniqueCols == Set("ck"),
      "hasOne must not register the target FK ('fk') as unique+non-null")
  }

  test("RiJoinElimination: eliminated INNER join still drops null-FK rows") {
    val tmp = java.nio.file.Files.createTempDirectory("ri_elim").toString
    val s = spark
    import s.implicits._
    Seq((1L, "p1"), (2L, "p2")).toDF("pk", "pname")
      .write.mode("overwrite").parquet(s"$tmp/parent")
    Seq((1L, Some(1L)), (2L, None), (3L, Some(2L)))
      .map { case (id, fk) => (id, fk.map(java.lang.Long.valueOf).orNull) }
      .toDF("id", "fk").write.mode("overwrite").parquet(s"$tmp/child")
    val parent = s.read.parquet(s"$tmp/parent")
    val child  = s.read.parquet(s"$tmp/child")
    Constraints.register(Constraints.tagOf(child).get,
      Constraints.TableConstraints(Set.empty,
        Seq(Constraints.Fk("fk", Constraints.tagOf(parent).get, "pk"))))
    Constraints.register(Constraints.tagOf(parent).get,
      Constraints.TableConstraints(Set("pk"), Nil))
    val q = child.join(parent, col("fk") === col("pk")).select("id", "fk")
    assert(optimized(q).collectFirst { case j: Join => j }.isEmpty,
      optimized(q).toString)
    assert(q.collect().map(_.getLong(0)).toSeq.sorted == Seq(1L, 3L))
  }
}
