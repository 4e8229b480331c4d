package graft.api

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `exec()` resolves relations against its collected page
  * ([[Relations.nestedPage]]); `execDf()` joins lazily ([[Relations.nested]]).
  * Both must return the same page: same rows in the same order, same schema,
  * same related rows. Arrays compare exactly where `nested` fixes their order
  * (scalar direct keys: `sort_array`) and as multisets where it leaves it open
  * (multi-valued local keys and through relations regroup after a shuffle).
  */
class ExecJoinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val regions = Seq((10, "ASIA"), (20, "EUROPE"), (30, "EMPTY")).toDF("rkey", "rname")
  // nation 1 listed twice: region 10 reaches it by two through rows, one path
  private lazy val nations =
    Seq((1, "JP", 10), (1, "JP", 10), (2, "FR", 20), (3, "DE", 20)).toDF("nkey", "nname", "rkey")
  private lazy val custs = Seq[(Long, String, Option[Int], Double)](
    (100L, "alice", Some(1), 5.0), (101L, "bob", Some(1), 2.0), (102L, "carol", Some(2), 9.0),
    (103L, "dave", Some(99), 1.0), (104L, "erin", None, 7.0), (105L, "frank", Some(3), 3.0)
  ).toDF("ckey", "cname", "nkey", "acct")
  // listed out of key order: only sort_array puts alice's orders in order
  private lazy val orders = Seq(
    (1001, 100L, 1.5), (1000, 100L, 3.5), (1003, 102L, 2.0), (1002, 102L, 2.0), (1004, 105L, 8.0)
  ).toDF("okey", "ckey", "price")

  private lazy val herbs = Seq(
    ("arctium-lappa", "Burdock", Seq("root", "edible")),
    ("centella-asiatica", "Gotu Kola", Seq("leaf")),
    ("cymbopogon-citratus", "Lemongrass", Seq("leaf", "edible")),
    ("zingiber", "Ginger", Seq.empty[String])
  ).toDF("slug", "name", "tagSlugs")
  private lazy val groups = Seq(
    ("g1", "infusion", Seq(("arctium-lappa", "dry"))),
    ("g2", "infusion", Seq(("centella-asiatica", "dry"), ("cymbopogon-citratus", "fresh"))),
    ("g3", "decoction", Seq(("arctium-lappa", "fresh"), ("arctium-lappa", "dry")))
  ).toDF("slug", "processSlug", "combined")
    .withColumn("combinedHerbs", transform(col("combined"),
      x => struct(x.getField("_1").as("slug"), x.getField("_2").as("state"))))
    .drop("combined")
  private lazy val recipes = Seq(
    ("recipe-1", "Calming Tea", Seq("centella-asiatica", "cymbopogon-citratus"), "g2"),
    ("recipe-2", "Root Broth", Seq("arctium-lappa", "arctium-lappa"), "g1"),
    ("recipe-3", "Bitter Brew", Seq("arctium-lappa", "nope"), "g3"),
    ("recipe-4", "Plain Water", null, "g9")
  ).toDF("slug", "name", "herbSlugs", "groupSlug")
  private lazy val processes =
    Seq(("infusion", "Infusion"), ("decoction", "Decoction")).toDF("slug", "name")

  private lazy val catalog = new Catalog(Seq(
    SourceDef("region", regions, slugField = "rkey", relations = Map(
      "customers" -> HasManyThrough("customers", "customer", "nation", "rkey", "rkey", "nkey", "nkey"))),
    SourceDef("nation", nations, slugField = "nkey"),
    SourceDef("customer", custs, slugField = "ckey", relations = Map(
      "nation" -> HasOne("nation", "nation", "nkey", "nkey"),
      "orders" -> HasMany("orders", "orders", "ckey", "ckey"),
      "region" -> HasOneThrough("region", "region", "nation", "nkey", "nkey", "rkey", "rkey"))),
    SourceDef("orders", orders, slugField = "okey", relations = Map(
      "customer" -> BelongsTo("customer", "customer", "ckey", "ckey"))),
    SourceDef("herbs", herbs, relations = Map(
      "recipes" -> BelongsToMany("recipes", "recipes", "slug", "herbSlugs"),
      "groups" -> BelongsToMany("groups", "groups", "slug", "combinedHerbs.slug"))),
    SourceDef("groups", groups, relations = Map(
      "herbs" -> BelongsToMany("herbs", "herbs", "combinedHerbs.slug", "slug"))),
    SourceDef("recipes", recipes, relations = Map(
      "herbs" -> BelongsToMany("herbs", "herbs", "herbSlugs", "slug"),
      "process" -> HasOneThrough("process", "processes", "groups",
        "groupSlug", "slug", "processSlug", "slug"),
      "herbsByGroup" -> HasManyThrough("herbsByGroup", "herbs", "groups",
        "groupSlug", "slug", "combinedHerbs.slug", "slug"))),
    SourceDef("processes", processes)
  ))

  /** A cell as plain values; arrays sorted when `multiset`. */
  private def norm(v: Any, multiset: Boolean): Any = v match {
    case r: Row => r.toSeq.map(norm(_, multiset))
    case s: scala.collection.Seq[_] =>
      val xs = s.map(norm(_, multiset)).toList
      if (multiset) xs.sortBy(_.toString) else xs
    case other => other
  }

  /** exec() and execDf() agree; returns exec()'s rows. */
  private def same(q: => QueryBuilder, multiset: Boolean = false): Seq[Row] = {
    val got = q.exec().data
    val want = q.execDf()
    val wantRows = want.collect().toSeq
    assert(got.map(norm(_, multiset)) == wantRows.map(norm(_, multiset)))
    got.foreach(r => assert(r.schema == want.schema))
    got
  }

  private def column(rows: Seq[Row], f: String): Seq[Any] = rows.map(r => r.get(r.fieldIndex(f)))
  private def rel(r: Row, name: String): Seq[Row] =
    r.getAs[scala.collection.Seq[Row]](name).toSeq

  test("hasOne: a struct, null when unmatched or the local key is null") {
    val rows = same(catalog.from("customer").join("nation"))
    assert(column(rows, "ckey") == Seq(100L, 101L, 102L, 103L, 104L, 105L))
    assert(rows.head.getAs[Row]("nation").getAs[String]("nname") == "JP")
    assert(rows(3).getAs[Row]("nation") == null) // nation 99 does not exist
    assert(rows(4).getAs[Row]("nation") == null) // null local key
  }

  test("hasMany: sorted related rows, [] with no children") {
    val rows = same(catalog.from("customer").join("orders"))
    assert(rel(rows.head, "orders").map(_.getAs[Int]("okey")) == Seq(1000, 1001)) // sort_array order
    assert(rel(rows(1), "orders").isEmpty)
    assert(rel(rows(4), "orders").isEmpty)
  }

  test("belongsTo, desc order") {
    val rows = same(catalog.from("orders").orderBy("price", "desc").join("customer"))
    assert(column(rows, "okey") == Seq(1004, 1000, 1003, 1002, 1001))
    assert(rel(rows.head, "customer").map(_.getAs[String]("cname")) == Seq("frank"))
  }

  test("belongsToMany: array local key (duplicates, unknown values, null array)") {
    val rows = same(catalog.from("recipes").join("herbs"), multiset = true)
    assert(rel(rows(1), "herbs").map(_.getAs[String]("slug")) == Seq("arctium-lappa"))
    assert(rel(rows(2), "herbs").map(_.getAs[String]("slug")) == Seq("arctium-lappa"))
    assert(rel(rows(3), "herbs").isEmpty)
  }

  test("belongsToMany: array foreign key") {
    val rows = same(catalog.from("herbs").join("recipes"), multiset = true)
    // recipe-2 lists the herb twice, so it nests twice (the reference's
    // buildForeignKeyMap keys a row once per key value)
    assert(rel(rows.head, "recipes").map(_.getAs[String]("slug")).sorted ==
      Seq("recipe-2", "recipe-2", "recipe-3"))
    assert(rel(rows(3), "recipes").isEmpty)
  }

  test("dot-path keys over arrays of structs, local and foreign") {
    val local = same(catalog.from("groups").join("herbs"), multiset = true)
    assert(rel(local(1), "herbs").map(_.getAs[String]("slug")).sorted ==
      Seq("centella-asiatica", "cymbopogon-citratus"))
    val foreign = same(catalog.from("herbs").join("groups"), multiset = true)
    assert(rel(foreign.head, "groups").map(_.getAs[String]("slug")).sorted == Seq("g1", "g3", "g3"))
  }

  test("hasOneThrough and hasManyThrough, deduped by (source, target) key pair") {
    val one = same(catalog.from("recipes").join("process"))
    assert(one.map(r => Option(r.getAs[Row]("process")).map(_.getAs[String]("name"))) ==
      Seq(Some("Infusion"), Some("Infusion"), Some("Decoction"), None))
    val region = same(catalog.from("customer").join("region"))
    assert(region.map(r => Option(r.getAs[Row]("region")).map(_.getAs[String]("rname"))) ==
      Seq(Some("ASIA"), Some("ASIA"), Some("EUROPE"), None, None, Some("EUROPE")))
    val many = same(catalog.from("region").join("customers"), multiset = true)
    assert(rel(many.head, "customers").map(_.getAs[String]("cname")).sorted == Seq("alice", "bob"))
    assert(rel(many(2), "customers").isEmpty)
    val viaPath = same(catalog.from("recipes").join("herbsByGroup"), multiset = true)
    assert(rel(viaPath(2), "herbsByGroup").map(_.getAs[String]("slug")) == Seq("arctium-lappa"))
  }

  test("chained joins, an empty page and a before-cursor page") {
    val chained = same(catalog.from("customer").join("nation").join("orders").orderBy("acct"))
    assert(chained.head.schema.fieldNames.takeRight(2).toSeq == Seq("nation", "orders"))
    assert(same(catalog.from("customer").where("cname", Eq, "nobody").join("orders")).isEmpty)
    def q = catalog.from("customer").orderBy("acct").pageSize(2).join("orders")
    val p1 = q.exec()
    val p2 = q.cursor(p1.pageInfo.endCursor.get).exec()
    val back = same(q.cursor(p2.pageInfo.startCursor.get, "before"))
    assert(back.map(norm(_, multiset = false)) == p1.data.map(norm(_, multiset = false)))
  }

  test("custom-index and dot-path order keys: no internal column surfaces") {
    val custom = new Catalog(Seq(
      SourceDef("herbs", herbs.withColumn("__graft_custom_nameRev", reverse(col("name"))),
        customIndexFields = Set("nameRev"), relations = Map(
          "groups" -> BelongsToMany("groups", "groups", "slug", "combinedHerbs.slug"))),
      SourceDef("groups", groups.withColumn("__graft_custom_p", upper(col("processSlug"))),
        customIndexFields = Set("p"), relations = Map(
          "herbs" -> BelongsToMany("herbs", "herbs", "combinedHerbs.slug", "slug")))))
    def internal(r: Row): Seq[String] = r.schema.fieldNames.toSeq ++
      r.schema.fields.toSeq.flatMap(_.dataType match {
        case org.apache.spark.sql.types.ArrayType(st: org.apache.spark.sql.types.StructType, _) =>
          st.fieldNames.toSeq
        case _ => Nil
      })
    val byCustom = same(custom.from("herbs").orderBy("nameRev").join("groups"), multiset = true)
    assert(column(byCustom, "slug").head == "centella-asiatica") // "aloK utoG" sorts first
    val byPath = same(custom.from("groups").orderBy("combinedHerbs.state").join("herbs"),
      multiset = true)
    for (r <- byCustom ++ byPath) assert(!internal(r).exists(_.startsWith("__graft_")), internal(r))
  }
}
