package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.api._
import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.operators.{Dedup, Multimodal, Similarity}

/** Regressions for the round-2 code-review findings. */
class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("exec with joins preserves the page's display order") {
    val herbs = Seq(
      ("a-herb", "Zeta", Seq("t1")), ("b-herb", "Alpha", Seq("t1")),
      ("c-herb", "Mid", Seq("t1")), ("d-herb", "Beta", Seq("t2"))
    ).toDF("slug", "name", "tagIds")
    val tagsDf = Seq(("t1", "one"), ("t2", "two")).toDF("tid", "tname")
    val cat = new Catalog(Seq(
      SourceDef("herbs", herbs, relations = Map(
        "tags" -> BelongsToMany("tags", "tags", "tagIds", "tid"))),
      SourceDef("tags", tagsDf, slugField = "tid")))
    val r = cat.from("herbs").orderBy("name", "desc").join("tags").pageSize(3).exec()
    assert(r.data.map(_.getAs[String]("name")) == Seq("Zeta", "Mid", "Beta"))
    assert(r.data.head.getAs[scala.collection.Seq[Row]]("tags").nonEmpty)
  }

  test("q_range_agg matches LEFT-JOIN null semantics: null-key purchases count 0, null-key views count nowhere") {
    // events-shaped parquet with nulls (ts stored as long nanos like the real
    // table); the window formulation must not group null users together
    val h = 3600L * 1000 * 1000 * 1000 // one hour in nanos
    val rows = Seq[(java.lang.Long, java.lang.Long, java.lang.Long, String)](
      (1L, 10L * h, 7L, "purchase"),       // normal: one view 30min before → 1
      (null, (10L * h) - (h / 2), 7L, "view"),
      (2L, 20L * h, null, "purchase"),     // null user: oracle LEFT JOIN → 0
      (null, (20L * h) - (h / 4), null, "view"), // null-user view: joins nothing
      (3L, null, 8L, "purchase"),          // null ts: → 0
      (null, 30L * h, 8L, "view"),
      (4L, 40L * h, 9L, "purchase"),       // no views in window → 0
      (null, (40L * h) - 2 * h, 9L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val dir = java.nio.file.Files.createTempDirectory("graft_rangeagg_nulls").toString
    rows.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_range_agg")(spark, dir)
      .collect().map(r => (Option(r.get(0)), r.getLong(1))).toSet
    assert(got == Set((Some(1L), 1L), (Some(2L), 0L), (Some(3L), 0L), (Some(4L), 0L)), s"got $got")
  }

  test("q_corpus_card keeps the NULL-lang group (null-safe join of the two aggregates)") {
    // lang is nullable; the countDistinct aggregate is joined back on lang,
    // and a plain equi-join would silently drop the NULL-lang group
    // (null != null) while the SQL twin's GROUP BY keeps it
    val rows = Seq[(Long, String, String, String, Long)](
      (1L, "hello world", "en", "s", 11L),
      (2L, "hello world", "en", "s", 11L),
      (3L, "bonjour", null, "s", 7L),
      (4L, "hallo welt", null, "s", 10L),
      (5L, "hallo welt", null, "s", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_card_nulllang").toString
    rows.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_corpus_card")(spark, dir).collect()
    assert(got.length == 2, got.mkString("; "))
    val nullRow = got.find(_.isNullAt(0))
    assert(nullRow.isDefined, "NULL-lang group dropped by the two-aggregate join")
    assert(nullRow.get.getLong(1) == 3L, s"n_docs: ${nullRow.get}")   // 3 null-lang docs
    assert(nullRow.get.getLong(5) == 2L, s"n_unique: ${nullRow.get}") // one exact dup
  }

  test("bruteForceTopK returns k rows PER query") {
    val vecs = (0L until 30L).map(i => (i, Seq.fill(4)((i % 7).toFloat + 1f))).toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 2).select($"vec_id".as("query_id"), $"embedding")
    val out = Similarity.bruteForceTopK(vecs, queries, k = 5)
    val counts = out.groupBy("query_id").count().collect().map(_.getLong(1)).toSeq
    assert(counts == Seq(5, 5))
  }

  test("desc pagination reaches rows with null order values after a cursor") {
    val df = Seq(("a", Some(3)), ("b", Some(1)), ("c", None), ("d", Some(2)), ("e", None))
      .toDF("slug", "rank")
    // display desc: a(3), d(2), b(1), then nulls last: c, e
    val p1 = Pagination.exec(df, "rank", "slug", descending = true, 3, None, After)
    assert(p1.data.map(_.getString(0)) == Seq("a", "d", "b"))
    val p2 = Pagination.exec(df, "rank", "slug", descending = true, 3,
      p1.pageInfo.endCursor.map(Cursor.decode), After)
    assert(p2.data.map(_.getString(0)) == Seq("e", "c"), "null-ranked rows must be reachable")
    // null boundary rows anchor null-marked cursors — the region is walkable
    assert(p2.pageInfo.endCursor.isDefined)
    assert(Cursor.decode(p2.pageInfo.endCursor.get).orderValue == null)
    assert(!p2.pageInfo.hasNextPage)
  }

  test("a null region larger than one page is fully walkable via null-marked cursors") {
    val rows = Seq(("a", Some(1)), ("b", Some(2))) ++
      (0 until 5).map(i => (s"n$i", Option.empty[Int]))
    val df = rows.toDF("slug", "rank")
    // display asc nulls last: a, b, n0..n4 — walk with pageSize 2
    var cursor: Option[Cursor] = None
    var walked = List.empty[String]
    var hasNext = true
    var guard = 0
    while (hasNext && guard < 10) {
      val p = Pagination.exec(df, "rank", "slug", descending = false, 2, cursor, After)
      walked ++= p.data.map(_.getString(0))
      hasNext = p.pageInfo.hasNextPage
      cursor = p.pageInfo.endCursor.map(Cursor.decode)
      guard += 1
    }
    assert(walked == List("a", "b", "n0", "n1", "n2", "n3", "n4"),
      s"null tail must be fully reachable, walked $walked")
  }

  test("orderBy a raw array column resolves to its first element, cursors round-trip") {
    val df = Seq(("s1", Seq("b", "z")), ("s2", Seq("a", "z")), ("s3", Seq("c")))
      .toDF("slug", "tags")
    val cat = new Catalog(Seq(SourceDef("t", df)))
    val p1 = cat.from("t").orderBy("tags").pageSize(2).exec()
    assert(p1.data.map(_.getAs[String]("slug")) == Seq("s2", "s1"))
    val p2 = cat.from("t").orderBy("tags").pageSize(2)
      .cursor(p1.pageInfo.endCursor.get).exec()
    assert(p2.data.map(_.getAs[String]("slug")) == Seq("s3"))
  }

  test("nested-path order keys emit cursors with the user-facing key name") {
    val df = Seq(("s1", ("x", 2)), ("s2", ("y", 1))).toDF("slug", "meta")
      .withColumn("meta", col("meta").cast("struct<kind:string,rank:int>"))
    val cat = new Catalog(Seq(SourceDef("t", df)))
    val p = cat.from("t").orderBy("meta.kind").pageSize(1).exec()
    val c = Cursor.decode(p.pageInfo.endCursor.get)
    assert(c.orderKey == "meta.kind", s"leaked internal name: ${c.orderKey}")
  }

  test("orderBy on an indexed dot-path passes the index guard") {
    val df = Seq(("s1", ("x", 2))).toDF("slug", "meta")
      .withColumn("meta", col("meta").cast("struct<kind:string,rank:int>"))
    val cat = new Catalog(Seq(
      SourceDef("t", df, indexedFields = Some(Set("meta.kind")))))
    assert(cat.from("t").orderBy("meta.kind").exec().data.nonEmpty)
  }

  test("HOF and native MinHash band hashes are bit-identical") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog tonight")).toDF("doc_id", "text")
    val native = Dedup.minhashed(docs).select("band_hashes").head()
      .getAs[scala.collection.Seq[Long]](0).toSeq
    val hof = docs.select(
      H.bandHashes(H.minhashSignature(H.shingleHashes(T.tokens($"text"))), 8).as("bh"))
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    assert(native == hof, "index built with one path must be probe-able with the other")
    // empty, all-whitespace and control-character-edged texts: MinHash
    // state and ShingleSet against the column twins
    val edge = Seq("", "   ", "\t\r\n", "\u0000the fox\u001c", "\u001fa\u00a0b\u3000 c \u0000").toDF("text")
    val rows = edge.select(
      graft.plans.TextExpressions.minhashState($"text").as("st"),
      H.shingleHashes(T.tokens($"text")).as("sh"),
      H.bandHashes(H.minhashSignature(H.shingleHashes(T.tokens($"text"))), 8).as("bh"),
      graft.plans.TextExpressions.shingleSet($"text").as("set"),
      array_distinct(H.shingles(T.tokens($"text"))).as("set2")).collect()
    rows.foreach { r =>
      val st = r.getStruct(0)
      assert(st.getSeq[Long](0) == r.getSeq[Long](1), s"shingle hashes: $r")
      assert(st.getSeq[Long](2) == r.getSeq[Long](2), s"band hashes: $r")
      assert(r.getSeq[String](3) == r.getSeq[String](4), s"shingle set: $r")
    }
  }

  test("array-key nested relation preserves duplicate base rows") {
    val base = Seq(("p1", Seq("t1")), ("p1", Seq("t1")), ("p2", Seq.empty[String]))
      .toDF("slug", "tagIds")
    val tagsDf = Seq(("t1", "one")).toDF("tid", "tname")
    val out = Relations.nested(base, BelongsToMany("tags", "tags", "tagIds", "tid"), tagsDf)
    assert(out.count() == 3, "duplicate base rows must survive the regroup")
  }

  test("ascending pagination pins nulls LAST and stays walkable past page one") {
    val df = Seq(("a", None), ("b", Some(1)), ("c", None), ("d", Some(2)), ("e", Some(3)))
      .toDF("slug", "rank")
    // display asc with nulls last: b(1), d(2), e(3), a(null), c(null)
    val p1 = Pagination.exec(df, "rank", "slug", descending = false, 2, None, After)
    assert(p1.data.map(_.getString(0)) == Seq("b", "d"))
    assert(p1.pageInfo.endCursor.isDefined, "non-null first page must emit cursors")
    val p2 = Pagination.exec(df, "rank", "slug", descending = false, 2,
      p1.pageInfo.endCursor.map(Cursor.decode), After)
    assert(p2.data.map(_.getString(0)) == Seq("e", "a"))
    val eCursor = Cursor.decode(Cursor.encode(Cursor("rank", "3", "e")))
    val p3 = Pagination.exec(df, "rank", "slug", descending = false, 2, Some(eCursor), After)
    assert(p3.data.map(_.getString(0)) == Seq("a", "c"), "null region reachable ascending too")
  }

  test("empty IN filter matches nothing instead of crashing") {
    val df = Seq(("s1", "x")).toDF("slug", "v")
    val cat = new Catalog(Seq(SourceDef("t", df)))
    assert(cat.from("t").where("v", In, Seq.empty[String]).exec().data.isEmpty)
  }

  test("peek with default slug ordering yields a single slug column") {
    val df = Seq(("s1", "x"), ("s2", "y")).toDF("slug", "v")
    val cat = new Catalog(Seq(SourceDef("t", df)))
    val p = cat.from("t").peek()
    assert(p.columns.toSeq == Seq("slug"))
    assert(p.select("slug").collect().map(_.getString(0)).toSeq == Seq("s1", "s2"))
  }

  test("orderBy a non-indexed simple column throws like filters do") {
    val df = Seq(("s1", "x", "b")).toDF("slug", "title", "body")
    val cat = new Catalog(Seq(SourceDef("t", df, indexedFields = Some(Set("title")))))
    cat.from("t").orderBy("title").exec() // indexed: fine
    val e = intercept[IllegalArgumentException](cat.from("t").orderBy("body").exec())
    assert(e.getMessage.contains("needs index"))
  }

  test("cosine of a zero vector is 0.0, never NaN-ranked first") {
    val vecs = (Seq((0L, Seq(1f, 2f, 3f, 4f)), (1L, Seq(1f, 2f, 3f, 4.1f)),
      (99L, Seq(0f, 0f, 0f, 0f)))).toDF("vec_id", "embedding")
    val top = Similarity.topKForId(vecs, 0L, 2).collect()
    assert(top.head.getAs[Long]("vec_id") == 1L, "zero vector must not outrank real neighbors")
    assert(top.forall(r => !r.getAs[Double]("score").isNaN))
  }

  test("saltedJoin with identical key names dedupes the join key column") {
    val a = Seq((1L, "pa")).toDF("k", "payload")
    val b = Seq((1L, "nb")).toDF("k", "name")
    val out = graft.operators.Skew.saltedJoin(a, b, "k", "k")
    assert(out.columns.count(_ == "k") == 1)
    assert(out.select("k", "payload", "name").head() == Row(1L, "pa", "nb"))
  }

  test("late in-gap event never moves a streaming session backward") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.{ClosedSession, Event}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[Event]
    val q = EventStreams.streamingSessions(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("late_sessions").outputMode("append").start()
    try {
      mem.addData(Event(ts("2026-01-01 10:00:00"), 1L))
      q.processAllAvailable()
      mem.addData(Event(ts("2026-01-01 09:50:00"), 1L)) // late but in-gap
      q.processAllAvailable()
      mem.addData(Event(ts("2026-01-01 12:00:00"), 1L)) // gap → closes session
      q.processAllAvailable()
      val closed = spark.table("late_sessions").as[ClosedSession].collect().toSeq
      assert(closed.map(c => (c.user_id, c.nEvents)) == Seq((1L, 2L)))
      assert(closed.head.endMs == ts("2026-01-01 10:00:00").getTime,
        "session end must not regress to the late event")
      assert(closed.head.startMs == ts("2026-01-01 09:50:00").getTime)
    } finally q.stop()
  }

  test("cursor minted under a different orderBy is rejected, not ANSI-cast") {
    val df = Seq(("s1", "n1", 1.5)).toDF("slug", "name", "bal")
    val cat = new Catalog(Seq(SourceDef("t", df)))
    val c = cat.from("t").orderBy("name").pageSize(1).exec().pageInfo.endCursor.get
    val e = intercept[IllegalArgumentException](
      cat.from("t").orderBy("bal").cursor(c).exec())
    assert(e.getMessage.contains("Invalid cursor"))
  }

  test("exec without joins strips the synthetic order column (nested order key)") {
    val df = Seq(("s1", ("x", 1))).toDF("slug", "meta")
      .withColumn("meta", col("meta").cast("struct<kind:string,rank:int>"))
    val cat = new Catalog(Seq(SourceDef("t", df)))
    val row = cat.from("t").orderBy("meta.kind").exec().data.head
    assert(row.length == 2, s"unexpected internal columns in $row")
  }

  test("nested order key with a null leaf sorts nulls-last instead of crashing (ANSI)") {
    val df = Seq(("s1", Some(("x", 1))), ("s2", None)).toDF("slug", "meta")
      .withColumn("meta", col("meta").cast("struct<kind:string,rank:int>"))
    val out = new Catalog(Seq(SourceDef("t", df)))
      .from("t").orderBy("meta.kind").exec()
    assert(out.data.map(_.getString(0)) == Seq("s1", "s2"))
  }

  test("incremental index update swaps partitions whose prefix needs Hive escaping") {
    import graft.operators.Indexing, Indexing.DiffEntry
    val herbs = Seq((":colon-slug", ":Weird"), ("plain", "Plain")).toDF("slug", "name")
    val path = java.nio.file.Files.createTempDirectory("graft-esc").toString + "/idx"
    Indexing.writeIndex(herbs, "slug", Seq("name"), path)
    Indexing.updateIndex(spark, path, Seq(
      DiffEntry("M", ":colon-slug", Map("name" -> Seq(":Weirder")))))
    val vals = Indexing.readIndex(spark, path).select("value")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(vals == Seq(":Weirder", "Plain"), s"got $vals")
  }

  test("slugFromPath ignores dots in parent directories") {
    import graft.sources.StaticSources
    assert(StaticSources.slugFromPath("docs/**", "/x/docs/archive.old/readme") ==
      "archive.old--readme")
  }

  test("explicit sparkSchema skips inference and types columns as declared") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft-schema")
    java.nio.file.Files.writeString(dir.resolve("a.json"), """{"slug":"a","n":7}""")
    val s = StructType(Seq(StructField("slug", StringType), StructField("n", DoubleType)))
    val df = graft.sources.StaticSources.load(spark, s"$dir/a.json", "json", sparkSchema = Some(s))
    assert(df.schema == s)
    assert(df.head().getDouble(1) == 7.0)
  }

  test("MinHash parity holds for non-default k; invalid band split rejected") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val native = Dedup.minhashed(docs, k = 64, bands = 8).select("band_hashes").head()
      .getAs[scala.collection.Seq[Long]](0).toSeq
    val hof = docs.select(
      H.bandHashes(H.minhashSignature(H.shingleHashes(T.tokens($"text")), k = 64), 8))
      .head().getAs[scala.collection.Seq[Long]](0).toSeq
    assert(native == hof)
    intercept[IllegalArgumentException](
      graft.plans.MinHashState(null, k = 30, w = 3, bands = 8, seed = 42L))
  }

  test("unparseable lookup values match nothing instead of ANSI-crashing") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val cat = new Catalog(Seq(SourceDef("t", df, slugField = "id")))
    assert(cat.from("t").find("not-a-number").count() == 0)
    assert(cat.from("t").where("id", Eq, "garbage").exec().data.isEmpty)
    assert(cat.from("t").where("id", In, Seq("x", "y")).exec().data.isEmpty)
    // tampered cursor value with the right key: empty page, no crash
    val bad = Cursor.encode(Cursor("id", "zzz", "1"))
    assert(cat.from("t").orderBy("id").cursor(bad).exec().data.isEmpty)
  }

  test("MiniYaml survives numbers wider than Long and renders big doubles safely") {
    import graft.sources.MiniYaml
    assert(MiniYaml.parse("id: 99999999999999999999") ==
      Map("id" -> "99999999999999999999"))
    assert(MiniYaml.toJson(Map("x" -> 1.0e20)) == """{"x":1.0E20}""")
    assert(MiniYaml.toJson(Map("x" -> 3L)) == """{"x":3}""")
  }

  test("straggler older than the gap becomes its own closed session") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.{ClosedSession, Event}
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[Event]
    val q = EventStreams.streamingSessions(mem.toDS(), gapMinutes = 30, watermark = "6 hours")
      .writeStream.format("memory").queryName("straggler_sessions").outputMode("append").start()
    try {
      mem.addData(Event(ts("2026-01-01 10:00:00"), 1L))
      q.processAllAvailable()
      mem.addData(Event(ts("2026-01-01 08:00:00"), 1L)) // 2h older than session start
      q.processAllAvailable()
      val closed = spark.table("straggler_sessions").as[ClosedSession].collect().toSeq
      assert(closed.map(c => (c.startMs, c.nEvents)) ==
        Seq((ts("2026-01-01 08:00:00").getTime, 1L)),
        s"straggler must close alone, got $closed")
    } finally q.stop()
  }

  test("repartitionByBytes on an empty frame is a no-op, not an NPE") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Multimodal.assetSchema)
    assert(Multimodal.repartitionByBytes(empty).count() == 0)
  }

  test("rollup grouping() marker keeps a NULL data value distinct from the subtotal row") {
    // round-6 review: coalescing the grouping-set null to '(all)' conflated
    // a genuine NULL group with the subtotal — same sort key, two rows,
    // engine-dependent order. grouping() disambiguates (q_agg_rollup shape).
    val df = Seq(("F", Some("O"), 1.0), ("F", None, 2.0), ("N", Some("F"), 3.0))
      .toDF("rf", "ls", "qty")
      .rollup("rf", "ls")
      .agg(sum(col("qty")).as("s"), grouping(col("rf")).as("g1"), grouping(col("ls")).as("g2"))
      .select(
        when(col("g1") === 1, lit("(all)")).otherwise(coalesce(col("rf"), lit("(null)"))).as("rf"),
        when(col("g2") === 1, lit("(all)")).otherwise(coalesce(col("ls"), lit("(null)"))).as("ls"),
        col("s"))
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows.contains(("F", "(null)", 2.0)))  // the real NULL group
    assert(rows.contains(("F", "(all)", 3.0)))   // the subtotal over F
    assert(rows.contains(("(all)", "(all)", 6.0)))
  }

  test("embed-centroid dense-vector guard drops rows with NULL elements on both sides' semantics") {
    // round-6 review: Spark aggregate() null-poisons a sum over a NULL
    // element while DuckDB list_aggregate skips it — the query filters such
    // rows explicitly so the engines can't diverge.
    val df = Seq(
      (0, Seq[java.lang.Double](1.0, 2.0)),
      (0, Seq[java.lang.Double](1.0, null))
    ).toDF("label", "embedding")
      .filter(forall(col("embedding"), x => x.isNotNull))
      .select(col("label"),
        aggregate(col("embedding").cast("array<double>"), lit(0.0), (a, x) => a + x).as("s"))
    assert(df.collect().map(_.getDouble(1)).toSeq == Seq(3.0))
  }
}
