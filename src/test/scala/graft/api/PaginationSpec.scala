package graft.api

import graft.SparkSpec

class PaginationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    ("a", 3), ("b", 1), ("c", 2), ("d", 1), ("e", 5), ("f", 4), ("g", 2)
  ).toDF("slug", "rank")

  test("cursor encode/decode round-trips, including escapes") {
    val c = Cursor("name", "va\"l\\ue\n", "sl–ug")
    assert(Cursor.decode(Cursor.encode(c)) == c)
  }

  test("invalid cursor raises the reference's error") {
    val e = intercept[IllegalArgumentException](Cursor.decode("@@@not base64@@@"))
    assert(e.getMessage == "Invalid cursor")
  }

  test("cursor whose order is not an object is invalid, not a ClassCastException") {
    val json = """{"order":"c_name","slug":"1"}"""
    val bad = java.util.Base64.getEncoder.encodeToString(json.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Cursor.decode(bad))
    assert(e.getMessage == "Invalid cursor")
  }

  test("unicode cursor roundtrip (reference pagenation.test.ts)") {
    val c = Cursor("name", "あいう", "ゴボウの育て方")
    assert(Cursor.decode(Cursor.encode(c)) == c)
  }

  test("empty cursor string is invalid (reference pagenation.test.ts)") {
    val e = intercept[IllegalArgumentException](Cursor.decode(""))
    assert(e.getMessage == "Invalid cursor")
  }

  test("forward pagination walks the whole set in order without overlap") {
    // display order (rank asc, slug asc): b,d,c,g,a,f,e
    val p1 = Pagination.exec(df, "rank", "slug", descending = false, 3, None, After)
    assert(p1.data.map(_.getString(0)) == Seq("b", "d", "c"))
    assert(p1.pageInfo.hasNextPage && !p1.pageInfo.hasPreviousPage)

    val p2 = Pagination.exec(df, "rank", "slug", descending = false, 3,
      p1.pageInfo.endCursor.map(Cursor.decode), After)
    assert(p2.data.map(_.getString(0)) == Seq("g", "a", "f"))
    assert(p2.pageInfo.hasNextPage && p2.pageInfo.hasPreviousPage)

    val p3 = Pagination.exec(df, "rank", "slug", descending = false, 3,
      p2.pageInfo.endCursor.map(Cursor.decode), After)
    assert(p3.data.map(_.getString(0)) == Seq("e"))
    assert(!p3.pageInfo.hasNextPage && p3.pageInfo.hasPreviousPage)
  }

  test("backward pagination returns the previous page in display order") {
    val p1 = Pagination.exec(df, "rank", "slug", descending = false, 3, None, After)
    val p2 = Pagination.exec(df, "rank", "slug", descending = false, 3,
      p1.pageInfo.endCursor.map(Cursor.decode), After)
    // going back from p2's start cursor must reproduce p1 exactly
    val back = Pagination.exec(df, "rank", "slug", descending = false, 3,
      p2.pageInfo.startCursor.map(Cursor.decode), Before)
    assert(back.data.map(_.getString(0)) == Seq("b", "d", "c"))
    assert(back.pageInfo.hasNextPage) // there is a page after (we came from it)
    assert(!back.pageInfo.hasPreviousPage)
  }

  test("descending order with cursor") {
    // display order desc: e,f,a,g,c,d,b
    val p1 = Pagination.exec(df, "rank", "slug", descending = true, 2, None, After)
    assert(p1.data.map(_.getString(0)) == Seq("e", "f"))
    val p2 = Pagination.exec(df, "rank", "slug", descending = true, 2,
      p1.pageInfo.endCursor.map(Cursor.decode), After)
    assert(p2.data.map(_.getString(0)) == Seq("a", "g"))
  }

  test("cursor value absent from the data still positions correctly") {
    val cur = Some(Cursor("rank", "2", "cz")) // between c ("2","c") and g ("2","g")
    val p = Pagination.exec(df, "rank", "slug", descending = false, 2, cur, After)
    assert(p.data.map(_.getString(0)) == Seq("g", "a"))
  }
}
