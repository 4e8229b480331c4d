package graft.api

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets
import java.time.Instant

import org.apache.spark.sql.Row

import scala.collection.immutable.ListMap

/** SSG/SSR build-time extraction — the reference's `staticQuery` contract
  * (reference: src/ssg.ts:25-56): run a query at build time and emit its
  * result as static JSON `{data, pageInfo, generatedAt}` that clients fetch
  * directly, no engine at serve time.
  *
  * [[staticQuery]] is the one-page equivalent (reference signature takes one
  * query execution); [[writeAllPages]] is the natural Spark-side extension a
  * static site build actually runs — walk the cursor chain and materialize
  * every page as `<name>-NNNN.json`, each page self-describing (its pageInfo
  * carries the cursors linking it to its neighbors). Keyset pagination keeps
  * memory per page O(page), so a build over a 100 TB source streams pages
  * without ever materializing the full result; each page is still one
  * top-K scan of the filtered source.
  */
object Ssg {

  /** The reference's `StaticQueryResult<T>` as a JSON string:
    * `{"data": [...], "pageInfo": {...}, "generatedAt": "<ISO-8601>"}`.
    * `generatedAt` is injectable for reproducible builds/tests; the default
    * matches `new Date().toISOString()` semantics (UTC instant).
    */
  def staticQuery(result: PageResult, generatedAt: Instant = Instant.now()): String =
    graft.sources.MiniYaml.toJson(ListMap(
      "data"        -> result.data.map(toPlain),
      "pageInfo"    -> pageInfoMap(result.pageInfo),
      "generatedAt" -> generatedAt.toString))

  /** Write one page's [[staticQuery]] JSON to `file`. */
  def write(result: PageResult, file: Path, generatedAt: Instant = Instant.now()): Path = {
    Files.createDirectories(file.toAbsolutePath.getParent)
    Files.write(file, staticQuery(result, generatedAt).getBytes(StandardCharsets.UTF_8))
  }

  /** Materialize EVERY page of `query` under `outDir` as
    * `<baseName>-000001.json`, `<baseName>-000002.json`, … following
    * `endCursor` until `hasNextPage` is false. Returns the written paths in
    * page order (the fixed six-digit padding keeps lexicographic file order
    * equal to page order for every page count `maxPages` allows).
    *
    * The caller's builder is copied, never mutated — rerunning the same
    * builder regenerates the full site, not a resume from a stale cursor.
    * Each page is an independent keyset query whose result is one page, so
    * the build's memory is one page regardless of source size (each query
    * still scans the filtered source once). Exceeding `maxPages` (a runaway
    * guard, not a sampling knob) throws rather than silently shipping a
    * truncated site.
    */
  def writeAllPages(query: QueryBuilder, outDir: String, baseName: String,
                    generatedAt: Instant = Instant.now(),
                    maxPages: Int = 999999): Seq[Path] = {
    val q = query.copyBuilder()
    val written = Seq.newBuilder[Path]
    var page = q.exec()
    var n = 1
    var continue = true
    while (continue) {
      written += write(page, Paths.get(outDir, f"$baseName-$n%06d.json"), generatedAt)
      continue = page.pageInfo.hasNextPage
      if (continue) {
        if (n >= maxPages)
          throw new IllegalStateException(
            s"writeAllPages passed maxPages=$maxPages with hasNextPage still true — " +
              "raise maxPages or narrow the query; refusing to ship a silently truncated site")
        page = q.cursor(page.pageInfo.endCursor.getOrElse(
          throw new IllegalStateException("hasNextPage with no endCursor"))).exec()
        n += 1
      }
    }
    written.result()
  }

  private def pageInfoMap(p: PageInfo): ListMap[String, Any] = ListMap(
    "hasNextPage"     -> p.hasNextPage,
    "hasPreviousPage" -> p.hasPreviousPage,
    "startCursor"     -> p.startCursor.orNull,
    "endCursor"       -> p.endCursor.orNull)

  /** Spark values → JSON-serializable plain values, preserving field order
    * (struct fields render in schema order, like the reference's record JSON).
    */
  private[api] def toPlain(v: Any): Any = v match {
    case null                     => null
    case r: Row                   =>
      ListMap(r.schema.fields.zipWithIndex.map { case (f, i) => f.name -> toPlain(r.get(i)) }: _*)
    case m: scala.collection.Map[_, _] =>
      ListMap(m.toSeq.map { case (k, x) => String.valueOf(k) -> toPlain(x) }
        .sortBy(_._1): _*) // map keys have no inherent order — sort for stable output
    case s: scala.collection.Seq[_] => s.map(toPlain).toSeq
    case a: Array[Byte]           => java.util.Base64.getEncoder.encodeToString(a)
    case a: Array[_]              => a.toSeq.map(toPlain)
    case ts: java.sql.Timestamp   => ts.toInstant.toString
    case d: java.sql.Date         => d.toString
    case f: Float                 => f.toDouble
    case b: Byte                  => b.toInt
    case s: Short                 => s.toInt
    // decimals render as JSON numbers: exact Long when they fit, else double
    case bd: java.math.BigDecimal =>
      scala.util.Try(bd.longValueExact()).getOrElse(bd.doubleValue): Any
    case other => other
  }
}
