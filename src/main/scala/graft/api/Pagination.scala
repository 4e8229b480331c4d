package graft.api

import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Page metadata, mirroring the reference's `PageInfo`
  * (reference: src/utils/pagenation.ts:1-6).
  */
final case class PageInfo(
    hasNextPage: Boolean,
    hasPreviousPage: Boolean,
    startCursor: Option[String],
    endCursor: Option[String]
)

/** A decoded pagination cursor: the order-key value and the unique slug of the
  * boundary row. Encoded form is base64(JSON {"order":{key:value},"slug":slug}),
  * wire-compatible with the reference (reference: src/utils/pagenation.ts:84,98).
  *
  * `orderValue == null` marks a boundary row inside the null-order-value
  * region (JSON `null`, distinct from the string "null"): pagination there
  * continues on the slug alone, so a null region larger than one page stays
  * fully walkable.
  */
final case class Cursor(orderKey: String, orderValue: String, slug: String)

object Cursor {
  def encode(c: Cursor): String = {
    // shared JSON escaper (MiniYaml.toJson's) — one implementation repo-wide
    val json = graft.sources.MiniYaml.toJson(
      Map("order" -> Map(c.orderKey -> c.orderValue), "slug" -> c.slug))
    Base64.getEncoder.encodeToString(json.getBytes(StandardCharsets.UTF_8))
  }

  /** Decode via the shared JSON parser (one escape/parse implementation in the
    * codebase — a hand-rolled twin here once mishandled \b and \f).
    */
  def decode(cursor: String): Cursor =
    try {
      val json = new String(Base64.getDecoder.decode(cursor), StandardCharsets.UTF_8)
      val root = graft.sources.MiniJson.parse(json).asInstanceOf[Map[String, Any]]
      val (orderKey, orderValue) = root("order").asInstanceOf[Map[String, Any]].head match {
        case (k, null) => (k, null)
        case (k, v)    => (k, String.valueOf(v))
      }
      Cursor(orderKey, orderValue, String.valueOf(root("slug")))
    } catch {
      // NonFatal only: an OOM or an interrupt is not a malformed cursor
      case NonFatal(_) => throw new IllegalArgumentException("Invalid cursor")
    }
}

sealed trait PageDirection
case object After extends PageDirection
case object Before extends PageDirection

/** One materialized page plus its `PageInfo`. */
final case class PageResult(data: Seq[Row], pageInfo: PageInfo)

/** Keyset (seek-method) cursor pagination.
  *
  * The reference paginates by slicing an in-memory matched index array
  * (src/utils/pagenation.ts:60-78) — O(offset) and single-node. At 100 TB the
  * only scale-safe equivalent is keyset pagination: a pushdown-friendly range
  * predicate on the total order `(orderKey <dir>, slug <dir>)` plus
  * `LIMIT pageSize+1`. Memory and transfer per page are O(page) and do not
  * grow with depth. Each page is still one top-K scan of the filtered
  * source: the predicate reaches the parquet scan, but row groups are
  * skipped only where the order key is clustered.
  */
object Pagination {

  /** Strict "beyond the cursor" predicate in the scan direction.
    *
    * Display order pins null order values LAST regardless of direction (see
    * [[scanPage]]), so an After-scan from a (always non-null) cursor moves
    * TOWARD the null region and must include it explicitly — a bare comparison
    * is null for those rows and would silently drop them from every cursored
    * page. Before-scans move away from the nulls and exclude them.
    */
  private def beyond(orderCol: Column, slugCol: Column, typedVal: Column, slugLit: Column,
                     forward: Boolean, includeNulls: Boolean): Column = {
    val cmp =
      if (forward) (orderCol > typedVal) || (orderCol === typedVal && slugCol > slugLit)
      else (orderCol < typedVal) || (orderCol === typedVal && slugCol < slugLit)
    // typedVal.isNotNull: an untranslatable (try_cast-nulled) cursor value
    // must match NOTHING — without the guard the null region would pass.
    if (includeNulls) (orderCol.isNull && typedVal.isNotNull) || cmp else cmp
  }

  /** The page as a lazy DataFrame (exactly `pageSize` rows, display order).
    * `descending` refers to the user-requested order on `orderField`; the slug
    * tiebreak always follows the same direction so the total order is coherent.
    */
  def pageDf(
      df: DataFrame,
      orderField: String,
      slugField: String,
      descending: Boolean,
      pageSize: Int,
      cursor: Option[Cursor],
      direction: PageDirection
  ): DataFrame =
    scanPage(df, orderField, slugField, descending, pageSize, cursor, direction)

  /** `probe` scans `pageSize+1` rows (the extra one decides hasNext/hasPrev);
    * `displayOrder = false` leaves a Before page in its reversed scan order
    * (nearest the cursor first) for a caller that reverses it itself. */
  private def scanPage(
      df: DataFrame,
      orderField: String,
      slugField: String,
      descending: Boolean,
      pageSize: Int,
      cursor: Option[Cursor],
      direction: PageDirection,
      probe: Boolean = false,
      displayOrder: Boolean = true
  ): DataFrame = {
    val orderCol   = col(orderField)
    val slugCol    = col(slugField)
    val displayAsc = !descending
    // Display order pins nulls LAST for both directions (asc_nulls_last /
    // desc_nulls_last): null-ordered rows then always live on the final pages,
    // where "no cursor on a null boundary" is harmless. (Spark's asc default
    // is nulls-FIRST — relying on it would dead-end ascending pagination on
    // page one: null rows emit no cursor.)
    val displaySort  = if (displayAsc) Seq(orderCol.asc_nulls_last, slugCol.asc)
                       else Seq(orderCol.desc_nulls_last, slugCol.desc)
    val reversedSort = if (displayAsc) Seq(orderCol.desc_nulls_first, slugCol.desc)
                       else Seq(orderCol.asc_nulls_first, slugCol.asc)
    // After scans in display order; Before scans the reversed display order
    // (to take the pageSize rows nearest the cursor on its "previous" side).
    val scanAsc = displayAsc == (direction == After)
    val filtered = cursor match {
      case Some(c) if c.orderValue == null =>
        // Cursor inside the null region (display end): forward pages continue
        // on slug alone within the region; backward pages cover the whole
        // non-null space plus the region's earlier slugs.
        val slugLit = lit(c.slug).try_cast(df.schema(slugField).dataType)
        val inRegionBeyond =
          if (scanAsc) orderCol.isNull && slugCol > slugLit
          else orderCol.isNull && slugCol < slugLit
        df.filter(
          if (direction == After) inRegionBeyond
          else orderCol.isNotNull || inRegionBeyond)
      case Some(c) =>
        // try_cast: a tampered/stale cursor value that doesn't parse as the
        // column's type becomes NULL (predicate matches nothing) instead of a
        // runtime CAST_INVALID_INPUT that kills the job under ANSI mode.
        val typedVal = lit(c.orderValue).try_cast(df.schema(orderField).dataType)
        val slugLit  = lit(c.slug).try_cast(df.schema(slugField).dataType)
        df.filter(beyond(orderCol, slugCol, typedVal, slugLit,
          forward = scanAsc, includeNulls = direction == After))
      case None => df
    }
    val scanned = filtered.orderBy((if (direction == After) displaySort else reversedSort): _*)
    val limited = scanned.limit(if (probe) pageSize + 1 else pageSize)
    // Before-pages were scanned in reverse; re-sort the (already limited)
    // result back to display order.
    if (direction == Before && displayOrder) limited.orderBy(displaySort: _*) else limited
  }

  /** Materialize one page with PageInfo: ONE job, a collect of the
    * already-limited `pageSize+1` probe (final page materialization). A
    * Before probe is collected in its reversed scan order and the collected
    * array is reversed: re-sorting ≤ pageSize+1 rows in Spark would add a
    * single-partition exchange and a Sort to the job.
    * `cursorKey` is the user-facing order-key name to embed in emitted cursors
    * (defaults to `orderField`; callers sorting on a synthetic column pass the
    * original field name so cursors stay reference-shaped).
    */
  def exec(
      df: DataFrame,
      orderField: String,
      slugField: String,
      descending: Boolean,
      pageSize: Int,
      cursor: Option[Cursor],
      direction: PageDirection,
      cursorKey: String = null
  ): PageResult = {
    val keyName = Option(cursorKey).getOrElse(orderField)
    val scanned = scanPage(df, orderField, slugField, descending, pageSize, cursor, direction,
      probe = true, displayOrder = false).collect()
    val probe = if (direction == Before) scanned.reverse else scanned
    // For Before, the probe row (if present) is the *first* in display order.
    val hasExtra = probe.length > pageSize
    val page = direction match {
      case After             => probe.take(pageSize)
      case Before if hasExtra => probe.drop(1)
      case Before            => probe
    }
    val hasNext = direction match {
      case After  => hasExtra
      case Before => cursor.isDefined
    }
    val hasPrev = direction match {
      case After  => cursor.isDefined
      case Before => hasExtra
    }
    // Null boundary rows anchor a null-marked cursor (pagination continues on
    // slug alone inside the null region — see scanPage) so a null region
    // larger than one page stays walkable.
    def cursorOf(r: Row): Option[String] = {
      val ov = r.getAs[Any](r.fieldIndex(orderField))
      val sv = r.getAs[Any](r.fieldIndex(slugField))
      val value = if (ov == null) null else String.valueOf(ov)
      Some(Cursor.encode(Cursor(keyName, value, String.valueOf(sv))))
    }
    PageResult(
      page.toSeq,
      PageInfo(
        hasNext,
        hasPrev,
        page.headOption.flatMap(cursorOf),
        page.lastOption.flatMap(cursorOf)
      )
    )
  }
}
