package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Filter operators — the reference's full operator set
  * (reference: src/QueryBuilder.ts:28 `type Operator = "eq" | "startsWith" | "in"`).
  */
sealed trait FilterOp
case object Eq extends FilterOp
case object StartsWith extends FilterOp
case object In extends FilterOp

final case class QFilter(field: String, op: FilterOp, values: Seq[String])

/** A registered queryable source: a DataFrame plus the metadata the reference
  * keeps in `staticql.config.json` (slug field, relations, indexed fields).
  *
  * `indexedFields = None` means every field is filterable (columnar parquet *is*
  * the index); `Some(set)` reproduces the reference's "needs index" guard
  * (reference: src/QueryBuilder.ts:316-327).
  * `indexDepths` carries per-field prefix depth from config `indexDepth`
  * (reference: src/IndexConfigFactory.ts:46-59); `customIndexFields` names the
  * config `customIndex` entries, whose value columns come from name→Column
  * hooks (reference `customIndexers` callbacks live in code, not JSON):
  * supplied to `GraftConfig.catalog` they materialize as internal
  * `__graft_custom_*` columns, making the field filterable and orderable by
  * hook values (never surfacing in results); `saveIndexes` indexes from the
  * same hooks or internal columns.
  */
final case class SourceDef(
    name: String,
    df: DataFrame,
    slugField: String = "slug",
    relations: Map[String, Relation] = Map.empty,
    indexedFields: Option[Set[String]] = None,
    indexDepths: Map[String, Int] = Map.empty,
    customIndexFields: Set[String] = Set.empty
) {
  /** Prefix depth for an indexed field, falling back to `default`. */
  def depthOf(field: String, default: Int = 1): Int = indexDepths.getOrElse(field, default)
}

/** Internal column-name conventions shared by the catalog builder and the
  * query planner.
  */
private[graft] object GraftNames {
  /** Where `catalog(customIndexers=…)` materializes a custom field's hook
    * values. Internal so hook output can never shadow a real data column
    * (the reference's customIndexers feed only the index, never records).
    */
  def customCol(field: String): String = s"__graft_custom_$field"
  def dropCustomCols(df: DataFrame): DataFrame = {
    val internals = df.columns.filter(_.startsWith("__graft_custom_"))
    if (internals.isEmpty) df else df.drop(internals.toIndexedSeq: _*)
  }
}

/** The set of queryable sources. Entry point: `catalog.from("herbs")`. */
final class Catalog(defs: Seq[SourceDef]) {
  val sources: Map[String, SourceDef] = defs.map(d => d.name -> d).toMap
  def apply(name: String): SourceDef =
    sources.getOrElse(name, throw new IllegalArgumentException(s"Source not found: $name"))
  def from(name: String): QueryBuilder = new QueryBuilder(this, apply(name))
}

/** Chainable query builder with the reference's surface —
  * `where/join/orderBy/cursor/pageSize/exec/peek/find`
  * (reference: src/QueryBuilder.ts:43-200) — emitting one declarative Spark
  * plan per query so Catalyst fuses filter + project + sort + limit and pushes
  * predicates into the parquet scan.
  *
  * Scale design: filtering and keyset pagination run on the *base* source only.
  * Relation joins apply to the already-limited page: `execDf()` and `find()`
  * join it lazily ([[Relations.nested]]), `exec()` resolves them against the
  * collected page with one pushed-down foreign scan per relation hop
  * ([[Relations.nestedPage]] — the reference likewise loads only the records
  * the page references). Relation *filters* become semi-joins, so the base
  * never materializes foreign data just to filter.
  */
final class QueryBuilder private[api] (catalog: Catalog, src: SourceDef) {
  private var filters: Vector[QFilter]    = Vector.empty
  private var joins: Vector[String]       = Vector.empty
  private var orderKey: String            = src.slugField
  private var orderDesc: Boolean          = false
  private var cursorValue: Option[String] = None
  private var cursorDir: PageDirection    = After
  private var pageSz: Int                 = 20

  /** Independent copy with identical state — the builder is mutable (each
    * setter returns `this`), so consumers that re-execute with successive
    * cursors ([[Ssg.writeAllPages]]) copy first to leave the caller's
    * builder untouched.
    */
  private[graft] def copyBuilder(): QueryBuilder = {
    val b = new QueryBuilder(catalog, src)
    b.filters = filters; b.joins = joins
    b.orderKey = orderKey; b.orderDesc = orderDesc
    b.cursorValue = cursorValue; b.cursorDir = cursorDir; b.pageSz = pageSz
    b
  }

  def where(field: String, op: FilterOp, value: String): QueryBuilder = {
    filters :+= QFilter(field, op, Seq(value)); this
  }
  def where(field: String, op: FilterOp, values: Seq[String]): QueryBuilder = {
    filters :+= QFilter(field, op, values); this
  }
  def join(relationKey: String): QueryBuilder = {
    require(src.relations.contains(relationKey), s"Unknown relation: $relationKey")
    joins :+= relationKey; this
  }
  def orderBy(key: String, direction: String = "asc"): QueryBuilder = {
    orderKey = key; orderDesc = direction.equalsIgnoreCase("desc"); this
  }
  def cursor(value: String, direction: String = "after"): QueryBuilder = {
    cursorValue = Some(value)
    cursorDir = if (direction.equalsIgnoreCase("before")) Before else After
    this
  }

  /** Decode + validate: a cursor minted under a different orderBy would
    * otherwise ANSI-cast garbage into the order column mid-job.
    */
  private def decodedCursor(): Option[Cursor] = cursorValue.map { v =>
    val c = Cursor.decode(v)
    if (c.orderKey != orderKey)
      throw new IllegalArgumentException(
        s"Invalid cursor: minted for order key '${c.orderKey}', query orders by '$orderKey'")
    c
  }
  def pageSize(n: Int): QueryBuilder = { require(n > 0); pageSz = n; this }

  // ---- plan construction -------------------------------------------------

  private def requireIndexed(field: String): Unit = src.indexedFields.foreach { idx =>
    val base = field
    if (base != src.slugField && !idx.contains(base))
      throw new IllegalArgumentException(s"[${src.name}] needs index: $base")
  }

  /** The filter as a typed predicate over one value column.
    * try_cast: a value that doesn't parse as the column type matches nothing
    * (reference semantics) instead of an ANSI cast error.
    */
  private def opPredicate(c: Column, dt: org.apache.spark.sql.types.DataType, f: QFilter): Column =
    // A programmatically-built filter with NO values matches nothing for
    // every op (SQL empty-IN semantics) — not a NoSuchElementException from
    // values.head deep inside plan construction.
    if (f.values.isEmpty) lit(false)
    else f.op match {
      case Eq         => c === lit(f.values.head).try_cast(dt)
      case StartsWith => c.cast(StringType).startsWith(f.values.head)
      // One typed IN over the try_cast values: pushed down as `In(...)`, and
      // an unparsable value (NULL) matches nothing. A left-deep OR of
      // equalities overflowed the analyzer's stack at ~1,000 values.
      case In         => c.isin(f.values.map(v => lit(v).try_cast(dt)): _*)
    }

  private def ownPredicate(df: DataFrame, f: QFilter): Column = {
    if (f.values.isEmpty) return lit(false) // covers the dot-path branch too
    // customIndex fields filter by their HOOK values (the reference's
    // extractIndexFilters reads the custom index, never record data) — the
    // catalog materialized those under an internal column that the output
    // paths strip back out.
    val internal = GraftNames.customCol(f.field)
    if (src.customIndexFields.contains(f.field) && df.columns.contains(internal))
      df.schema(internal).dataType match {
        case org.apache.spark.sql.types.ArrayType(et, _) =>
          // multi-valued custom index: a record matches when ANY value does
          exists(col(internal), x => opPredicate(x, et, f))
        case dt => opPredicate(col(internal), dt, f)
      }
    else if (FieldPath.isSimpleColumn(df, f.field))
      // Typed predicate on the bare column → parquet pushdown.
      opPredicate(col(f.field), df.schema(f.field).dataType, f)
    else
      FieldPath.anyLeaf(df, f.field, x => f.op match {
        case Eq         => x === f.values.head
        case StartsWith => x.startsWith(f.values.head)
        case In         => x.isin(f.values: _*)
      })
  }

  /** Base source with own-field filters and relation filters (as semi-joins). */
  private def filteredBase(): DataFrame = {
    // Relation filters are DOTTED paths ("herbs.slug"); a bare field name is
    // always an own-field filter, even if a relation shares the name.
    val (relFilters, ownFilters) =
      filters.partition(f => f.field.contains('.') && src.relations.contains(f.field.takeWhile(_ != '.')))
    ownFilters.foreach(f => requireIndexed(f.field))
    var df = ownFilters.foldLeft(src.df)((d, f) => d.filter(ownPredicate(d, f)))
    relFilters.groupBy(_.field.takeWhile(_ != '.')).foreach { case (relName, fs) =>
      val rel     = src.relations(relName)
      val foreign = catalog(rel.to)
      val fdf = fs.foldLeft(foreign.df) { (d, f) =>
        val sub = f.field.drop(relName.length + 1)
        val path = if (sub.isEmpty) foreign.slugField else sub
        d.filter(ownPredicate(d, QFilter(path, f.op, f.values)))
      }
      // Distinct key values of `path` in `d` as a 1-column frame "__graft_fk"
      // (nested/array paths fan out like the reference's resolveField).
      def keysOf(d: DataFrame, path: String): DataFrame =
        (if (FieldPath.isSimpleColumn(d, path))
           d.select(col(path).cast(StringType).as("__graft_fk"))
         else d.select(explode(FieldPath.resolve(d, path)).as("__graft_fk"))
        ).distinct()
      // Semi-join `d` against a (small, filtered) key set on `localPath`.
      def semiOnKeys(d: DataFrame, localPath: String, keys: DataFrame): DataFrame =
        if (FieldPath.isSimpleColumn(d, localPath))
          d.join(keys, col(localPath).cast(StringType) === keys("__graft_fk"), "left_semi")
        else
          d.join(broadcast(keys),
            array_contains(FieldPath.resolve(d, localPath), keys("__graft_fk")), "left_semi")
      df = rel match {
        case r: DirectRelation =>
          semiOnKeys(df, r.localKey, keysOf(fdf, r.foreignKey))
        case r: ThroughRelation =>
          val thr = catalog(r.through).df
          // through rows whose target-side keys survive the filter...
          val thrMatched = semiOnKeys(thr, r.throughLocalKey, keysOf(fdf, r.targetForeignKey))
          // ...contribute their source-side keys for the base semi-join.
          semiOnKeys(df, r.sourceLocalKey, keysOf(thrMatched, r.throughForeignKey))
      }
    }
    // Internal custom-index value columns stay attached here — they may
    // still serve as the ORDER key (withOrderCol) — and are stripped at
    // every output boundary (execDf/exec/peek project them away) so no
    // query result carries derived columns the source record doesn't have.
    df
  }

  /** Adds a sortable order column. Scalar top-level columns sort directly;
    * anything else (nested dot-paths, array/struct columns) resolves through
    * FieldPath to its first leaf value — the reference sorts by
    * `values[orderByKey][0]` the same way (src/QueryBuilder.ts:212-216).
    * A raw complex column must NOT sort as-is: arrays/structs mint cursors
    * that can never round-trip through the keyset predicate.
    */
  private def withOrderCol(df: DataFrame): (DataFrame, String) = {
    // A custom-index order key sorts by its HOOK values, like the reference
    // sorting by `values[orderByKey][0]` of the custom index; multi-valued
    // hooks sort by their first value, mirroring the array-field rule below.
    val internal = GraftNames.customCol(orderKey)
    if (src.customIndexFields.contains(orderKey) && df.columns.contains(internal)) {
      requireIndexed(orderKey)
      val ordExpr = df.schema(internal).dataType match {
        case _: org.apache.spark.sql.types.ArrayType => get(col(internal), lit(0))
        case _                                       => col(internal)
      }
      (df.withColumn("__graft_ord", ordExpr), "__graft_ord")
    } else if (FieldPath.isSimpleColumn(df, orderKey)) {
      requireIndexed(orderKey) // the reference's guard covers sort keys too
      (df, orderKey)
    } else {
      requireIndexed(orderKey) // full dot-path, same key shape filters use
      // get() (0-based) is ANSI-safe when the resolved array is empty (the
      // field is null/absent) — the row then sorts nulls-last instead of
      // crashing the query with INVALID_ARRAY_INDEX.
      (df.withColumn("__graft_ord", get(FieldPath.resolve(df, orderKey), lit(0))), "__graft_ord")
    }
  }

  /** A relation's foreign (and through) source with internal custom-index
    * columns stripped: relations embed every foreign column into the nested
    * structs, and a hook column leaking there would surface in join output
    * (and Ssg JSON).
    */
  private def joinSides(rel: Relation): (DataFrame, Option[DataFrame]) = (
    GraftNames.dropCustomCols(catalog(rel.to).df),
    rel match {
      case t: ThroughRelation => Some(GraftNames.dropCustomCols(catalog(t.through).df))
      case _                  => None
    })

  private def applyJoins(df: DataFrame): DataFrame =
    joins.foldLeft(df) { (d, relName) =>
      val rel = src.relations(relName)
      val (foreign, through) = joinSides(rel)
      Relations.nested(d, rel, foreign, through)
    }

  // ---- execution ---------------------------------------------------------

  /** Joins shuffle/regroup the already-paged rows, so the page's display order
    * must be re-established afterwards.
    */
  private def resorted(joined: DataFrame, ordCol: String): DataFrame = {
    val oc = col(ordCol)
    val sc = col(src.slugField)
    // nulls-last, matching Pagination's display order
    val sorted =
      if (orderDesc) joined.orderBy(oc.desc_nulls_last, sc.desc)
      else joined.orderBy(oc.asc_nulls_last, sc.asc)
    if (ordCol == "__graft_ord") sorted.drop("__graft_ord") else sorted
  }

  /** The page as a lazy DataFrame (joins applied after the limit, display
    * order re-established after the joins).
    */
  def execDf(): DataFrame = {
    val (df, ordCol) = withOrderCol(filteredBase())
    val page = Pagination.pageDf(df, ordCol, src.slugField, orderDesc, pageSz,
      decodedCursor(), cursorDir)
    GraftNames.dropCustomCols(resorted(applyJoins(page), ordCol))
  }

  /** Materialize one page with `PageInfo` — reference `exec()`
    * (src/QueryBuilder.ts:160-175).
    *
    * Cost: one Spark job for the page (Pagination.exec's bounded probe), then
    * relations resolve against the collected page like the reference's
    * resolver ([[Relations.nestedPage]]): one pushed-down foreign scan per
    * relation hop, no shuffle, the page's display order kept by position. A
    * join page runs at most 1 + (relation hops) jobs, and the driver holds
    * only the foreign rows nested into the rows it returns (plus a through
    * relation's key pairs).
    */
  def exec(): PageResult = {
    val (df, ordCol) = withOrderCol(filteredBase())
    val cur  = decodedCursor()
    val info = Pagination.exec(df, ordCol, src.slugField, orderDesc, pageSz, cur, cursorDir,
      cursorKey = orderKey)
    // strip the synthetic order column AND any internal custom-index value
    // columns so exec() rows match execDf()'s schema
    val internalIdx = df.schema.fields.zipWithIndex.collect {
      case (f, i) if f.name == "__graft_ord" && ordCol == "__graft_ord" => i
      case (f, i) if f.name.startsWith("__graft_custom_")               => i
    }.toSet
    val keep = df.schema.fields.indices.filterNot(internalIdx)
    val pruned = org.apache.spark.sql.types.StructType(keep.map(df.schema.fields).toArray)
    val page =
      if (internalIdx.isEmpty) info
      else info.copy(data = info.data.map(r =>
        // keep rows schema-bearing: getAs(name)/fieldIndex must still work
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          keep.map(r.get).toArray, pruned)))
    if (joins.isEmpty) page
    else {
      val (rows, _) = joins.foldLeft((page.data, pruned)) { case ((rs, schema), relName) =>
        val rel = src.relations(relName)
        val (foreign, through) = joinSides(rel)
        val joined = Relations.nestedPage(rs, schema, rel, foreign, through)
        (joined.collect().toSeq, joined.schema)
      }
      page.copy(data = rows)
    }
  }

  /** Index-only page: slug + order key, never touching non-indexed columns —
    * reference `peek()` (src/QueryBuilder.ts:176-180). Column pruning reaches
    * the scan: the plan reads only these columns.
    */
  def peek(): DataFrame = {
    val (df, ordCol) = withOrderCol(filteredBase())
    val page = Pagination
      .pageDf(df, ordCol, src.slugField, orderDesc, pageSz, decodedCursor(), cursorDir)
    val slugOut = col(src.slugField).cast(StringType).as("slug")
    // ordering by the slug itself (the default) must not duplicate the column,
    // and an order column whose (flattened) name is literally "slug" must not
    // collide with the slug output alias
    if (ordCol == src.slugField) page.select(slugOut)
    else {
      val ordAlias = orderKey.replace('.', '_') match {
        case "slug" => "order_value"
        case other  => other
      }
      page.select(slugOut, col(ordCol).as(ordAlias))
    }
  }

  /** Point lookup by slug — reference `find()` (src/QueryBuilder.ts:107). A
    * bare equality on the slug column: pushed down, partition-prunable.
    */
  def find(slug: String): DataFrame = {
    val dt = src.df.schema(src.slugField).dataType
    // try_cast: find("not-a-number") on a numeric slug returns empty, not an
    // ANSI cast error (reference: a missing slug is simply no match)
    applyJoins(GraftNames.dropCustomCols(
      src.df.filter(col(src.slugField) === lit(slug).try_cast(dt))))
  }
}
