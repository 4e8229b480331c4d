package graft.api

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relation kinds, mirroring the reference's relation model
  * (reference: src/QueryBuilder.ts:330-485, src/utils/relationResolver.ts:63-147).
  *
  *  - hasOne / hasMany:      `localKey` values match the foreign source's `foreignKey`.
  *  - belongsTo / belongsToMany: inverse lookup via the same key semantics.
  *  - hasOneThrough / hasManyThrough: two-hop join via an intermediate source.
  *
  * Any key may be a nested dot-path and/or array-valued (e.g. the reference's
  * `combinedHerbs.slug`): keys resolve through [[FieldPath]] exactly like the
  * reference's `resolveField`, and every value of a multi-valued key
  * participates in the match (reference: buildForeignKeyMap,
  * src/utils/relationResolver.ts:20-40).
  */
sealed trait Relation { def name: String; def to: String }
sealed trait DirectRelation extends Relation { def localKey: String; def foreignKey: String }
final case class HasOne(name: String, to: String, localKey: String, foreignKey: String) extends DirectRelation
final case class HasMany(name: String, to: String, localKey: String, foreignKey: String) extends DirectRelation
final case class BelongsTo(name: String, to: String, localKey: String, foreignKey: String) extends DirectRelation
final case class BelongsToMany(name: String, to: String, localKey: String, foreignKey: String) extends DirectRelation
sealed trait ThroughRelation extends Relation {
  def through: String
  def sourceLocalKey: String
  def throughForeignKey: String
  def throughLocalKey: String
  def targetForeignKey: String
}
final case class HasOneThrough(name: String, to: String, through: String,
    sourceLocalKey: String, throughForeignKey: String,
    throughLocalKey: String, targetForeignKey: String) extends ThroughRelation
final case class HasManyThrough(name: String, to: String, through: String,
    sourceLocalKey: String, throughForeignKey: String,
    throughLocalKey: String, targetForeignKey: String) extends ThroughRelation

/** Relation resolution, in two forms.
  *
  * The reference resolves relations by loading foreign rows into driver memory
  * and probing hash maps per row (src/utils/relationResolver.ts:63-147).
  *
  *  - [[nested]] (and the flat joins) are lazy DataFrame transforms for a base
  *    of any size: a join whose strategy (broadcast or shuffle) Spark's size
  *    estimate and AQE choose, and at 100 TB the fact side never moves
  *    through the driver.
  *  - [[nestedPage]] is the reference's own shape for a page that is already
  *    on the driver (`QueryBuilder.exec`): it loads only the foreign rows whose
  *    keys the page references, one filtered scan per relation hop, and nests
  *    them on the driver. Its driver round-trips are bounded by the page's
  *    output, never by the tables.
  */
object Relations {

  /** Key columns normalized to string so heterogeneous key types (the reference
    * compares stringified values) join consistently.
    */
  private def k(c: Column): Column = c.cast(StringType)

  private def isScalarKey(df: DataFrame, path: String): Boolean =
    FieldPath.isSimpleColumn(df, path)

  /** df + one row per key value in column `as` (scalar keys stay one row). */
  private def withKey(df: DataFrame, path: String, as: String, outer: Boolean): DataFrame =
    if (isScalarKey(df, path)) df.withColumn(as, k(col(path)))
    else if (outer) df.withColumn(as, explode_outer(FieldPath.resolve(df, path)))
    else df.withColumn(as, explode(FieldPath.resolve(df, path)))

  // ---- flat (SQL-shaped) joins -------------------------------------------

  /** Flat join: base columns + foreign columns, one output row per match.
    * `*Many` relations naturally multiply rows. The shape analytics queries
    * and the DuckDB oracle consume.
    */
  def flatJoin(
      base: DataFrame,
      foreign: DataFrame,
      localKey: String,
      foreignKey: String,
      joinType: String = "inner"
  ): DataFrame =
    base.join(foreign, k(base(localKey)) === k(foreign(foreignKey)), joinType)

  /** Flat two-hop join for through-relations. */
  def flatThroughJoin(
      base: DataFrame,
      through: DataFrame,
      target: DataFrame,
      rel: ThroughRelation
  ): DataFrame =
    base
      .join(through, k(base(rel.sourceLocalKey)) === k(through(rel.throughForeignKey)))
      .join(target, k(through(rel.throughLocalKey)) === k(target(rel.targetForeignKey)))

  // ---- nested (API-faithful) resolution ----------------------------------

  /** Foreign rows aggregated per key value: (__graft_fk, <name>: array<struct>).
    * A foreign row appears once under EACH of its key values — exactly the
    * reference's buildForeignKeyMap.
    */
  private def keyedForeign(foreign: DataFrame, foreignKey: String, name: String): DataFrame =
    withKey(foreign, foreignKey, "__graft_fk", outer = false)
      .groupBy(col("__graft_fk"))
      .agg(sort_array(collect_list(struct(foreign.columns.map(col).toIndexedSeq: _*))).as(name))

  /** Attach `keyed` (__graft_fk → array) to every base row by `localKey`.
    * Scalar local keys use one equi-join; multi-valued keys explode, join and
    * regroup by all base columns (flatten + distinct, like the reference's
    * flat-and-dedup of per-key matches).
    */
  private def attach(base: DataFrame, keyed: DataFrame, localKey: String,
                     name: String, single: Boolean): DataFrame = {
    val joined =
      if (isScalarKey(base, localKey)) {
        base.join(keyed, k(base(localKey)) === keyed("__graft_fk"), "left")
          .drop("__graft_fk")
      } else {
        // Regroup by a synthetic row id, not by the base columns: grouping by
        // value would silently collapse duplicate base rows (and fail on
        // ungroupable types like maps).
        val baseCols = base.columns.toIndexedSeq
        val withId = base.withColumn("__graft_rid", monotonically_increasing_id())
        val aggs = baseCols.map(c => first(col(c)).as(c)) :+
          merged(collect_list(col(name))).as(name)
        withKey(withId, localKey, "__graft_lk", outer = true)
          .join(keyed, col("__graft_lk") === keyed("__graft_fk"), "left")
          .drop("__graft_fk")
          .groupBy(col("__graft_rid"))
          .agg(aggs.head, aggs.tail: _*)
          .drop("__graft_rid")
      }
    joined.withColumn(name, shaped(col(name), single))
  }

  /** The related rows of one multi-valued local key: every key value's
    * matches, flattened, each distinct row once.
    */
  private def merged(perKey: Column): Column = array_distinct(flatten(perKey))

  /** The relation column's final shape: the first related row for `hasOne*`
    * (null when unmatched), else the array (`[]` when unmatched). get()
    * (0-based) is ANSI-safe on empty arrays, unlike element_at.
    */
  private def shaped(c: Column, single: Boolean): Column =
    if (single) get(sort_array(coalesce(c, array())), lit(0)) else coalesce(c, array())

  private def throughOf(r: ThroughRelation, through: Option[DataFrame]): DataFrame =
    through.getOrElse(throw new IllegalArgumentException(
      s"Through relation ${r.name} needs the intermediate DataFrame"))

  /** Attaches a column named `rel.name` holding the related record(s) — a
    * struct for `hasOne*` (null when unmatched), an array of structs otherwise
    * — like the reference embeds related records in each row
    * (src/QueryBuilder.ts:390-414). One aggregation of the foreign side + one
    * equi-join, lazy: no driver round-trips, whatever the size of `base`.
    */
  def nested(
      base: DataFrame,
      rel: Relation,
      foreign: DataFrame,
      through: Option[DataFrame] = None
  ): DataFrame = rel match {
    case r: DirectRelation =>
      val single = r.isInstanceOf[HasOne]
      attach(base, keyedForeign(foreign, r.foreignKey, r.name), r.localKey, r.name, single)
    case r: ThroughRelation =>
      val thr = throughOf(r, through)
      val single = r.isInstanceOf[HasOneThrough]
      // bridge: one row per (sourceKey value, targetKey value) of the through
      // source — nested/array keys fan out like the reference's resolveField.
      val bridge = withKey(withKey(thr, r.throughForeignKey, "__graft_src", outer = false),
        r.throughLocalKey, "__graft_tgt", outer = false)
        .select(col("__graft_src"), col("__graft_tgt"))
      val targetKeyed = keyedForeign(foreign, r.targetForeignKey, r.name)
      // Path dedup happens on the NARROW (src, tgt) key pairs, BEFORE target
      // rows attach. DELIBERATE DIVERGENCE from the reference: its
      // resolveThroughRelation (relationResolver.ts) emits the target once
      // PER through record, so a through table mapping the same (src, tgt)
      // pair twice nests the target twice; we dedup by path pair, nesting it
      // once. Set semantics are what the flat-join oracle twin (and any SQL
      // user) expects, and they keep the exchange narrow; duplicate-preserving
      // flatten would also force a per-through-row join fan-out upstream. (The
      // pre-round-8 array_distinct shape diverged the same way, so this is a
      // documented long-standing choice, not a regression.) The previous shape
      // deduped AFTER the fact with array_distinct
      // over the flattened struct arrays, which (a) is O(n²) for non-atomic
      // element types — a 30k-customer fan-out took 47 s at sf1 on struct
      // pairwise compares — and (b) collapses genuinely distinct target rows
      // that happen to be value-identical, which the flat-join oracle twin
      // counts separately.
      val keyed = bridge.distinct()
        .join(targetKeyed, col("__graft_tgt") === targetKeyed("__graft_fk"))
        .groupBy(col("__graft_src").as("__graft_fk2"))
        .agg(flatten(collect_list(col(r.name))).as(r.name))
        .withColumnRenamed("__graft_fk2", "__graft_fk")
      attach(base, keyed, r.sourceLocalKey, r.name, single)
  }

  // ---- page-local resolution (QueryBuilder.exec) -------------------------

  /** `rows` as a DataFrame over a local relation. Projections over it are
    * evaluated by the optimizer (ConvertToLocalRelation): collecting one runs
    * no Spark job.
    */
  private def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The rows of `df` whose `keyPath` takes a value in `keys`, as `payload`
    * grouped by each matching value — a row appears under each of its key
    * values, like [[keyedForeign]] — and the payload's type. ONE Spark job,
    * none when `keys` is empty.
    *
    * The match is [[withKey]]'s string form, so semantics are `nested`'s. A
    * scalar key column whose string form parses back to the same value also
    * gets a typed IN over the keys, which reaches the parquet scan; a key that
    * does not parse as the column's type can match no row. (A string column's
    * own IN already pushes down.)
    */
  private def matching(df: DataFrame, keyPath: String, keys: Seq[String],
                       payload: Column): (DataType, Map[String, Seq[Any]]) = {
    val keyVals = FieldPath.resolve(df, keyPath)
    val hit =
      if (isScalarKey(df, keyPath)) {
        val c = col(keyPath)
        val exact = k(c).isin(keys: _*)
        df.schema(keyPath).dataType match {
          case dt @ (ByteType | ShortType | IntegerType | LongType | DateType | BooleanType |
                     _: DecimalType) =>
            c.isin(keys.map(lit(_).try_cast(dt)): _*) && exact
          case _ => exact
        }
      } else exists(keyVals, _.isin(keys: _*))
    val q = df.filter(hit).select(keyVals, payload)
    val keySet = keys.toSet
    val hits =
      if (keys.isEmpty) Seq.empty
      else q.collect().toSeq.flatMap(r => r.getSeq[String](0).filter(keySet).map(_ -> r.get(1)))
    (q.schema(1).dataType, hits.groupMap(_._1)(_._2))
  }

  /** [[nested]] for a page that is already on the driver: `rows` (of
    * `schema`) are at most pageSize rows, like `QueryBuilder.exec`'s
    * collected page. Same output as `nested` — column, struct type, `hasOne*`
    * first row, `[]` when unmatched, multi-valued local keys merged, through
    * relations deduped by (source, target) key pair — as a DataFrame over a
    * local relation that keeps the page's row order.
    *
    * Cost: the page's key strings are a projection over the local page (no
    * job). A direct relation runs ONE job: the foreign rows whose key the page
    * references (see [[matching]]). A through relation runs two: the through
    * rows' narrow (source key, target key) pairs, then the targets of those
    * pairs. Grouping runs on the driver and the output shape (`sort_array`,
    * [[merged]], [[shaped]]) is a projection over a local relation, so no hop
    * shuffles and an empty page runs none.
    *
    * Bound: every collected foreign row matches a key of the page, so it is
    * nested into a returned row; a through hop collects only the key pairs of
    * through rows matching the page. The driver holds what the page returns.
    */
  def nestedPage(
      rows: Seq[Row],
      schema: StructType,
      rel: Relation,
      foreign: DataFrame,
      through: Option[DataFrame] = None
  ): DataFrame = {
    val spark = foreign.sparkSession
    val (localKey, single) = rel match {
      case r: DirectRelation  => (r.localKey, r.isInstanceOf[HasOne])
      case r: ThroughRelation => (r.sourceLocalKey, r.isInstanceOf[HasOneThrough])
    }
    val page = localFrame(spark, rows, schema)
    val rowKeys = page.select(FieldPath.resolve(page, localKey)).collect().toSeq
      .map(r => if (r.isNullAt(0)) Nil else r.getSeq[String](0).toSeq)
    val pageKeys = rowKeys.flatten.distinct
    val foreignRow = struct(foreign.columns.map(col).toIndexedSeq: _*)
    // each local key value's groups of related rows: its foreign rows, or
    // for a through relation the targets of each of its target keys
    val (rowType, groupsOf) = rel match {
      case r: DirectRelation =>
        val (rowType, byKey) = matching(foreign, r.foreignKey, pageKeys, foreignRow)
        (rowType, (key: String) => byKey.get(key).toSeq)
      case r: ThroughRelation =>
        val thr = throughOf(r, through)
        // source key -> its distinct target keys: nested's path-pair dedup
        val targetKeys = matching(thr, r.throughForeignKey, pageKeys,
            FieldPath.resolve(thr, r.throughLocalKey))._2
          .map { case (src, tgts) =>
            src -> tgts.flatMap(t => Option(t.asInstanceOf[scala.collection.Seq[String]]))
              .flatten.distinct.sorted
          }
        val (rowType, byTarget) = matching(foreign, r.targetForeignKey,
          targetKeys.values.flatten.toSeq.distinct, foreignRow)
        (rowType, (key: String) => targetKeys.getOrElse(key, Nil).flatMap(byTarget.get))
    }
    // per row, the groups of all its key values; each group sorts like
    // keyedForeign's sort_array, then [[attach]]'s merge and shape apply
    val groupsType = ArrayType(ArrayType(rowType, containsNull = false), containsNull = false)
    val groups = transform(col("__graft_m"), g => sort_array(g))
    localFrame(spark,
        rows.zip(rowKeys).map { case (r, ks) => Row.fromSeq(r.toSeq :+ ks.flatMap(groupsOf)) },
        schema.add("__graft_m", groupsType))
      .withColumn(rel.name,
        shaped(if (isScalarKey(page, localKey)) flatten(groups) else merged(groups), single))
      .drop("__graft_m")
  }
}
