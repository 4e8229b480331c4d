package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Bounded top-k-by-score aggregation — the retrieval tail done as an
  * AGGREGATE instead of a window.
  *
  * The window formulation (`row_number() over (partition by query order by
  * score desc, id)`) is correct but shuffles EVERY scored candidate to its
  * query's partition before any is discarded: an ANN probe scoring C
  * candidates per query ships C rows per query through the rank exchange to
  * keep k (measured at sf1: 4M candidate rows through the exchange for the
  * 1000 kept). A bounded aggregate does the discard map-side — each
  * partition's partial buffer holds at most k entries per query seen there,
  * so the exchange carries ≤ partitions × queries × k slim rows no matter
  * how many candidates were scored. At 100 TB that is the difference
  * between shuffling the scored corpus and shuffling the answer.
  *
  * Ordering parity with the window twin (pinned in TopKAggregateSpec):
  * score descending with Java `Double.compare` semantics (NaN greatest —
  * Spark's own sort order for doubles), null scores last (Spark's
  * `desc` default), ties by id ascending; -0.0 is normalized to 0.0 on
  * insert (Spark sorts them equal, so the id tie-break must decide).
  * Result is the ranked array<struct<score, id>>; `explode` preserves
  * element order.
  */
object TopKAggregate {

  /** `array<struct<score, id>>` of the top `k` (score desc, id asc) pairs
    * of the group. `id` must be a non-null NUMERIC column (stored as
    * BIGINT; narrower integers implicit-cast up — every retrieval call
    * site uses long vec_ids). Non-numeric id columns are not supported
    * here; rank those with a window. A null score ranks after every
    * non-null score.
    */
  def topK(score: Column, id: Column, k: Int): Column =
    ColumnShim.column(TopKByScore(
      ColumnShim.expression(score), ColumnShim.expression(id), k)
      .toAggregateExpression())

  /** The retrieval id contract, shared by [[TopKByScore]] and the fused
    * scans of [[graft.operators.FusedTopK]]: an exact integer (the integral
    * family or a scale-0 decimal — BIGINT routinely arrives as decimal(p,0)
    * via JDBC/parquet), keyed as a long. */
  private[graft] def exactIntegerId(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case d: DecimalType                                => d.scale == 0
    case _                                             => false
  }
}

/** Rank-ordered bounded buffer: parallel arrays in output order, n ≤ k.
  * Insertion is O(k) a row (k is a handful in every retrieval call site);
  * merge replays the smaller structure into the larger-capacity one.
  */
final class TopKBuffer(val k: Int) {
  var n: Int = 0
  val scores = new Array[Double](k)
  val nulls = new Array[Boolean](k)
  val ids = new Array[Long](k)

  /** Does (s1) rank strictly before (s2)? Non-null before null; score desc
    * via Double.compare (NaN greatest); id asc ties. −0.0 is normalized to
    * 0.0 INSIDE the comparison only (Spark sorts them equal, so the id must
    * decide) — the stored score stays the caller's original value, exactly
    * as a window would emit it. */
  private def beats(s1: Double, nl1: Boolean, id1: Long,
                    s2: Double, nl2: Boolean, id2: Long): Boolean = {
    if (nl1 != nl2) return !nl1
    if (!nl1) {
      val c = java.lang.Double.compare(s1 + 0.0, s2 + 0.0)
      if (c != 0) return c > 0
    }
    id1 < id2
  }

  def insert(nl: Boolean, score: Double, id: Long): Unit = {
    val s = score
    if (n == k && !beats(s, nl, id, scores(k - 1), nulls(k - 1), ids(k - 1)))
      return
    if (n < k) n += 1
    var i = n - 1
    while (i > 0 && beats(s, nl, id, scores(i - 1), nulls(i - 1), ids(i - 1))) {
      scores(i) = scores(i - 1); nulls(i) = nulls(i - 1); ids(i) = ids(i - 1)
      i -= 1
    }
    scores(i) = s; nulls(i) = nl; ids(i) = id
  }

  def mergeIn(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.n) { insert(other.nulls(i), other.scores(i), other.ids(i)); i += 1 }
  }
}

case class TopKByScore(score: Expression, id: Expression, k: Int,
                       mutableAggBufferOffset: Int = 0,
                       inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuffer] with ImplicitCastInputTypes {

  require(k > 0, s"TopKByScore: k=$k must be positive")

  override def children: Seq[Expression] = Seq(score, id)
  override def inputTypes = Seq(DoubleType, LongType)

  // The implicit LongType cast above would happily take a STRING id and
  // yield null at runtime — surfacing as the misleading "id expression
  // evaluated to null" mid-job. Enforce the documented contract ("id must
  // be an exact integer; rank anything else with a window") at ANALYSIS
  // time by unwrapping casts (the analyzer's implicit one, and any
  // user-written chain on top) back to the source type, which must pass
  // TopKAggregate.exactIntegerId (a decimal(p>18,0) value beyond Long range
  // then fails the cast under ANSI, or nulls and trips the null-id check).
  // Fractional, string, and other null-on-failure conversions are rejected.
  override def checkInputDataTypes(): TypeCheckResult = {
    @annotation.tailrec def sourceType(e: Expression): DataType = e match {
      case c: Cast => sourceType(c.child)
      case other   => other.dataType
    }
    val idType = sourceType(id)
    if (!TopKAggregate.exactIntegerId(idType))
      TypeCheckResult.TypeCheckFailure(
        s"graft.TopKByScore: id must be an exact-integer column (integral or " +
          s"decimal(p,0), stored as BIGINT), got ${idType.catalogString}; " +
          "rank non-integer ids with a window instead")
    else super.checkInputDataTypes()
  }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = true),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = score.eval(input)
    val i = id.eval(input)
    require(i != null, "graft.TopKByScore: id expression evaluated to null")
    buffer.insert(s == null, if (s == null) 0.0 else s.asInstanceOf[Double],
      i.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buffer.mergeIn(other); buffer
  }

  override def eval(buffer: TopKBuffer): Any = {
    val out = new Array[Any](buffer.n)
    var i = 0
    while (i < buffer.n) {
      out(i) = InternalRow(
        if (buffer.nulls(i)) null else java.lang.Double.valueOf(buffer.scores(i)),
        java.lang.Long.valueOf(buffer.ids(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream(8 + buffer.n * 17)
    val out = new java.io.DataOutputStream(bytes)
    out.writeInt(buffer.k)
    out.writeInt(buffer.n)
    var i = 0
    while (i < buffer.n) {
      out.writeBoolean(buffer.nulls(i))
      out.writeDouble(buffer.scores(i))
      out.writeLong(buffer.ids(i))
      i += 1
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(storage: Array[Byte]): TopKBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(storage))
    val buf = new TopKBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) {
      buf.nulls(i) = in.readBoolean()
      buf.scores(i) = in.readDouble()
      buf.ids(i) = in.readLong()
      i += 1
    }
    buf.n = n
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(score = newChildren(0), id = newChildren(1))
}
