package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the dense-vector hot path.
  *
  * The `zip_with`/`aggregate` formulations (graft.functions.VectorFunctions'
  * column twins) are correct but evaluate through interpreted higher-order
  * functions — every pair-scoring cosine pays per-element lambda dispatch and
  * boxing, and the hyperplane signature pays it `nbits` times (one
  * ArrayAggregate node per plane). In the ANN candidate-scoring join and the
  * bucket-assignment scan those are THE inner loops at 100 TB. These
  * expressions do each job in one tight primitive pass per row.
  *
  * Two properties make them join-hot-path safe (round-8 fix — the earlier
  * double-array-only CodegenFallback versions cost q_ann_batch 12 s at sf1):
  *
  *  - FLOAT-NATIVE: `array<float>` (the actual embeddings type) is accepted
  *    directly and read element-wise with an exact float→double widen — the
  *    old signature forced an analyzer `cast(... as array<double>)` that
  *    allocated and converted a fresh 64-element array PER JOINED ROW on
  *    both sides of every candidate join.
  *  - REAL CODEGEN: `doGenCode` emits a call to the same static scorer the
  *    interpreted path uses, so a Project containing these no longer drops
  *    its whole stage out of whole-stage codegen (CodegenFallback poisons
  *    the operator, turning a BroadcastNestedLoopJoin + score projection
  *    into fully interpreted row processing).
  *
  * Bit parity with the twins is load-bearing (q_ann_bruteforce and
  * q_embed_centroid are oracle-hash-checked): every accumulator folds in the
  * same index order and applies the same IEEE operations as the column
  * algebra it replaces (float→double widening is exact, so reading floats
  * directly equals casting the array first), and the interpreted and
  * generated paths share one scorer each. Null/mismatch semantics replicate
  * `zip_with`'s null-padding exactly — see each expression's note.
  */
object VectorExpressions {

  /** Sum of element products folded left in index order (native twin of
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`). Twin semantics kept:
    * a length mismatch (zip_with null-pads the shorter side) or any null
    * element null-poisons the fold → null.
    */
  def dot(a: Column, b: Column): Column =
    ColumnShim.column(DotProduct(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Fused one-pass cosine (native twin of VectorFunctions.cosineColumns):
    * dot + both norms in a single traversal, then the identical
    * `when(denom === 0.0, 0.0).otherwise(dot / denom)` decision.
    */
  def cosine(a: Column, b: Column): Column =
    ColumnShim.column(CosineSim(ColumnShim.expression(a), ColumnShim.expression(b)))

  /** Left-fold element sum (native twin of `aggregate(v, 0.0, _ + _)`);
    * null element → null like the fold it replaces.
    */
  def arraySum(a: Column): Column =
    ColumnShim.column(ArraySumFold(ColumnShim.expression(a)))

  /** All `nbits` hyperplane sign bits in ONE pass over the vector (the twin
    * builds `nbits` separate interpreted aggregate nodes). Callers keep the
    * dim-guard + raise_error in column algebra (VectorFunctions).
    */
  def hyperplaneBits(vec: Column, planes: Seq[Seq[Double]]): Column =
    ColumnShim.column(HyperplaneBits(ColumnShim.expression(vec), planes))

  /** Index of the nearest center by squared Euclidean distance (ties →
    * lower index) — the IVF cell-assignment scan. One tight primitive pass
    * per row over all centers; a dim mismatch or null element throws (an
    * assignment silently landing in cell 0 would quietly break dedup
    * recall, the same policy MLlib's transform applies).
    */
  def nearestCenter(vec: Column, centers: Seq[Seq[Double]]): Column =
    ColumnShim.column(NearestCenter(ColumnShim.expression(vec), centers))

  /** Symmetric per-vector int8 scalar quantization in ONE pass:
    * `struct<scale double, codes array<tinyint>>` with
    * `scale = max|x| / 127` and `codes[i] = round(x[i] / scale)` (half
    * away from zero — the rounding BOTH Spark's `round` and DuckDB/C
    * `round` apply, so the columnar twin and the SQL oracle match
    * bit-for-bit; `math.round`'s floor(x+0.5) would diverge on negative
    * ties). A zero vector quantizes to scale 0 with all-zero codes; a
    * null element throws like [[nearestCenter]] (a silently-zeroed
    * dimension would corrupt every downstream distance).
    */
  def quantize8(vec: Column): Column =
    ColumnShim.column(Int8Quantize(ColumnShim.expression(vec)))

  /** SQ8 reconstruction audit in ONE pass — the [[quantize8]] encode fused
    * with its own error audit: `struct<scale double, sum_codes bigint,
    * nz int, max_err double>` where `max_err = max_i |codes[i]·scale −
    * x[i]|` (null for an empty vector, like `array_max` of an empty
    * array). Exists because the audit's columnar form — aggregate /
    * filter / zip_with+array_max over the codes — runs as INTERPRETED
    * higher-order lambdas materializing three intermediate arrays per
    * row, which benchmarked ~8× DuckDB at sf10 on an otherwise
    * trivial scan (q_embed_quantize); the fused pass allocates nothing
    * and stays inside whole-stage codegen. Bit-parity with the columnar
    * form is pinned in QuantizeSpec.
    */
  def sq8Stats(vec: Column): Column =
    ColumnShim.column(Int8ReconStats(ColumnShim.expression(vec)))

  /** Product-quantization encode: per-subspace nearest-codebook-entry ids
    * (`array<int>` of length m). Same argmin discipline as
    * [[nearestCenter]] — sequential per-dimension squared-Euclidean sum,
    * ties to the lower code — applied per subspace.
    */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnShim.column(PqEncode(ColumnShim.expression(vec), codebooks))

  /** Per-QUERY ADC distance table: flat `array<double>` of m·ksub entries,
    * `table[m*ksub + c] = ||q_m − codebook[m][c]||²`. Computed once per
    * query on the broadcast side; every corpus row then scores via
    * [[adcDistance]]'s m lookups instead of dim flops.
    */
  def pqDistTable(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnShim.column(PqDistTable(ColumnShim.expression(vec), codebooks))

  /** Asymmetric-distance score: `Σ_m table[m*ksub + codes[m]]` — the ADC
    * inner loop (m adds + m lookups per corpus row).
    */
  def adcDistance(codes: Column, table: Column, ksub: Int): Column =
    ColumnShim.column(AdcDistance(
      ColumnShim.expression(codes), ColumnShim.expression(table), ksub))

  /** float or double arrays, no cast for either; anything else coerces to
    * double arrays (ImplicitCastInputTypes) so the SQL surface keeps taking
    * e.g. int arrays. TypeCollection is private[sql] → shimmed.
    */
  private[plans] val vecType = ColumnShim.vecArrayInput

  private[plans] def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Element read shared by every scorer: exact widen for floats. */
  @inline private[plans] def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
}

object DotProduct {
  /** One scorer for BOTH the interpreted and generated paths. Boxed null =
    * null result (mismatch or null element — the zip_with twin's semantics).
    */
  def compute(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val la = a.numElements()
    if (la != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < la) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += VectorExpressions.elem(a, i, aF) * VectorExpressions.elem(b, i, bF)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with GraftKernel {

  override def inputTypes = Seq(VectorExpressions.vecType, VectorExpressions.vecType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val aF = VectorExpressions.isFloatArray(left)
  @transient private lazy val bF = VectorExpressions.isFloatArray(right)

  override def nullSafeEval(l: Any, r: Any): Any =
    DotProduct.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], aF, bF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotRes")
      s"""
         |java.lang.Double $r = graft.plans.DotProduct$$.MODULE$$.compute($a, $b, $aF, $bF);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** One fused pass: three independent accumulators, each folding in index
    * order — the same IEEE sequence as the twin's three separate folds.
    * ANY null element → null overall in the twin (a null norm nulls the
    * denom and its side's dot simultaneously), so we can return early.
    * The twin decides `when(denom === 0.0, 0.0)` FIRST — a zero vector
    * scores 0.0 even against a mismatched-length partner (whose dot would
    * be null).
    */
  def compute(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    val la = a.numElements()
    val lb = b.numElements()
    var accAA = 0.0
    var accBB = 0.0
    var accAB = 0.0
    val n = math.max(la, lb)
    var i = 0
    while (i < n) {
      val inA = i < la
      val inB = i < lb
      if ((inA && a.isNullAt(i)) || (inB && b.isNullAt(i))) return null
      var x = 0.0
      var y = 0.0
      if (inA) { x = VectorExpressions.elem(a, i, aF); accAA += x * x }
      if (inB) { y = VectorExpressions.elem(b, i, bF); accBB += y * y }
      if (inA && inB) accAB += x * y
      i += 1
    }
    val denom = math.sqrt(accAA) * math.sqrt(accBB)
    if (denom == 0.0) java.lang.Double.valueOf(0.0)
    else if (la != lb) null
    else java.lang.Double.valueOf(accAB / denom)
  }
}

/** ImplicitCastInputTypes (not bare ExpectsInputTypes) so the SQL surface
  * (`graft_cosine`) accepts any numeric array by analyzer-inserted cast —
  * while float and double arrays (the actual embedding types) pass through
  * uncast and are read natively.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with GraftKernel {

  override def inputTypes = Seq(VectorExpressions.vecType, VectorExpressions.vecType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val aF = VectorExpressions.isFloatArray(left)
  @transient private lazy val bF = VectorExpressions.isFloatArray(right)

  override def nullSafeEval(l: Any, r: Any): Any =
    CosineSim.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], aF, bF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cosRes")
      s"""
         |java.lang.Double $r = graft.plans.CosineSim$$.MODULE$$.compute($a, $b, $aF, $bF);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArraySumFold {
  def compute(a: ArrayData, aF: Boolean): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += VectorExpressions.elem(a, i, aF)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

case class ArraySumFold(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with GraftKernel {

  override def inputTypes = Seq(VectorExpressions.vecType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val aF = VectorExpressions.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    ArraySumFold.compute(input.asInstanceOf[ArrayData], aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("sumRes")
      s"""
         |java.lang.Double $r = graft.plans.ArraySumFold$$.MODULE$$.compute($a, $aF);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBits {
  /** Twin semantics: a length mismatch or null element null-poisons every
    * projection, and `when(proj > 0, bit).otherwise(0)` maps a null proj to
    * 0 — so such vectors land in bucket 0. (Callers guard real mismatches
    * with raise_error in column algebra before this expression runs.)
    * Never null, so the return is a primitive.
    */
  def compute(arr: ArrayData, p: Array[Array[Double]], aF: Boolean): Int = {
    val n = arr.numElements()
    val dim = if (p.length == 0) 0 else p(0).length
    if (n != dim) return 0
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return 0
      v(i) = VectorExpressions.elem(arr, i, aF)
      i += 1
    }
    var bucket = 0
    var pi = 0
    while (pi < p.length) {
      val pl = p(pi)
      var acc = 0.0
      var j = 0
      while (j < n) { acc += v(j) * pl(j); j += 1 }
      if (acc > 0) bucket |= 1 << pi
      pi += 1
    }
    bucket
  }
}

object NearestCenter {
  def compute(arr: ArrayData, centers: Array[Array[Double]], aF: Boolean): Int = {
    val n = arr.numElements()
    require(centers.length > 0 && centers(0).length == n,
      s"graft.NearestCenter: vector has $n dims but the quantizer was trained with ${if (centers.isEmpty) 0 else centers(0).length}")
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i), "graft.NearestCenter: vector has a null element")
      v(i) = VectorExpressions.elem(arr, i, aF)
      i += 1
    }
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centers.length) {
      val ctr = centers(c)
      var acc = 0.0
      var j = 0
      while (j < n && acc < bestD) { val d = v(j) - ctr(j); acc += d * d; j += 1 }
      if (acc < bestD) { bestD = acc; best = c }
      c += 1
    }
    best
  }
}

case class NearestCenter(child: Expression, centers: Seq[Seq[Double]])
    extends UnaryExpression with ImplicitCastInputTypes with GraftKernel {

  override def inputTypes = Seq(VectorExpressions.vecType)
  override def dataType: DataType = IntegerType

  @transient private lazy val c: Array[Array[Double]] = centers.map(_.toArray).toArray
  @transient private lazy val aF = VectorExpressions.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    Integer.valueOf(NearestCenter.compute(input.asInstanceOf[ArrayData], c, aF))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centers", c, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.NearestCenter$$.MODULE$$.compute($a, $cRef, $aF);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class HyperplaneBits(child: Expression, planes: Seq[Seq[Double]])
    extends UnaryExpression with ImplicitCastInputTypes with GraftKernel {

  override def inputTypes = Seq(VectorExpressions.vecType)
  override def dataType: DataType = IntegerType

  @transient private lazy val p: Array[Array[Double]] = planes.map(_.toArray).toArray
  @transient private lazy val aF = VectorExpressions.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    Integer.valueOf(HyperplaneBits.compute(input.asInstanceOf[ArrayData], p, aF))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", p, "double[][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.HyperplaneBits$$.MODULE$$.compute($a, $pRef, $aF);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Int8Quantize {
  /** One scorer for both paths. Half-away-from-zero rounding (ties at
    * ±k.5 round AWAY), matching BigDecimal HALF_UP (Spark round) and C
    * round (DuckDB) EXACTLY: the fractional part is compared to 0.5
    * directly — `floor(y + 0.5)` would round UP across a tie for the
    * largest double below k.5 (the FP addition lands on k+1.0), where
    * both reference rounds return k. `|y| - floor(|y|)` is exact in
    * IEEE754 (the fractional bits of a double survive subtracting its
    * integer part), so the comparison has no error of its own.
    * |x/scale| ≤ 127 by construction of scale, so no clamp is needed:
    * the max element maps to exactly ±127. NaN/Infinity elements are
    * rejected like nulls — the columnar twin would NaN-poison the scale
    * and the SQL oracle hard-errors casting round(nan), so "throw
    * loudly" is the only behavior all three paths can share.
    */
  def compute(a: ArrayData, isFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      require(!a.isNullAt(i), "graft.Int8Quantize: null element in vector")
      val x = math.abs(VectorExpressions.elem(a, i, isFloat))
      require(!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x),
        "graft.Int8Quantize: non-finite element in vector")
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val scale = maxAbs / 127.0
    val codes = new Array[Byte](n)
    if (scale != 0.0) {
      i = 0
      while (i < n) {
        val y = VectorExpressions.elem(a, i, isFloat) / scale
        val ay = math.abs(y)
        val f = math.floor(ay)
        val r = if (ay - f >= 0.5) f + 1.0 else f
        codes(i) = (if (y >= 0) r else -r).toByte
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(scale,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes))
  }
}

object Int8ReconStats {
  /** [[Int8Quantize.compute]]'s scale + rounding discipline, fused with the
    * audit sums — per element: code (half-away rounding, no clamp), then
    * `sum += code`, `nz += (code != 0)`, `err = |code·scale − x|` folded
    * into a running max in index order (no NaNs can reach the max — the
    * finite-element require matches Int8Quantize). Zero scale ⇒ all codes
    * 0 ⇒ sum 0, nz 0, max_err = max|0 − x| = 0 for a zero vector.
    */
  def compute(a: ArrayData, isFloat: Boolean): org.apache.spark.sql.catalyst.InternalRow = {
    val n = a.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      require(!a.isNullAt(i), "graft.Int8Quantize: null element in vector")
      val x = math.abs(VectorExpressions.elem(a, i, isFloat))
      require(!java.lang.Double.isNaN(x) && !java.lang.Double.isInfinite(x),
        "graft.Int8Quantize: non-finite element in vector")
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val scale = maxAbs / 127.0
    var sum = 0L
    var nz = 0
    var maxErr = 0.0
    i = 0
    while (i < n) {
      val x = VectorExpressions.elem(a, i, isFloat)
      var code = 0L
      if (scale != 0.0) {
        val y = x / scale
        val ay = math.abs(y)
        val f = math.floor(ay)
        val r = if (ay - f >= 0.5) f + 1.0 else f
        code = (if (y >= 0) r else -r).toLong
      }
      sum += code
      if (code != 0L) nz += 1
      val err = math.abs(code.toDouble * scale - x)
      if (err > maxErr) maxErr = err
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(scale, sum, nz,
      if (n == 0) null else java.lang.Double.valueOf(maxErr))
  }
}

/** See [[VectorExpressions.sq8Stats]]. */
case class Int8ReconStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with GraftKernel {

  override def inputTypes = Seq(VectorExpressions.vecType)
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("sum_codes", LongType, nullable = false),
    StructField("nz", IntegerType, nullable = false),
    StructField("max_err", DoubleType, nullable = true)))

  @transient private lazy val aF = VectorExpressions.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    Int8ReconStats.compute(input.asInstanceOf[ArrayData], aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Int8ReconStats$$.MODULE$$.compute($a, $aF);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Int8Quantize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with GraftKernel {

  override def inputTypes = Seq(VectorExpressions.vecType)
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("codes", ArrayType(ByteType, containsNull = false), nullable = false)))

  @transient private lazy val aF = VectorExpressions.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    Int8Quantize.compute(input.asInstanceOf[ArrayData], aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Int8Quantize$$.MODULE$$.compute($a, $aF);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  /** Per-subspace argmin with [[NearestCenter]]'s exact discipline:
    * sequential j-order sums, early exit on a beaten partial (argmin-exact —
    * remaining terms are nonnegative), strict `<` so ties keep the lower
    * code. `cb(m)(c)` is subspace m's centroid c.
    */
  def compute(arr: ArrayData, cb: Array[Array[Array[Double]]], aF: Boolean): ArrayData = {
    val m = cb.length
    val dsub = cb(0)(0).length
    val n = arr.numElements()
    require(n == m * dsub,
      s"graft.PqEncode: vector has $n dims but the codebook expects ${m * dsub} ($m x $dsub)")
    val codes = new Array[Int](m)
    var mm = 0
    while (mm < m) {
      val off = mm * dsub
      val sub = cb(mm)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < sub.length) {
        val ctr = sub(c)
        var acc = 0.0
        var j = 0
        while (j < dsub && acc < bestD) {
          require(!arr.isNullAt(off + j), "graft.PqEncode: vector has a null element")
          val d = VectorExpressions.elem(arr, off + j, aF) - ctr(j)
          acc += d * d
          j += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      codes(mm) = best
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes.map(Integer.valueOf))
  }
}

/** See [[VectorExpressions.pqEncode]]. */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes with GraftKernel {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "PqEncode: empty codebook")
  require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)) &&
          codebooks.forall(_.length == codebooks.head.length),
    "PqEncode: ragged codebook (all subspaces need identical ksub and dsub)")

  override def inputTypes = Seq(VectorExpressions.vecType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val aF = VectorExpressions.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    PqEncode.compute(input.asInstanceOf[ArrayData], cb, aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PqEncode$$.MODULE$$.compute($a, $cbRef, $aF);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqDistTable {
  /** FULL sums (no early exit — these are real distances, not argmin
    * comparisons), sequential j-order like every scorer here.
    */
  def compute(arr: ArrayData, cb: Array[Array[Array[Double]]], aF: Boolean): ArrayData = {
    val m = cb.length
    val ksub = cb(0).length
    val dsub = cb(0)(0).length
    val n = arr.numElements()
    require(n == m * dsub,
      s"graft.PqDistTable: vector has $n dims but the codebook expects ${m * dsub} ($m x $dsub)")
    val out = new Array[Any](m * ksub)
    var mm = 0
    while (mm < m) {
      val off = mm * dsub
      val sub = cb(mm)
      var c = 0
      while (c < ksub) {
        val ctr = sub(c)
        var acc = 0.0
        var j = 0
        while (j < dsub) {
          require(!arr.isNullAt(off + j), "graft.PqDistTable: vector has a null element")
          val d = VectorExpressions.elem(arr, off + j, aF) - ctr(j)
          acc += d * d
          j += 1
        }
        out(mm * ksub + c) = java.lang.Double.valueOf(acc)
        c += 1
      }
      mm += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** See [[VectorExpressions.pqDistTable]]. */
case class PqDistTable(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression with ImplicitCastInputTypes with GraftKernel {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "PqDistTable: empty codebook")
  require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)) &&
          codebooks.forall(_.length == codebooks.head.length),
    "PqDistTable: ragged codebook (all subspaces need identical ksub and dsub)")

  override def inputTypes = Seq(VectorExpressions.vecType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val aF = VectorExpressions.isFloatArray(child)

  override def nullSafeEval(input: Any): Any =
    PqDistTable.compute(input.asInstanceOf[ArrayData], cb, aF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("codebooks", cb, "double[][][]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.PqDistTable$$.MODULE$$.compute($a, $cbRef, $aF);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AdcDistance {
  // returns PRIMITIVE double: this runs once per (query, candidate) pair —
  // 4×10⁸ times in the sf10 bench — and unlike CosineSim it has no null
  // outcome (malformed inputs THROW), so there is nothing for a box to
  // signal; the interpreted path's nullSafeEval boxes at its own boundary
  def compute(codes: ArrayData, table: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    require(table.numElements() == m * ksub,
      s"graft.AdcDistance: table has ${table.numElements()} entries, codes expect ${m * ksub}")
    var acc = 0.0
    var mm = 0
    while (mm < m) {
      val c = codes.getInt(mm)
      require(c >= 0 && c < ksub, s"graft.AdcDistance: code $c out of range [0, $ksub)")
      acc += table.getDouble(mm * ksub + c)
      mm += 1
    }
    acc
  }
}

/** See [[VectorExpressions.adcDistance]]. */
case class AdcDistance(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with ImplicitCastInputTypes with GraftKernel {

  require(ksub > 0, s"AdcDistance: ksub=$ksub must be positive")

  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    AdcDistance.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], ksub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.AdcDistance$$.MODULE$$.compute($a, $b, $ksub);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
