package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.plans._

import scala.util.chaining._

/** The native expression kernels of `graft.plans`, each evaluated through a
  * generated projection over an in-memory batch of rows: no Spark job, no
  * scan, no shuffle. Reports nanoseconds per row, the median of several
  * passes after one warm-up pass. */
object Kernels {

  /** Written once per run so the JIT cannot drop the hashing loops. */
  @volatile var blackhole: Long = 0L
  private val Passes = 5
  private val SampleNs = 50L * 1000 * 1000

  /** Median over [[Passes]] samples of ns per row; each sample repeats the
    * batch enough times to last about [[SampleNs]]. */
  private def timePasses(rows: Int)(pass: () => Unit): Double = {
    val t0 = System.nanoTime()
    pass()
    val reps = math.max(1L, SampleNs / math.max(1L, System.nanoTime() - t0)).toInt
    val out = Vector.fill(Passes) {
      val t1 = System.nanoTime()
      (1 to reps).foreach(_ => pass())
      (System.nanoTime() - t1).toDouble / (rows.toLong * reps)
    }
    out.sorted.apply(Passes / 2)
  }

  private def projected(e: Expression, in: Seq[Attribute], rows: Array[InternalRow]): Double = {
    val proj = UnsafeProjection.create(Seq(e), in)
    timePasses(rows.length)(() => rows.foreach(proj(_)))
  }

  /** `texts` and `vectors` come from the generated tables. */
  def run(texts: Array[String], vectors: Array[Array[Float]]): Map[String, Double] = {
    val text = AttributeReference("text", StringType)()
    val rows: Array[InternalRow] = texts.map(t => InternalRow(UTF8String.fromString(t)))
    def html(i: Int): String =
      s"<html><head><title>t$i</title></head><body><div class=\"nav\"><a href=\"/a\">home</a> " +
        s"<a href=\"/b\">next</a></div><p>${texts(i)}</p><p>${texts((i + 1) % texts.length)}</p>" +
        "<script>var x = 1;</script></body></html>"
    val htmlRows: Array[InternalRow] = texts.indices.map(i => InternalRow(UTF8String.fromString(html(i)))).toArray
    val lineRows: Array[InternalRow] = texts.map(t =>
      InternalRow(UTF8String.fromString(t.split(' ').grouped(6).map(_.mkString(" ")).mkString("\n"))))

    val words = texts.map(_.split(' '))
    val bigrams = words.flatMap(w => w.sliding(2).collect { case Array(a, b) => s"$a $b" })
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val model = BigramLmLocal(bigrams,
      bigrams.toSeq.groupMapReduce(_._1.takeWhile(_ != ' '))(_._2)(_ + _),
      words.flatten.toSet, alpha = 0.1)

    val a = AttributeReference("a", ArrayType(FloatType, containsNull = false))()
    val b = AttributeReference("b", ArrayType(FloatType, containsNull = false))()
    val vecRows: Array[InternalRow] = vectors.indices.map { i =>
      InternalRow(new GenericArrayData(vectors(i).map(x => x: Any)),
        new GenericArrayData(vectors((i * 7 + 1) % vectors.length).map(x => x: Any)))
    }.toArray

    val md5Bytes = texts.map(_.getBytes("UTF-8"))
    var sink = 0L
    val md5 = timePasses(md5Bytes.length) { () =>
      md5Bytes.foreach(x => sink ^= FastMd5.hash64(x, 0, x.length))
    }

    val x = AttributeReference("x", LongType)()
    val agg = Decimal128Sum(x, 2)
    val buf = agg.aggBufferAttributes
    val init = MutableProjection.create(agg.initialValues, Nil)
    val update = MutableProjection.create(agg.updateExpressions, buf ++ Seq(x))
    val result = UnsafeProjection.create(Seq(agg.evaluateExpression), buf)
    val rnd = new scala.util.Random(texts.length)
    val money: Array[InternalRow] = Array.fill(texts.length * 20)(InternalRow(rnd.nextInt(10000000).toLong))
    val buffer = new SpecificInternalRow(buf.map(_.dataType))
    val joined = new JoinedRow
    val dec = timePasses(money.length) { () =>
      init.target(buffer).apply(InternalRow.empty)
      update.target(buffer)
      money.foreach(r => update(joined(buffer, r)))
      sink ^= result(buffer).getDouble(0).toLong
    }

    Map(
      "MinHashState" -> projected(MinHashState(text, 32, 3, 8, 42L), Seq(text), rows),
      "SimHash64" -> projected(SimHash64(text), Seq(text), rows),
      "TokStats" -> projected(TokStats(text), Seq(text), rows),
      "BigramPpl" -> projected(BigramPpl(text, model), Seq(text), rows),
      "FilterLines" -> projected(FilterLines(text, "\n", FilterLines.LineRules(minChars = 20, minTokens = 3)),
        Seq(text), lineRows),
      "HtmlTextExtract" -> projected(HtmlTextExtract(text, HtmlTextExtract.HtmlRules()), Seq(text), htmlRows),
      "CosineSim" -> projected(CosineSim(a, b), Seq(a, b), vecRows),
      "FastMd5" -> md5,
      "Decimal128Sum" -> dec)
      .tap(_ => blackhole = sink)
  }
}
