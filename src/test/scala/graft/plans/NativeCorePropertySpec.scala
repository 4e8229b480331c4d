package graft.plans

import org.scalatest.funsuite.AnyFunSuite

/** Randomized-model tests for the pure-JVM cores of the round-8 native
  * expressions — no Spark session needed, so thousands of random cases are
  * cheap. The Spark-level parity specs (TopKAggregateSpec, WinnowSpec,
  * TfidfSpec) pin the plan integration on curated edges; these pin the
  * algorithms themselves against independent reference implementations on
  * seeded-random input (deterministic — a failure names its case).
  */
class NativeCorePropertySpec extends AnyFunSuite {

  // ---- TopKBuffer vs sort-take reference ----

  private def refTopK(entries: Seq[(java.lang.Double, Long)], k: Int): Seq[(Option[Long], Long)] = {
    // rank order: non-null first, score desc with NaN greatest and
    // -0.0 == 0.0 (normalized compare), id asc ties — the window twin.
    // Scores compared as NORMALIZED bits (the buffer stores the raw value
    // but -0.0/0.0 rank equal, so output order between them follows ids).
    entries.map { case (s, id) => (Option(s).map(_.doubleValue), id) }
      .sortWith { case ((s1, id1), (s2, id2)) =>
        (s1, s2) match {
          case (Some(a), Some(b)) =>
            val c = java.lang.Double.compare(a + 0.0, b + 0.0)
            if (c != 0) c > 0 else id1 < id2
          case (Some(_), None) => true
          case (None, Some(_)) => false
          case (None, None) => id1 < id2
        }
      }
      .take(k)
      .map { case (s, id) =>
        (s.map(d => java.lang.Double.doubleToLongBits(d + 0.0)), id) }
  }

  test("TopKBuffer insert+merge equals sort-take on 500 random cases") {
    val rnd = new scala.util.Random(20260813L)
    for (iter <- 0 until 500) {
      val n = rnd.nextInt(40)
      val entries = Seq.fill(n) {
        val s: java.lang.Double = rnd.nextInt(6) match {
          case 0 => null
          case 1 => java.lang.Double.valueOf(Double.NaN)
          case 2 => java.lang.Double.valueOf(0.0)
          case 3 => java.lang.Double.valueOf(-0.0)
          case _ => java.lang.Double.valueOf(math.floor(rnd.nextDouble() * 8) - 4)
        }
        (s, rnd.nextInt(10).toLong)
      }
      val k = 1 + rnd.nextInt(7)
      val splits = 1 + rnd.nextInt(4)
      // split into partial buffers then merge — exercises the merge path
      val groups = entries.zipWithIndex.groupBy(_._2 % splits).values.map(_.map(_._1))
      val merged = groups.foldLeft(new TopKBuffer(k)) { (acc, g) =>
        val b = new TopKBuffer(k)
        g.foreach { case (s, id) => b.insert(s == null, if (s == null) 0.0 else s, id) }
        acc.mergeIn(b); acc
      }
      val got = (0 until merged.n).map(i =>
        (if (merged.nulls(i)) None
         else Some(java.lang.Double.doubleToLongBits(merged.scores(i) + 0.0)), merged.ids(i)))
      assert(got == refTopK(entries, k),
        s"iter=$iter k=$k splits=$splits entries=$entries got=$got expect=${refTopK(entries, k)}")
    }
  }

  // ---- WinnowFps.compute vs independent model ----

  private def modelFps(text: String, k: Int, w: Int): Set[String] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val t = text.replaceAll("^\\s+|\\s+$", "").split("\\s+")
    val grams = (0 to t.length - k).map(i => md5hex(t.slice(i, i + k).mkString(" ")))
    (0 to grams.length - w).map(p => grams.slice(p, p + w).min).toSet
  }

  private def randomDoc(rnd: scala.util.Random): String = {
    val vocab = Array("a", "b", "ab", "xyz", "日本", "Z9")
    val seps = Array(" ", "  ", "\t", " \n ")
    val n = rnd.nextInt(40)
    val sb = new StringBuilder
    for (i <- 0 until n) {
      if (i > 0) sb.append(seps(rnd.nextInt(seps.length)))
      sb.append(vocab(rnd.nextInt(vocab.length)))
    }
    if (rnd.nextBoolean()) sb.insert(0, "  ")
    sb.toString
  }

  // empty, all-whitespace and control-character-edged texts
  private val edgeDocs = Seq("", "   ", "\t\r\n", "\u0000the fox\u001c",
    "\u001fa\u00a0b\u3000 c \u0000", "x\r\ny\u000bx\u000cy")

  test("WinnowFps.compute equals the independent model on 500 random docs") {
    for (text <- edgeDocs; k <- 1 to 3; w <- 1 to 3) {
      val arr = WinnowFps.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), k, w)
      val got = (0 until arr.numElements()).map(arr.getUTF8String(_).toString).toSet
      assert(got == modelFps(text, k, w), s"edge text='$text' k=$k w=$w")
    }
    val rnd = new scala.util.Random(7L)
    for (iter <- 0 until 500) {
      val text = randomDoc(rnd)
      val k = 1 + rnd.nextInt(4)
      val w = 1 + rnd.nextInt(4)
      val arr = WinnowFps.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), k, w)
      val got = (0 until arr.numElements()).map(arr.getUTF8String(_).toString).toSet
      assert(got == modelFps(text, k, w), s"iter=$iter text='$text' k=$k w=$w")
    }
  }

  // ---- TermCounts.compute vs naive counting ----

  test("TermCounts.compute equals naive token counting on 500 random docs") {
    val rnd = new scala.util.Random(11L)
    for (iter <- -edgeDocs.length until 500) {
      val text = if (iter < 0) edgeDocs(iter + edgeDocs.length) else randomDoc(rnd)
      val row = TermCounts.compute(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      val arr = row.getArray(1)
      val got = (0 until arr.numElements()).map { i =>
        val e = arr.getStruct(i, 2)
        e.getUTF8String(0).toString -> e.getInt(1)
      }.toMap
      val toks = text.replaceAll("^\\s+|\\s+$", "").split("\\s+")
      assert(row.getInt(0) == toks.length, s"iter=$iter ntok text='$text'")
      val expect = toks.filter(_.nonEmpty).groupBy(identity).view.mapValues(_.length).toMap
      assert(got == expect, s"iter=$iter text='$text'")
    }
  }

  // ---- BigramCounts.compute vs naive pair counting ----

  test("BigramCounts.compute equals naive bigram counting on 500 random docs") {
    val rnd = new scala.util.Random(12L)
    for (iter <- -edgeDocs.length until 500) {
      val text = if (iter < 0) edgeDocs(iter + edgeDocs.length) else randomDoc(rnd)
      val row = BigramCounts.compute(org.apache.spark.unsafe.types.UTF8String.fromString(text))
      val arr = row.getArray(1)
      val got = (0 until arr.numElements()).map { i =>
        val e = arr.getStruct(i, 3)
        (e.getUTF8String(0).toString, e.getUTF8String(1).toString) -> e.getInt(2)
      }.toMap
      val toks = text.replaceAll("^\\s+|\\s+$", "").split("\\s+")
      assert(row.getInt(0) == math.max(toks.length - 1, 0), s"iter=$iter nbg text='$text'")
      val expect = toks.zip(toks.drop(1)).groupBy(identity).view.mapValues(_.length).toMap
      assert(got == expect, s"iter=$iter text='$text'")
    }
  }

  // ---- Decimal128 scaled-long conversion vs the toString/HALF_UP model ----

  private def refScaled(d: Double, scale: Int): java.lang.Long = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return null
    val bd = new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(scale, java.math.RoundingMode.HALF_UP)
    if (bd.precision > 18) null else java.lang.Long.valueOf(bd.unscaledValue.longValue)
  }

  test("Decimal128.toScaledLong equals the shortest-string HALF_UP model on raw-bit doubles") {
    val rnd = new scala.util.Random(98127L)
    for (scale <- Seq(0, 2, 4, 6); iter <- 0 until 4000) {
      // three regimes: arbitrary bit patterns (subnormals, NaN payloads,
      // huge exponents -> slow path + overflow nulls), money-like exact
      // cents (the fast path), and fast-path boundary magnitudes
      val d = rnd.nextInt(3) match {
        case 0 => java.lang.Double.longBitsToDouble(rnd.nextLong())
        case 1 => (rnd.nextLong() % 200000000000L) / 100.0
        case _ => (rnd.nextLong() % (1L << 42)).toDouble / math.pow(10, rnd.nextInt(7))
      }
      assert(Decimal128.toScaledLong(d, scale) == refScaled(d, scale),
        s"scale=$scale iter=$iter d=$d bits=${java.lang.Double.doubleToRawLongBits(d)}")
    }
  }

  test("Int128 add/merge chains equal BigInteger arithmetic across the lo-word wrap") {
    val rnd = new scala.util.Random(55321L)
    for (iter <- 0 until 300) {
      val xs = Seq.fill(rnd.nextInt(60) + 1)(
        // magnitudes up to ~9e17 so a short chain crosses the 2^63 wrap
        (rnd.nextLong() % 900000000000000000L))
      var hi = 0L; var lo = 0L
      var ref = java.math.BigInteger.ZERO
      xs.foreach { x =>
        hi = Decimal128.addHi(hi, lo, x); lo = lo + x
        ref = ref.add(java.math.BigInteger.valueOf(x))
      }
      // split the same xs into two partials and merge — the map/merge path
      val (a, b) = xs.splitAt(xs.size / 2)
      var h1 = 0L; var l1 = 0L; a.foreach { x => h1 = Decimal128.addHi(h1, l1, x); l1 += x }
      var h2 = 0L; var l2 = 0L; b.foreach { x => h2 = Decimal128.addHi(h2, l2, x); l2 += x }
      val mh = Decimal128.mergeHi(h1, l1, h2, l2); val ml = l1 + l2
      val got = java.math.BigInteger.valueOf(hi).shiftLeft(64)
        .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(lo)))
      assert(got == ref, s"iter=$iter chain sum")
      assert(mh == hi && ml == lo, s"iter=$iter merge path")
      assert(Decimal128.toDouble(hi, lo, 4) ==
        new java.math.BigDecimal(ref, 4).doubleValue(), s"iter=$iter toDouble")
    }
  }
}
