package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Data-layout control for scan-time pruning — the storage companion to
  * [[Bucketing]] (which co-locates JOINS; this prunes SCANS).
  *
  * Parquet keeps min/max statistics per row group ("zone maps"): a filter
  * pushed to the scan skips every row group whose range can't match. That
  * only bites when the data is CLUSTERED on the filter column — a random
  * layout gives every row group the full min..max span and nothing skips.
  * `writeSorted` materializes exactly that clustering:
  * `repartitionByRange` (one range shuffle, contiguous non-overlapping
  * spans per file) + `sortWithinPartitions` (contiguous spans per row group
  * INSIDE each file) — so a point or range predicate touches the few row
  * groups it overlaps instead of the whole table. At 100 TB this is the
  * difference between reading ~everything and reading ~selectivity.
  *
  * The effect is pinned in LayoutSpec by the scan's own numOutputRows
  * metric: the same filter over the same rows emits a fraction of the rows
  * from the sorted layout vs the shuffled one (row groups that min/max-miss
  * never reach the reader).
  */
object Layout {

  /** Write `df` range-clustered on `sortCols`. `rowGroupBytes` caps the
    * parquet block size — smaller groups = finer pruning granularity at
    * slightly more footer overhead (default 128 MB is right for 100 TB
    * tables; tests use tiny groups to get many groups from little data).
    */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  rowGroupBytes: Option[Long] = None): Unit = {
    require(sortCols.nonEmpty, "Layout.writeSorted: at least one sort column required")
    sortCols.foreach(c => require(df.columns.contains(c),
      s"Layout.writeSorted: input has no '$c' column"))
    val cols = sortCols.map(col)
    val w = df.repartitionByRange(cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite)
    rowGroupBytes.fold(w)(b => w.option("parquet.block.size", b.toString))
      .parquet(path)
    carryConstraints(df, path)
  }

  /** A layout rewrite is row-preserving, so the source scan's RELY facts
    * (uniqueness, FK totality, NDV bounds) hold verbatim on the copy —
    * carry them, or every fact-licensed optimizer rule silently switches
    * off over the rewritten table (measured at sf100: the rollup shape ran
    * 37% SLOWER on a freshly sorted lineitem purely because
    * [[graft.plans.PreAggregateGroupingSets]] lost its NDV license —
    * BASELINE.md r19). No-op when the input isn't a single scan.
    */
  private def carryConstraints(df: DataFrame, path: String): Unit = {
    graft.plans.Constraints.redeclare(df, df.sparkSession.read.parquet(path))
    ()
  }

  /** Exact per-column MAX of integer columns from parquet FOOTER statistics
    * — a driver-side metadata read (guide §6: statistics exist so readers
    * skip data; a bounds probe that feeds a pruning predicate should not
    * pay a full column scan to learn what every footer already states).
    * Parquet int32/int64 min/max stats are exact (computed from the
    * values, no truncation), so the result equals `agg(max(col))`
    * bit-for-bit whenever it returns `Some` — and it returns `None` (fall
    * back to the scan) when ANY block lacks usable stats for ANY requested
    * column, or the columns aren't plain integer-typed, so a caller can
    * never read a wrong bound. Cost: one bounded footer read per part
    * file, vs one full scan task per split.
    */
  def footerLongMax(spark: org.apache.spark.sql.SparkSession, path: String,
                    cols: Seq[String]): Option[Map[String, Long]] = {
    require(cols.nonEmpty, "Layout.footerLongMax: no columns requested")
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val acc = scala.collection.mutable.Map.empty[String, Long]
    var usable = true
    try {
      // Hadoop FileSystem listing, NOT java.io.File: the probe exists for
      // 100 TB tables, which live on HDFS/S3 where a local-FS listing sees
      // nothing and silently forfeits the optimization to the full-scan
      // fallback (r21 VERDICT). The local filesystem is just another
      // FileSystem impl here, so tests and local runs go through the same
      // code path. Listing errors (missing path, permission) land in the
      // NonFatal catch below → None → caller falls back to the scan.
      // Names starting with `_` or `.` are hidden from the table, the same
      // rule Spark's file index applies: a staged or aborted write left
      // beside the data must not set the bound.
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      def visible(name: String) = !name.startsWith("_") && !name.startsWith(".")
      val parts: Seq[org.apache.hadoop.fs.Path] =
        if (fs.getFileStatus(root).isDirectory)
          fs.listStatus(root).toSeq
            .filter(s => s.isFile && visible(s.getPath.getName) &&
              s.getPath.getName.endsWith(".parquet"))
            .map(_.getPath)
        else Seq(root)
      usable = parts.nonEmpty
      val it = parts.iterator
      while (usable && it.hasNext) {
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(it.next(), conf))
        try {
          val blocks = reader.getFooter.getBlocks.iterator()
          while (usable && blocks.hasNext) {
            val block = blocks.next()
            if (block.getRowCount > 0) {
              val byName = {
                val m = scala.collection.mutable.Map
                  .empty[String, org.apache.parquet.hadoop.metadata.ColumnChunkMetaData]
                block.getColumns.forEach(cc => { m(cc.getPath.toDotString) = cc; () })
                m
              }
              cols.foreach { c =>
                byName.get(c) match {
                  case None => usable = false // column missing: no safe answer
                  case Some(cc) =>
                    // The LOGICAL type must be a plain signed int: int32/
                    // int64-BACKED columns with a decimal/timestamp/date/
                    // unsigned annotation also carry Integer/Long stats
                    // objects, but their values are raw physical longs
                    // (unscaled decimals, unsigned bit patterns) — matching
                    // on the stats object's runtime class alone would
                    // return a silently wrong bound for them (r21 review).
                    val pt = cc.getPrimitiveType
                    val ptn = pt.getPrimitiveTypeName
                    val intBacked =
                      ptn == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64 ||
                      ptn == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT32
                    val plainSigned = pt.getLogicalTypeAnnotation match {
                      case null => true
                      case a: org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                        a.isSigned
                      case _ => false // decimal/timestamp/date/unsigned/...
                    }
                    val st = cc.getStatistics
                    // stats absent/unreadable → fall back; a block whose
                    // rows are ALL null simply contributes nothing
                    if (!(intBacked && plainSigned)) usable = false
                    else if (st == null || st.isEmpty) usable = false
                    else if (st.hasNonNullValue) st.genericGetMax match {
                      case l: java.lang.Long =>
                        acc(c) = acc.get(c).fold(l.longValue)(math.max(_, l.longValue))
                      case i: java.lang.Integer =>
                        acc(c) = acc.get(c).fold(i.longValue)(math.max(_, i.longValue))
                      case _ => usable = false // non-integer stats type
                    }
                }
              }
            }
          }
        } finally reader.close()
      }
    } catch { case scala.util.control.NonFatal(_) => usable = false }
    if (usable && cols.forall(acc.contains)) Some(acc.toMap) else None
  }

  /** Morton (Z-order) interleave of two non-negative bucket ids, `bits` bits
    * each: bit i of `a` lands at output bit 2i, bit i of `b` at 2i+1. Built
    * entirely from `shiftright`/`shiftleft`/bitwise built-ins, so it stays
    * inside whole-stage codegen — no UDF, no custom expression needed for
    * pure integer algebra. Engine-portable (the DuckDB oracle evaluates the
    * same bit formula), which is what lets `q_zorder_key` hash-check it.
    */
  def zOrderKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"Layout.zOrderKey: bits must be in [1, 31], got $bits")
    val al = a.cast("long"); val bl = b.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_.bitwiseOR(_))
  }

  /** Equi-width bucket id in [0, 2^bits) for `v` given the column's global
    * [min, max] — integer arithmetic only, so Spark and the oracle agree
    * bit-for-bit. Values at max land in the top bucket (the +1 span).
    */
  private def equiWidthBucket(v: Column, min: Long, max: Long, bits: Int): Column = {
    val span = max - min + 1
    ((v.cast("long") - lit(min)) * lit(1L << bits) / lit(span)).cast("long")
  }

  /** Write `df` Z-order-clustered on two integer columns — the layout for
    * tables filtered on EITHER or BOTH of two dimensions. `writeSorted`'s
    * lexicographic order prunes only its leading column: a filter on the
    * second column alone skips nothing, because every row group spans that
    * column's full range. The Morton curve interleaves the two columns'
    * bucket bits, so consecutive key ranges are LOCALIZED in both
    * dimensions at once — each row group covers a small tile of the
    * (colA, colB) plane and a range predicate on either column min/max-
    * skips the tiles it cannot touch (the Delta/Iceberg OPTIMIZE ZORDER
    * recipe, re-expressed as a plain range-shuffle + sort).
    *
    * Scale shape: ONE bounded stats job (global min/max of the two
    * columns — two longs to the driver), then bucket assignment and key
    * interleave evaluate inside the scan projection, and the only exchange
    * is `repartitionByRange` on the key — exactly `writeSorted`'s cost.
    * The key is dropped before writing (a projection after the sort keeps
    * the row order); readers see the original schema, just better laid out.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    bits: Int = 8, rowGroupBytes: Option[Long] = None): Unit = {
    Seq(colA, colB).foreach(c => require(df.columns.contains(c),
      s"Layout.writeZOrdered: input has no '$c' column"))
    require(!df.columns.contains("__graft_z"),
      "Layout.writeZOrdered: input already has a '__graft_z' column — rename it first")
    require(bits >= 1 && bits <= 31, s"Layout.writeZOrdered: bits must be in [1, 31], got $bits")
    val stats = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    require(!stats.anyNull, s"Layout.writeZOrdered: '$colA'/'$colB' are all-NULL or empty input")
    val (aMin, aMax) = (stats.getLong(0), stats.getLong(1))
    val (bMin, bMax) = (stats.getLong(2), stats.getLong(3))
    val zed = df.withColumn("__graft_z",
      zOrderKey(equiWidthBucket(col(colA), aMin, aMax, bits),
                equiWidthBucket(col(colB), bMin, bMax, bits), bits))
    val w = zed.repartitionByRange(col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite)
    rowGroupBytes.fold(w)(b => w.option("parquet.block.size", b.toString))
      .parquet(path)
    carryConstraints(df, path)
  }
}
