package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api._

/** Loaders + the standard catalog over the driver's TPC-H-ish test tables.
  *
  * Relations mirror staticql's config-declared relation kinds
  * (reference: README "relations", src/SourceConfigResolver.ts:22-31) mapped
  * onto the star schema. No source carries a broadcast hint: customer, part
  * and supplier grow with the data, so Spark's size estimate and AQE choose
  * each join's strategy.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Memoized per (session, dir, table): every relation re-read costs a parquet
  // footer/schema pass — at ~34 registered queries × 10 tables that is
  // hundreds of redundant footer reads per Verify/Bench run, and on a real
  // cluster it is a listing+footer RPC storm. DataFrames are immutable plans;
  // sharing them is free.
  private val loadCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]
  private val catalogCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Catalog]

  /** Drop cache entries whose session has been stopped — without eviction a
    * long-lived JVM cycling sessions (test suites, services) accumulates dead
    * session graphs until OOM.
    */
  private def prune(): Unit = {
    loadCache.keys.filter(_._1.sparkContext.isStopped).foreach(loadCache.remove)
    catalogCache.keys.filter(_._1.sparkContext.isStopped).foreach(catalogCache.remove)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    prune()
    loadCache.getOrElseUpdate((spark, dir, name), {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (Spark reads
      // it only as long, and only with this conf — which must be set BEFORE
      // the read because a NANOS footer fails schema resolution without it;
      // it is a no-op for MICROS files) and TIMESTAMP(MICROS) (native read).
      // Branch on the resolved type so either vintage of testdata works.
      if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") normalizeEventsTs(df) else df
    })
  }

  /** Declared distinct-value bounds for the testdata's enum-like columns —
    * TPC-H domain facts (l_returnflag ∈ {A,N,R}, …) plus this generator's
    * own enums (documents.lang, events.event_type). These are RELY NDV
    * declarations ([[graft.plans.Constraints]]): trusted by
    * [[graft.plans.PreAggregateGroupingSets]] to license pre-aggregation
    * below grouping-sets Expands, and auditable against the data with
    * `Constraints.validateRely`. Idempotent (the registry merges).
    *
    * This is the harness's knowledge about ITS data — library users declare
    * their own domains with `Constraints.declareNdv(df, Map(col -> n))`.
    */
  def declareDomainNdvs(spark: SparkSession, dir: String): Unit = {
    val domains: Map[String, Map[String, Long]] = Map(
      "lineitem"   -> Map("l_returnflag" -> 3L, "l_linestatus" -> 2L),
      "orders"     -> Map("o_orderstatus" -> 3L, "o_orderpriority" -> 5L),
      "customer"   -> Map("c_mktsegment" -> 5L, "c_nationkey" -> 25L),
      "supplier"   -> Map("s_nationkey" -> 25L),
      "nation"     -> Map("n_nationkey" -> 25L, "n_name" -> 25L, "n_regionkey" -> 5L),
      "region"     -> Map("r_regionkey" -> 5L, "r_name" -> 5L),
      "events"     -> Map("event_type" -> 5L),
      "documents"  -> Map("lang" -> 5L, "source" -> 20L),
      "embeddings" -> Map("label" -> 10L))
    domains.foreach { case (table, bounds) =>
      try graft.plans.Constraints.declareNdv(load(spark, dir, table), bounds)
      catch { case scala.util.control.NonFatal(_) => () } // missing table: no facts
    }
  }

  /** Normalize an events frame's `ts` to TimestampType across testdata
    * vintages (works for batch and streaming frames alike):
    *  - LongType (TIMESTAMP(NANOS) read under nanosAsLong): integer `div`,
    *    NOT `/` — Spark's `/` is double division, and epoch nanos (~2^60)
    *    lose sub-256ns precision as doubles; a floor after that can land one
    *    microsecond low and shift events across window/session boundaries.
    *  - TimestampNTZType (native TIMESTAMP(MICROS) read): cast — under the
    *    UTC session TZ this is value-identical to the nanos path's output,
    *    so downstream windows, unix_* calls, and result parquet stay
    *    byte-stable across vintages.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }

  /** Spark session with the library's baseline settings. Scan-split knobs
    * are left at Spark's defaults (128 MB splits, 4 MB open cost — right
    * for real data) unless SPARK_GRAFT_MAX_PARTITION_BYTES overrides; the
    * local harnesses use [[harnessSessionFor]], which adds the
    * small-split tuning their 15-600 MB local inputs need. Verify and the
    * shared spec session run on this one (correctness is
    * split-size-independent). AQE re-plans partition counts on a real
    * cluster, so the rest scales out unchanged.
    */
  def session(master: String = defaultMaster): SparkSession =
    build(master, sys.env.get("SPARK_GRAFT_MAX_PARTITION_BYTES"))

  /** Session for the LOCAL harnesses ONLY (Bench, perfbench, Smoke), with
    * the scan-split size matched to the HARNESS scale:
    * `clamp(max(total/1024, largestFile/256), 1 MB, 128 MB)`. Inputs here
    * are 15-600 MB per table, so the 128 MB default turns most scans into
    * 1-4 tasks and leaves 28+ of the 32 cores idle on every scan-heavy
    * query (measured at sf1: the ANN corpus scan ran single-task). On real
    * data small splits would explode task counts — library callers get
    * [[session]], which keeps Spark's default. (Splitting also needs
    * multi-row-group parquet; tools/gen_sf.py writes small row groups for
    * the same reason.)
    *
    * Two regimes, both measured:
    *  - SMALL data wants small splits for parallelism: at sf0.1 (600 MB)
    *    most tables are under 32 cores × 2 MB, so raising the split from
    *    1 MB to 2.3 MB idles cores and cost +35% on the full surface
    *    (round-18 A/B). `total/1024` with the 1 MB floor keeps that regime.
    *  - LARGE files punish task count: each scan task re-reads the file's
    *    parquet FOOTER, whose size grows with the file (row-group × column
    *    metadata), so per-task fixed cost rises with scale — sf100's 11 GB
    *    lineitem at 17 MB splits (650 tasks) measured ~8 ms/task of pure
    *    footer/launch floor: q_agg_pricing 10.9 s vs 7.7 s at 64 MB splits,
    *    identical plan, and the whole 43–128 MB range is flat within the
    *    window band. `largestFile/256` bounds tasks-per-file at ~256, so
    *    footer re-parse work stays O(file size), and the 128 MB cap
    *    converges to Spark's default exactly when real (100 TB) data is
    *    reached — where library callers use [[session]] and Spark's own
    *    per-scan `bytesPerCore` adaptation anyway.
    * The env override still wins — per-round artifacts stay reproducible.
    */
  def harnessSessionFor(sfDir: String, master: String = defaultMaster): SparkSession = {
    val split = sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", {
      val sizes = try {
        val d = new java.io.File(sfDir)
        Option(d.listFiles()).map(_.filter(_.getName.endsWith(".parquet"))
          .map(_.length()).toSeq).getOrElse(Nil)
      } catch { case scala.util.control.NonFatal(_) => Nil }
      splitBytesFor(sizes).toString
    })
    build(master, Some(split))
  }

  /** The harness split rule as a pure function of the input file sizes —
    * see [[harnessSessionFor]] for the two measured regimes it encodes.
    * Empty input (unreadable dir) falls back to the 1 MB floor. */
  def splitBytesFor(sizes: Seq[Long]): Long = {
    val total   = sizes.sum
    val largest = if (sizes.isEmpty) 0L else sizes.max
    math.max(1L << 20, math.min(128L << 20, math.max(total / 1024, largest / 256)))
  }

  private def defaultMaster: String =
    s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"

  private def build(master: String, maxPartitionBytes: Option[String]): SparkSession = {
    var builder = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // ObjectHashAggregate falls back to SORT-BASED aggregation once a
      // partition's hash map sees this many distinct keys (Spark default:
      // 128). graft's bounded aggregates (TopKAggregate: ≤k ids per group)
      // exist precisely so the exchange carries answers, not candidates —
      // at 128 the ANN batch paths (one group per query, thousands of
      // queries per partition) silently degraded to sorting EVERY scored
      // candidate: measured at sf100, q_ann_batch's partial agg sorted the
      // full 40B-row candidate stream and filled 60 GB of spill before
      // dying. 64k keys × bounded buffers is ~10 MB per partition; for
      // unbounded collect_* states the fallback still engages, just later.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // Consume bucket-SORT metadata: with this off (the 3.0+ default,
      // changed for listing-cost reasons, not soundness) a sorted bucketed
      // scan never reports its ordering and every window/merge-join over it
      // re-sorts data that is already sorted on disk. Spark itself still
      // guards the claim per scan — FileSourceScanLike computes outputOrdering
      // only when ScanFileListing.bucketsContainSingleFile() holds and no
      // bucket coalescing applies — so a multi-file bucket can never claim
      // an order it doesn't have. Bucketing.writeBucketed guarantees the
      // single-file invariant for every graft sorted-bucket write.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    // Both scan-split knobs are HARNESS tuning (small local inputs):
    // library sessions keep Spark's defaults (128 MB splits, 4 MB open
    // cost) — right for real data.
    maxPartitionBytes.foreach { b =>
      builder = builder
        .config("spark.sql.files.maxPartitionBytes", b)
        .config("spark.sql.files.openCostInBytes", "131072")
    }
    val spark = builder.getOrCreate()
    // one shuffle partition per local thread; a cluster master keeps
    // Spark's setting (AQE coalesces it there)
    if (master.startsWith("local["))
      spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queryable catalog for a scale-factor directory. Slug = primary key
    * (lineitem gets a synthetic `slug` since its key is composite).
    */
  def catalog(spark: SparkSession, dir: String): Catalog = {
    prune()
    catalogCache.getOrElseUpdate((spark, dir), buildCatalog(spark, dir))
  }

  private def buildCatalog(spark: SparkSession, dir: String): Catalog = {
    def t(n: String) = load(spark, dir, n)
    // Per-table isolation: one unreadable table (env drift, a corrupt file)
    // must only fail queries that actually touch it — never the whole
    // catalog. A failed SourceDef is dropped; queries over it then throw
    // Catalog's "Source not found" while every other source keeps working.
    // (Round 10 lost 32 queries to a single events schema change because
    // this construction was all-or-nothing.)
    // NonFatal only: an OOM/LinkageError must crash the process, not be
    // reported as "table unavailable" while the JVM limps on corrupted
    def safe(name: String)(mk: => SourceDef): Option[SourceDef] =
      try Some(mk)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] catalog: table '$name' unavailable, skipping: ${e.getMessage}")
        None
      }
    val defs = (Seq(
      safe("lineitem") {
        val lineitem = t("lineitem")
          .withColumn("slug", concat_ws("-", col("l_orderkey"), col("l_linenumber")))
        SourceDef("lineitem", lineitem, slugField = "slug",
          relations = Map(
            "part" -> BelongsTo("part", "part", "l_partkey", "p_partkey"),
            "supplier" -> BelongsTo("supplier", "supplier", "l_suppkey", "s_suppkey"),
            "order" -> BelongsTo("order", "orders", "l_orderkey", "o_orderkey")))
      }) ++ Seq(
      safe("region")(SourceDef("region", t("region"), slugField = "r_regionkey",
        relations = Map(
          "nations" -> HasMany("nations", "nation", "r_regionkey", "n_regionkey"),
          "customers" -> HasManyThrough("customers", "customer", "nation",
            sourceLocalKey = "r_regionkey", throughForeignKey = "n_regionkey",
            throughLocalKey = "n_nationkey", targetForeignKey = "c_nationkey")))),
      safe("nation")(SourceDef("nation", t("nation"), slugField = "n_nationkey",
        relations = Map(
          "region" -> BelongsTo("region", "region", "n_regionkey", "r_regionkey")))),
      safe("customer")(SourceDef("customer", t("customer"), slugField = "c_custkey",
        relations = Map(
          "nation" -> HasOne("nation", "nation", "c_nationkey", "n_nationkey"),
          "orders" -> HasMany("orders", "orders", "c_custkey", "o_custkey"),
          "region" -> HasOneThrough("region", "region", "nation",
            sourceLocalKey = "c_nationkey", throughForeignKey = "n_nationkey",
            throughLocalKey = "n_regionkey", targetForeignKey = "r_regionkey")))),
      safe("supplier")(SourceDef("supplier", t("supplier"), slugField = "s_suppkey",
        relations = Map(
          "nation" -> HasOne("nation", "nation", "s_nationkey", "n_nationkey"),
          "region" -> HasOneThrough("region", "region", "nation",
            sourceLocalKey = "s_nationkey", throughForeignKey = "n_nationkey",
            throughLocalKey = "n_regionkey", targetForeignKey = "r_regionkey")))),
      safe("part")(SourceDef("part", t("part"), slugField = "p_partkey",
        relations = Map(
          "lineitems" -> HasMany("lineitems", "lineitem", "p_partkey", "l_partkey")))),
      safe("orders")(SourceDef("orders", t("orders"), slugField = "o_orderkey",
        relations = Map(
          "customer" -> BelongsTo("customer", "customer", "o_custkey", "c_custkey"),
          "lineitems" -> HasMany("lineitems", "lineitem", "o_orderkey", "l_orderkey")))),
      safe("events")(SourceDef("events", t("events"), slugField = "event_id")),
      safe("documents")(SourceDef("documents", t("documents"), slugField = "doc_id")),
      safe("embeddings")(SourceDef("embeddings", t("embeddings"), slugField = "vec_id"))
    )).flatten
    registerRelyConstraints(defs)
    new Catalog(defs)
  }

  /** Scan identity + base-scan column names of a frame backed by exactly one
    * file scan (None for multi-scan/in-memory frames). */
  private def scanInfo(df: DataFrame): Option[(String, Set[String])] = {
    val scans = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }
    scans match {
      case Seq(one) =>
        graft.plans.Constraints.scanTag(one).map(t => (t, one.output.map(_.name).toSet))
      case _ => None
    }
  }

  /** Feed the RELY constraint registry ([[graft.plans.Constraints]]) from
    * the catalog's declared shape, powering the RI-aware optimizer rules
    * (graft.plans.RiRules):
    *  - a `slugField` that is a real scan column is a declared unique key
    *    (the reference treats slugs as identities — find(), cursor
    *    pagination and index diffs all assume uniqueness already);
    *  - `belongsTo` declares an FK from this table's localKey to the
    *    target's key; `hasMany` declares the inverse (FK lives on the
    *    target). Only keys that are real scan columns pointing at the
    *    parent's declared unique key register — and, like RELY constraints
    *    everywhere, a declaration the data violates yields the declared
    *    semantics, not the data's.
    *  - `hasOne` derives NOTHING. It promises ≤1 match per PARENT key
    *    value — not that the target's foreignKey column is globally unique
    *    (orphan target rows matching no parent may duplicate freely), and
    *    certainly not that it is non-null, which is what a
    *    [[graft.plans.Constraints.TableConstraints.uniqueCols]] entry
    *    means. Deriving FK totality (rounds ≤17) or FK uniqueness+non-null
    *    (round 18) from it would let [[graft.plans.RiJoinElimination]] /
    *    [[graft.plans.TopNThroughRiJoin]] rewrite unrelated joins on a
    *    fact the relation never promised. Callers whose target FK IS
    *    unique+non-null declare it explicitly via
    *    [[graft.plans.Constraints.register]] and audit it with
    *    [[graft.plans.Constraints.validateRely]].
    */
  private[graft] def registerRelyConstraints(defs: Seq[SourceDef]): Unit = {
    import graft.plans.Constraints
    val info: Map[String, (String, Set[String])] =
      defs.flatMap(d => scanInfo(d.df).map(d.name -> _)).toMap
    val byName = defs.map(d => d.name -> d).toMap
    def fk(childTable: String, childCol: String,
           parentTable: String, parentCol: String): Option[(String, Constraints.Fk)] =
      for {
        (ctag, ccols) <- info.get(childTable)
        (ptag, pcols) <- info.get(parentTable)
        pd <- byName.get(parentTable)
        if ccols(childCol) && pcols(parentCol) && pd.slugField == parentCol
      } yield ctag -> Constraints.Fk(childCol, ptag, parentCol)
    val fks: Seq[(String, Constraints.Fk)] = defs.flatMap { d =>
      d.relations.values.toSeq.flatMap {
        case BelongsTo(_, to, localKey, foreignKey) => fk(d.name, localKey, to, foreignKey)
        case HasMany(_, to, localKey, foreignKey)   => fk(to, foreignKey, d.name, localKey)
        case _                                      => None
      }
    }
    defs.foreach { d =>
      info.get(d.name).foreach { case (tag, cols) =>
        // hasOne contributes nothing here (see the Scaladoc above): only the
        // declared slug identity registers as unique+non-null.
        val uniques: Set[String] = Set(d.slugField).filter(cols)
        Constraints.register(tag, Constraints.TableConstraints(
          uniques, fks.collect { case (t, f) if t == tag => f }))
      }
    }
  }
}
