package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** A stored artifact a registered query reads — an index, a rewritten
  * layout, a markdown tree — built once per (session, sf-dir). `apply` is
  * the one accessor: it returns the memoized value and builds it on first
  * use. A query declares the artifacts it reads in its registry entry's
  * `needs`; [[SparkEntry.prewarmStoredArtifacts]] builds exactly those.
  */
sealed abstract class Artifact[T](val what: String) {
  protected def build(s: SparkSession, dir: String): T

  /** Frees what a value holds beyond its files when [[Artifact.clearMemo]]
    * drops it. */
  protected def release(value: T): Unit = ()

  final def apply(s: SparkSession, dir: String): T = {
    Artifact.pruneStopped()
    Artifact.memo.getOrElseUpdate((s, dir, this), build(s, dir)).asInstanceOf[T]
  }

  private def drop(value: Any): Unit = release(value.asInstanceOf[T])
}

object Artifact {
  // Build-once memoization per (session, sf-dir): the stored BM25/IVF
  // retrieval paths exist to separate BUILD cost (paid once, amortized over
  // a day of queries at 100 TB) from PROBE cost (what a query pays). The
  // first call per session builds the warehouse table; later calls — the
  // bench's interleaved samples 2..n, every Verify re-read — only probe.
  // NOTE single-process assumption: table/tree names are keyed by the sf
  // dir only, and builds destructively clear stale state — two harness
  // processes over the same dir would race. Verify and Bench run
  // sequentially; embedders wanting concurrency should namespace
  // their own index tables.
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Artifact[_]), Any]

  /** Same stopped-session eviction as Tables.loadCache — without it a
    * long-lived JVM cycling sessions pins every dead session graph. */
  private def pruneStopped(): Unit =
    memo.keys.filter(_._1.sparkContext.isStopped).foreach(memo.remove)

  /** Test hook — drop every memoized artifact (releasing what it holds) so
    * a spec can drive the cross-session [[reuseOrBuild]] path inside one
    * JVM. */
  private[graft] def clearMemo(): Unit =
    memo.keys.foreach(k => memo.remove(k).foreach(k._3.drop))

  /** The artifacts memoized for (session, dir). */
  private[graft] def memoized(s: SparkSession, dir: String): Set[Artifact[_]] =
    memo.keys.collect { case (`s`, `dir`, a) => a }.toSet

  // md5, not String.hashCode: 32-bit hashCode collisions are constructible,
  // and two dirs sharing a tag would silently serve each other's indexes
  private def tableTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"${b & 0xff}%02x").mkString

  /** Fingerprint of the SOURCE parquet a stored artifact derives from —
    * part-file names, sizes, and mtimes. The artifact tag keys on the sf-dir
    * PATH, and testdata is regenerated at the SAME path each round,
    * so a path-keyed artifact can go stale while its path stays valid; the
    * fingerprint catches exactly that (any rewrite of the source changes
    * size or mtime).
    */
  private def sourceFingerprint(dir: String, table: String): String = {
    val f = new java.io.File(dir, s"$table.parquet")
    val parts: Array[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      else Array(f)
    // name:size:mtime PLUS a head+tail content sample (4 KB each) per part
    // (ADVICE r20: a source regenerated within the filesystem's mtime
    // granularity with identical names/sizes would otherwise serve a stale
    // artifact — the parquet footer lives in the tail sample, so any
    // rewrite that changes row groups or stats changes the fingerprint
    // even under an mtime collision). Cost: two bounded reads per part,
    // once per artifact validate/build — not per query.
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { p =>
      md.update(s"${p.getName}:${p.length}:${p.lastModified}|"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (p.isFile && p.length > 0) {
        val raf = new java.io.RandomAccessFile(p, "r")
        try {
          val head = new Array[Byte](math.min(4096L, raf.length).toInt)
          raf.readFully(head); md.update(head)
          if (raf.length > 4096) {
            val tail = new Array[Byte](math.min(4096L, raf.length - 4096).toInt)
            raf.seek(raf.length - tail.length); raf.readFully(tail); md.update(tail)
          }
        } finally raf.close()
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** The artifact-validity half of the reuse protocol, shared by
    * [[reuseOrBuild]] and [[BucketedEvents]] — one source of truth for the
    * marker name and the read: valid = `_SUCCESS` present AND the marker
    * matches the expected fingerprint. */
  private def artifactValid(path: String, fpr: String): Boolean = {
    val marker = new java.io.File(path, "_GRAFT_SRC_FPR")
    new java.io.File(path, "_SUCCESS").exists() && marker.exists() &&
      scala.util.Try(new String(java.nio.file.Files.readAllBytes(marker.toPath),
        java.nio.charset.StandardCharsets.UTF_8)).toOption.contains(fpr)
  }

  private def writeArtifactMarker(path: String, fpr: String): Unit = {
    java.nio.file.Files.write(new java.io.File(path, "_GRAFT_SRC_FPR").toPath,
      fpr.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Reuse a path-based stored artifact ACROSS SESSIONS when its source
    * table is unchanged, else (re)build. Valid = `_SUCCESS` present (a
    * partial write never serves — the r19-advice lesson: a bare
    * exists() check reads interrupted writes) AND the `_GRAFT_SRC_FPR`
    * marker matches the current [[sourceFingerprint]] (a regenerated
    * testdata vintage never serves a stale rewrite). This is the production
    * shape — a deployment builds its stored layouts once and probes them
    * from every later job — and it is also what keeps bench probes clean:
    * the r19 sf100 lesson was that a 600M-row rewrite's session pressure
    * swings SAME-SESSION probe timings ±2.4×, so per-session rebuilds
    * contaminate exactly the rows the layout is meant to speed up. On reuse
    * the source's RELY facts are re-carried onto the copy (the registry is
    * per-JVM; without this every fact-licensed rule silently switches off —
    * the measured rollup +37%).
    *
    * CONVENTION (ADVICE r20): the redeclare here snapshots the source's
    * facts at FIRST memoization — a consumer that declares NDVs after this
    * helper ran loses the license silently. Every fact-dependent query row
    * must therefore own its declare+redeclare at use time, the way
    * q_agg_rollup_sorted does (declareDomainNdvs + explicit redeclare on
    * the copy), rather than relying on this call's timing.
    */
  private def reuseOrBuild(s: SparkSession, dir: String, table: String, path: String)
                          (build: => Unit): String = {
    val fpr = sourceFingerprint(dir, table)
    if (artifactValid(path, fpr))
      plans.Constraints.redeclare(Tables.load(s, dir, table), s.read.parquet(path))
    else {
      build // SaveMode.Overwrite clears the dir, stale marker included
      writeArtifactMarker(path, fpr)
    }
    path
  }

  // Bucket count 32 = the harness core count: the stored layout is also the
  // scan parallelism floor (8 buckets left 24 of 32 cores idle on every
  // probe — measured 2.15 s vs 1.99 s in-memory at sf1). At real scale pick
  // corpus-size/partition-size as Bucketing's scaladoc says.
  /** Term-bucketed BM25 postings index over documents (a catalog table). */
  object Bm25Index extends Artifact[String]("bm25 index") {
    protected def build(s: SparkSession, dir: String): String = {
      val t = s"graft_bm25_${tableTag(dir)}"
      operators.Tfidf.writePostingsIndex(Tables.load(s, dir, "documents"), t, buckets = 32)
      t
    }
  }

  /** Memoized Z-ordered lineitem copy (Layout.writeZOrdered on
    * (l_partkey, l_suppkey), 8 MB row groups for fine skip granularity) —
    * the build is paid once per (session, sf-dir) like [[StoredIvfIndex]];
    * q_zorder_pruned then measures what a production table would pay per
    * probe: a pruned scan of the rewritten layout.
    */
  object ZorderedLineitem extends Artifact[String]("zordered lineitem") {
    protected def build(s: SparkSession, dir: String): String = {
      val p = new java.io.File(s"spark-warehouse/graft_zorder_${tableTag(dir)}").getAbsolutePath
      reuseOrBuild(s, dir, "lineitem", p) {
        operators.Layout.writeZOrdered(Tables.load(s, dir, "lineitem"), p,
          "l_partkey", "l_suppkey", bits = 8, rowGroupBytes = Some(8L << 20))
      }
    }
  }

  /** Memoized key-sorted orders copy (Layout.writeSorted on o_custkey,
    * 16 MB row groups) — the deployment lever for the high-NDV aggregate
    * floor: range-partitioned-by-key storage gives every scan task a
    * DISJOINT o_custkey range, so the partial aggregate combines to ~final
    * groups and the exchange carries ~1.5M rows instead of ~13.7M (sf10);
    * measured −52% on the q_agg_topcust shape at sf100 (BASELINE.md r19
    * postscript). Build cost is paid once per (session, sf-dir), exactly
    * like [[ZorderedLineitem]]; `Layout.writeSorted` carries the RELY
    * facts onto the copy.
    */
  object CustkeySortedOrders extends Artifact[String]("custkey-sorted orders") {
    protected def build(s: SparkSession, dir: String): String = {
      val p = new java.io.File(s"spark-warehouse/graft_osorted_${tableTag(dir)}").getAbsolutePath
      reuseOrBuild(s, dir, "orders", p) {
        operators.Layout.writeSorted(Tables.load(s, dir, "orders"), p,
          Seq("o_custkey"), rowGroupBytes = Some(16L << 20))
      }
    }
  }

  /** Memoized GROUP-KEY-sorted lineitem — `Layout.writeSorted` on
    * (l_returnflag, l_linestatus) with 16 MB row groups, the clustering
    * measured at −31% on the q_agg_pricing shape at sf100 (−40% at sf10;
    * BASELINE.md "Layout attack, round 2"). 16 MB groups are load-bearing:
    * range partitioning on a 6-value key lands the table in ~6 fat files,
    * and with default 128 MB row groups the scan-split granularity degrades
    * 32-core task balance enough to REGRESS the full-scan aggregate.
    * `writeSorted` auto-carries the RELY facts onto the copy.
    */
  object GroupSortedLineitem extends Artifact[String]("group-key-sorted lineitem") {
    protected def build(s: SparkSession, dir: String): String = {
      val p = new java.io.File(s"spark-warehouse/graft_lsorted_${tableTag(dir)}").getAbsolutePath
      reuseOrBuild(s, dir, "lineitem", p) {
        operators.Layout.writeSorted(Tables.load(s, dir, "lineitem"), p,
          Seq("l_returnflag", "l_linestatus"), rowGroupBytes = Some(16L << 20))
      }
    }
  }

  /** Memoized user-bucketed + bucket-sorted events catalog table: 32 buckets
    * on user_id, each bucket sorted by (user_id, ts) in a single file
    * (writeBucketed enforces one file per bucket for sorted writes — the
    * precondition for the scan to report its ordering). This layout
    * satisfies BOTH requirements of the sessionize window
    * (hashpartitioning(user_id) distribution AND (user_id, ts) ordering)
    * and of the downstream per-user groupBy, so the whole pipeline plans
    * with ZERO shuffle exchanges and ZERO sorts — the exchange+sort that
    * r19's decomposition named as q_sessionize's floor is a LAYOUT
    * property, like the high-NDV agg floor. Build paid once per
    * (session, sf-dir); at 100 TB this is the stored event-log layout a
    * deployment owns anyway (bucket count sized corpus/partition as
    * Bucketing's scaladoc says).
    */
  object BucketedEvents extends Artifact[String]("user-bucketed events") {
    protected def build(s: SparkSession, dir: String): String = {
      val t = s"graft_events_bkt_${tableTag(dir)}"
      // EXTERNAL location + fingerprint marker = the same cross-JVM reuse
      // contract as the path-based layouts ([[reuseOrBuild]]): a fresh
      // session re-ATTACHES the bucketed files (catalog DDL only, bucket
      // ids live in the part-file names) instead of re-shuffling 100M+
      // events; a regenerated testdata vintage fails the fingerprint and
      // rebuilds.
      val loc = new java.io.File(s"spark-warehouse/${t}_data").getAbsolutePath
      val fpr = sourceFingerprint(dir, "events")
      if (artifactValid(loc, fpr)) {
        if (!s.catalog.tableExists(t))
          operators.Bucketing.registerBucketed(s, t, loc,
            buckets = 32, keys = Seq("user_id"), sortKeys = Seq("user_id", "ts"))
      } else {
        operators.Bucketing.writeBucketedAt(Tables.load(s, dir, "events"), t, loc,
          buckets = 32, keys = Seq("user_id"), sortKeys = Seq("user_id", "ts"))
        writeArtifactMarker(loc, fpr)
      }
      t
    }
  }

  /** Persisted cell-bucketed IVF index over embeddings (a catalog table). */
  object StoredIvfIndex extends Artifact[String]("ivf stored index") {
    val nlist = 8
    protected def build(s: SparkSession, dir: String): String = {
      val t = s"graft_ivf_${nlist}_${tableTag(dir)}"
      operators.Similarity.writeIvfIndex(
        operators.Similarity.ivfIndex(Tables.load(s, dir, "embeddings"), nlist = nlist),
        t, buckets = 32)
      t
    }
  }

  // In-memory sibling of StoredIvfIndex for q_ann_ivf: the fit (local
  // k-means over a bounded sample) AND the full assignment scan are build
  // cost — memoized per (session, sf-dir) and the assignment persisted +
  // materialized, so repeat runs time cell-restricted probes only.
  object IvfIndexInMemory
      extends Artifact[operators.Similarity.IvfIndex]("ivf in-memory index") {
    val nlist = 8
    protected def build(s: SparkSession, dir: String): operators.Similarity.IvfIndex = {
      val idx = operators.Similarity.ivfIndex(Tables.load(s, dir, "embeddings"), nlist = nlist)
      val assigned = idx.assigned
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assigned.count() // materialize now: the build pays the assignment scan
      idx.copy(assigned = assigned)
    }
    override protected def release(value: operators.Similarity.IvfIndex): Unit = {
      value.assigned.unpersist(); ()
    }
  }

  /** Materialize the q_md_source markdown tree (memoized like the stored
    * indexes; the collect is bounded to 200 rows by the doc_id filter —
    * this is test-fixture generation, not a data path).
    */
  object MdTree extends Artifact[String]("markdown tree") {
    protected def build(s: SparkSession, dir: String): String = {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_md_${tableTag(dir)}")
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(del)
        f.delete(): Unit
      }
      if (out.exists) del(out) // stale tree from an older testdata vintage
      out.mkdirs()
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 200 && col("text").isNotNull && col("lang").isNotNull)
        .select("doc_id", "lang", "text")
        .collect()
        .foreach { r =>
          val id = r.getLong(0)
          // "|" sentinel before the text: FrontMatter's closing-delimiter
          // regex ends with `\s*\n?`, which would greedily eat a text's
          // LEADING whitespace (latent hash break on any testdata vintage
          // with whitespace-led documents). A non-whitespace first byte
          // makes the round trip byte-exact for EVERY text; the query
          // subtracts the sentinel from body_len.
          java.nio.file.Files.writeString(
            new java.io.File(out, f"doc-$id%05d.md").toPath,
            s"---\ndoc_id: $id\nlang: ${r.getString(1)}\n---\n|${r.getString(2)}")
        }
      out.getAbsolutePath
    }
  }
}
