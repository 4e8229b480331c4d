package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions over the real sf0.001 tables: the properties that
  * decide 100 TB behavior, checked programmatically (PLANS.md is the human-
  * readable dump of the same audit).
  */
class PlanPropertiesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("the ACTUAL filter predicates reach the parquet scan, not just IsNotNull") {
    val expected = Map(
      "q_filter_eq"         -> "EqualTo(o_orderstatus",
      "q_filter_in"         -> "EqualTo(o_orderpriority", // OR-of-equalities
      "q_filter_startswith" -> "StringStartsWith(p_name",
      "q_page_after"        -> "GreaterThan(c_name")
    for ((q, frag) <- expected) {
      val p = plan(q)
      // match to end-of-line: the plan printer truncates long filter lists
      // with "..." before the closing bracket
      val pushed = "PushedFilters: \\[[^\\n]*".r.findAllIn(p).mkString(" ")
      assert(pushed.contains(frag), s"$q: expected '$frag' in pushed filters, got: $pushed")
    }
  }

  test("peek reads only the two projected columns") {
    val p = plan("q_peek")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read == "c_custkey:bigint,c_name:string", s"peek over-reads: $read")
  }

  test("dimension joins broadcast; no sort-merge on small dims") {
    for (q <- Seq("q_join_belongsto", "q_join_hasone", "q_join_hasonethrough",
                  "q_join_hasmanythrough", "q_agg_topcust", "q_agg_mktseg_nation")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q does not broadcast:\n$p")
    }
  }

  test("no cartesian product anywhere in the registered query set") {
    for ((name, fn) <- SparkEntry.queries) {
      val p = fn(spark, dir).queryExecution.optimizedPlan.toString
      assert(!p.toLowerCase.contains("cartesian"), s"$name has a cartesian product")
    }
  }

  test("aggregations do map-side partial aggregation before the exchange") {
    for (q <- Seq("q_agg_pricing", "q_events_window", "q_dedup_exact")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q has no partial aggregation:\n$p")
    }
  }

  test("top-k queries use TakeOrdered, not a global sort") {
    for (q <- Seq("q_page_first", "q_orderby_asc", "q_ann_bruteforce")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q sorts globally:\n$p")
    }
  }

  test("q_text_repetition tokenizes once: a single RepetitionStats node in the plan") {
    val p = plan("q_text_repetition")
    val count = "(?i)repetitionstats".r.findAllIn(p).length
    assert(count == 1, s"expected exactly 1 RepetitionStats (4-field extraction must not inline the expression per field), found $count:\n$p")
  }

  test("q_sample_split is a pure scan projection: no shuffle before the output sort") {
    val p = plan("q_sample_split")
    assert("(?i)exchange".r.findAllIn(p).length == 1,
      s"split assignment must add no shuffle beyond the final orderBy:\n$p")
  }

  test("pipeline corpus: one gated scan, one-pass window dedup; bodies never shuffle") {
    // r21: the join-form dedup (winner aggregate + broadcast semi-join)
    // re-scanned and re-gated the corpus on both sides — langid +
    // qualityScore evaluated twice — and its winner broadcast dies at
    // scale. The one-pass form gates ONE scan and dedups via the
    // row_number window over sha2(text).
    val p = plan("q_pipeline_corpus")
    assert(!p.contains("Join"), s"one-pass corpus dedup must not join:\n$p")
    // exactly one Filter/Project OPERATOR evaluates the gates (the FileScan
    // line echoes the pushed DataFilters — that echo is not an evaluation)
    val gateOps = p.linesIterator.filter(l =>
      l.contains("langid(") && !l.contains("FileScan")).toSeq
    assert(gateOps.length == 1,
      s"gates must evaluate in exactly one operator, found ${gateOps.length}:\n$p")
    // the window exchange carries (ids, metadata, sha2) — if the text
    // column ever appears in an Exchange's schema, bodies are moving
    val exchanges = "Exchange [^\\n]*".r.findAllIn(p).mkString("\n")
    assert(!exchanges.contains("text#"), s"document bodies shuffle:\n$exchanges")
  }

  test("decontaminate: bench grams + contaminated ids both broadcast; bodies never shuffle") {
    val p = plan("q_decontaminate")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"expected semi (gram probe) + anti (drop) joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"decontaminate joins must broadcast, not sort-merge:\n$p")
    // ALL exchange kinds — a BroadcastExchange carrying text# would mean
    // full bodies were collected to the driver and shipped to every executor
    val exchanges = "(?i)[a-z]*Exchange [^\\n]*".r.findAllIn(p).mkString("\n")
    assert(!exchanges.contains("text#"), s"document bodies move in an exchange:\n$exchanges")
  }

  test("pure scan projections add no shuffle beyond the output sort") {
    for (q <- Seq("q_pii_redact", "q_mix_sources", "q_text_chunks")) {
      val p = plan(q)
      assert("(?i)exchange".r.findAllIn(p).length == 1,
        s"$q must be scan-projection-only plus the final orderBy exchange:\n$p")
    }
  }

  test("q_line_filter / q_html_extract: ONE native node, zero shuffles beyond the output sort") {
    for ((q, node) <- Seq("q_line_filter" -> "filterlines", "q_html_extract" -> "htmltextextract")) {
      val p = plan(q)
      val count = s"(?i)$node".r.findAllIn(p).length
      assert(count == 1,
        s"$q: expected exactly 1 $node node (field extraction must not inline the scan expression per column), found $count:\n$p")
      assert("(?i)exchange".r.findAllIn(p).length == 1,
        s"$q must be scan-projection-only plus the final orderBy exchange:\n$p")
    }
  }

  test("q_dedup_corpus: one-pass window form — no join operator, two exchanges (window + sort)") {
    val p = plan("q_dedup_corpus")
    assert(!"(?i)join".r.findAllIn(p).hasNext,
      s"q_dedup_corpus must not contain a join (the agg+semi-join form double-scans and ships bodies through its SMJ exchange past broadcast range):\n$p")
    assert("(?i)exchange".r.findAllIn(p).length == 2,
      s"q_dedup_corpus must have exactly the window hash exchange and the output sort exchange:\n$p")
  }

  test("q_pii_redact evaluates PiiStats once: a single node in the plan") {
    val p = plan("q_pii_redact")
    val count = "(?i)piistats".r.findAllIn(p).length
    assert(count == 1, s"expected exactly 1 PiiStats (4-field extraction must not inline the expression per field), found $count:\n$p")
  }

  test("q_asof_bucketed: boundary-row carry — partial-agg boundary, no replication Generate") {
    // the registered row's presentation sort checkpoints the pipeline (its
    // executed plan ends at a Scan ExistingRDD), so the shape audit targets
    // the pipeline itself: the same asOfJoinBucketed call, pre-sort
    val p = {
      import org.apache.spark.sql.functions._
      val ev = Tables.load(spark, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("vts"),
          col("event_id").as("view_id"))
      operators.AsOf.asOfJoinBucketed(purchases, views, "user_id", "v_user", "ts", "vts",
          payload = Seq("view_id"), toleranceMillis = 3600_000L, bucketMillis = 3600_000L,
          tieBreak = Some("view_id"))
        .select(col("event_id"), col("view_id").as("asof_view_id"))
        .queryExecution.executedPlan.toString
    }
    // r15 boundary form: bucket b's single winning right row (a map-side
    // combining max_by per (key, bucket)) is shifted into b+1 instead of
    // replicating EVERY right row — no explode Generate anywhere.
    assert(!p.contains("Generate"),
      s"boundary form must not replicate right rows (no Generate):\n$p")
    // exchanges: the (key, bucket) window exchange + the boundary
    // aggregate's post-combine exchange (G rows), and no more
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 2,
      s"expected the window exchange + the G-row boundary-agg exchange, found $hashEx:\n$p")
    // the boundary aggregate must combine map-side (partial before its exchange)
    assert(p.contains("partial_max"),
      s"boundary max_by must be a partial (map-side combining) aggregate:\n$p")
    // left + right + the boundary aggregate's own pass over the right scan
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 3, s"expected 3 parquet scans (left, right, boundary agg), found $scans:\n$p")
  }

  test("q_corpus_card_approx: one exchange — sketches replace the exact card's dedup expansion") {
    val p = plan("q_corpus_card_approx")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"approx card must be scan → partial agg → ONE exchange → final agg (HLL++/quantile sketches are mergeable partial state):\n$p")
    // the exact twin pays a second aggregate pass for countDistinct (Expand
    // or a two-level aggregate); the approx card must not
    assert(!p.contains("Expand"), s"no Expand in the approx card:\n$p")
  }

  test("bulk index rebuild: diff stays distributed — anti-join + explode, no isin literal list") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("string").as("slug"), col("lang"), col("source"))
    val idxPath = java.nio.file.Files.createTempDirectory("graft-bulkplan").toString
    graft.operators.Indexing.writeIndex(docs, "slug", Seq("lang", "source"), idxPath)
    val v2 = docs.withColumn("lang",
      when(col("slug").cast("long") % 5 === 0, concat(col("lang"), lit("x")))
        .otherwise(col("lang")))
    val diff = graft.operators.Indexing.extractDiff(docs, v2, "slug", Seq("lang", "source"))
    val rebuilt = graft.operators.Indexing
      .bulkRebuilt(spark, idxPath, diff, Seq("lang", "source"), _ => 1)._1
    val p = rebuilt.queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"),
      s"departing slugs must leave via a left-anti JOIN on the slug frame:\n$p")
    assert("Generate".r.findAllIn(p).length >= 2,
      s"new rows must derive by distributed explode (values map + value list):\n$p")
    assert(!p.contains(" INSET ") && !p.toLowerCase.contains("isin"),
      s"no isin/INSET literal list — nothing on the driver may scale with change volume:\n$p")
  }

  test("q_agg_pricing_sorted: bit-identical to the raw-layout row (the rewrite is row-preserving)") {
    val raw = SparkEntry.queries("q_agg_pricing")(spark, dir).collect().toSeq
    val srt = SparkEntry.queries("q_agg_pricing_sorted")(spark, dir).collect().toSeq
    assert(srt == raw, "sorted-layout aggregate diverged from the raw-layout aggregate")
  }

  test("q_agg_rollup_sorted: rows match raw AND PreAggregateGroupingSets stays licensed on the copy") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand}
    val raw = SparkEntry.queries("q_agg_rollup")(spark, dir).collect().toSeq
    // the explicit redeclare must keep the rule LICENSED on the rewritten
    // scan — without it the sorted probe measured +37% at sf100 (rule off),
    // with it −17% (BASELINE.md r20). Two gates stand between this spec and
    // the license: the rule lives in GraftExtensions (harness sessions), not
    // the plain test session, and it has a deliberate 128 MB input-size
    // gate (sf0.001 is far below it) — so observe the license in a child
    // session with the rule installed and the gate lifted, exactly like
    // GroupingSetRulesSpec's `opt` session.
    val opt = spark.newSession()
    opt.experimental.extraOptimizations = Seq(graft.plans.PreAggregateGroupingSets)
    opt.conf.set(graft.plans.PreAggregateGroupingSets.MinInputBytesKey, "0")
    val df = SparkEntry.queries("q_agg_rollup_sorted")(opt, dir)
    val preAgg = df.queryExecution.optimizedPlan.collect {
      case e: Expand if e.child.isInstanceOf[Aggregate] => e
    }
    assert(preAgg.nonEmpty,
      s"pre-aggregate grouping-sets form missing over the sorted layout:\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().toSeq == raw, "sorted-layout rollup diverged from the raw-layout rollup")
    // and in the default session (gate at its production setting) the row
    // still answers identically
    assert(SparkEntry.queries("q_agg_rollup_sorted")(spark, dir).collect().toSeq == raw)
  }

  test("stored layouts REUSE across sessions on a matching source fingerprint; stale marker rebuilds") {
    def newestPartMtime(p: String): Long =
      new java.io.File(p).listFiles().filter(_.getName.startsWith("part-")).map(_.lastModified).max
    val p = Artifact.GroupSortedLineitem(spark, dir) // built (or reused from a prior run)
    val m1 = newestPartMtime(p)
    // a new session finds the artifact on disk with a matching fingerprint
    // and must NOT rewrite it (the r19 sf100 lesson: a 600M-row in-session
    // rewrite swings same-session probe timings ±2.4×)
    Artifact.clearMemo()
    assert(Artifact.GroupSortedLineitem(spark, dir) == p)
    assert(newestPartMtime(p) == m1, "matching-fingerprint artifact was rebuilt")
    // stale marker (a different testdata vintage at the same path) rebuilds
    java.nio.file.Files.write(new java.io.File(p, "_GRAFT_SRC_FPR").toPath,
      "stale-vintage".getBytes("UTF-8"))
    Thread.sleep(1100) // mtime resolution
    Artifact.clearMemo()
    assert(Artifact.GroupSortedLineitem(spark, dir) == p)
    assert(newestPartMtime(p) > m1, "stale-fingerprint artifact was served without a rebuild")
    // and the reused layout still answers identically
    val raw = SparkEntry.queries("q_agg_pricing")(spark, dir).collect().toSeq
    Artifact.clearMemo()
    assert(SparkEntry.queries("q_agg_pricing_sorted")(spark, dir).collect().toSeq == raw)
  }

  // Each registry entry's `needs` must be exactly the stored artifacts its
  // plan fetches: prewarm builds only declared needs, so an undeclared one
  // would build inside a timed sample.
  test("prewarm builds exactly a query's declared needs, and running it builds nothing more") {
    val withNeeds = SparkEntry.registry.filter(_.needs.nonEmpty)
    assert(withNeeds.nonEmpty)
    for (q <- withNeeds) {
      Artifact.clearMemo()
      q.plan(spark, dir)
      assert(Artifact.memoized(spark, dir) == q.needs,
        s"${q.name} declares ${q.needs.map(_.what)} but fetches " +
          s"${Artifact.memoized(spark, dir).map(_.what)}")
      Artifact.clearMemo()
      SparkEntry.prewarmStoredArtifacts(spark, dir, _ == q.name)
      assert(Artifact.memoized(spark, dir) == q.needs,
        s"${q.name}: prewarm built ${Artifact.memoized(spark, dir).map(_.what)}")
      SparkEntry.queries(q.name)(spark, dir).collect()
      assert(Artifact.memoized(spark, dir) == q.needs,
        s"${q.name} fetched an artifact it does not declare: " +
          s"${(Artifact.memoized(spark, dir) -- q.needs).map(_.what)}")
    }
  }

  test("a query that declares no needs fetches no artifact") {
    // artifacts are fetched while the plan is built, so building is enough
    // to catch an undeclared one (the way a missed entry in a hand-kept
    // prewarm list let a layout rewrite run inside a timed sample)
    Artifact.clearMemo()
    for (q <- SparkEntry.registry if q.needs.isEmpty) {
      q.plan(spark, dir)
      assert(Artifact.memoized(spark, dir).isEmpty,
        s"${q.name} fetched ${Artifact.memoized(spark, dir).map(_.what)} without declaring it")
    }
  }

  test("clearMemo drops every artifact and unpersists the in-memory IVF index") {
    Artifact.clearMemo()
    SparkEntry.prewarmStoredArtifacts(spark, dir, _ == "q_ann_ivf")
    assert(Artifact.memoized(spark, dir) == Set(Artifact.IvfIndexInMemory))
    val assigned = Artifact.IvfIndexInMemory(spark, dir).assigned
    assert(assigned.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    Artifact.clearMemo()
    assert(Artifact.memoized(spark, dir).isEmpty)
    assert(assigned.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "the dropped IVF assignment is still cached")
  }

  test("q_sessionize_bucketed: ZERO exchanges AND ZERO sorts in the pipeline, rows match raw") {
    import org.apache.spark.sql.functions._
    // pre-presentationSort pipeline (the checkpoint truncates the registered
    // row's executed plan, same treatment as the asof shape audit): the
    // bucketed scan's hashpartitioning(user_id) satisfies the window and
    // the per-user groupBy, and its single-file-per-bucket (user_id, ts)
    // sort metadata satisfies the window's ordering — scan → window →
    // window → agg, nothing else. The exchange+sort floor r19's
    // decomposition named for q_sessionize is a layout property.
    val pipe = streaming.EventStreams.sessionize(
        operators.Bucketing.table(spark, Artifact.BucketedEvents(spark, dir)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("session_seq")).as("n_sessions"))
    val p = pipe.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed sessionize must plan exchange-free:\n$p")
    assert(!p.contains("Sort ["),
      s"bucketed sessionize must consume the bucket-sort metadata (no Sort operator):\n$p")
    val raw = SparkEntry.queries("q_sessionize")(spark, dir).collect().toSeq
    val bkt = SparkEntry.queries("q_sessionize_bucketed")(spark, dir).collect().toSeq
    assert(bkt == raw, "bucketed-layout sessionize diverged from the raw-layout pipeline")

    // Cross-JVM reuse: the table is EXTERNAL — drop the catalog entry
    // (files survive), clear the session memo, and the helper must
    // RE-ATTACH the existing files (catalog DDL only, no rewrite), with the
    // exchange-free + sort-free shape and identical rows intact.
    val t = Artifact.BucketedEvents(spark, dir)
    val loc = new java.io.File(s"spark-warehouse/${t}_data")
    def newestPart(): Long =
      loc.listFiles().filter(_.getName.startsWith("part-")).map(_.lastModified).max
    val m1 = newestPart()
    spark.sql(s"DROP TABLE `$t`")
    Artifact.clearMemo()
    val reattached = streaming.EventStreams.sessionize(
        operators.Bucketing.table(spark, Artifact.BucketedEvents(spark, dir)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("session_seq")).as("n_sessions"))
    val p2 = reattached.queryExecution.executedPlan.toString
    assert(newestPart() == m1, "re-attach rewrote the bucketed files")
    assert(!p2.contains("Exchange hashpartitioning") && !p2.contains("Sort ["),
      s"re-attached table lost its bucket/sort metadata:\n$p2")
    assert(SparkEntry.queries("q_sessionize_bucketed")(spark, dir).collect().toSeq == raw)
  }

  test("q_text_bm25_indexed: bucket-pruned scan; df aggregate and posting join add no exchange") {
    // the postings index is bucketed by term: the term filter prunes buckets
    // in the scan, the df aggregate groups on the stored hashpartitioning
    // (term) and the posting join consumes it too (or broadcasts the
    // ≤|query|-row df table) — the only hash exchange is the per-document
    // score aggregate over slim scored rows, plus the output sort's range
    // exchange
    val p = plan("q_text_bm25_indexed")
    assert(!p.contains("SortMergeJoin"), s"posting join must not sort-merge:\n$p")
    assert("SelectedBucketsCount: 3 out of".r.findAllIn(p).nonEmpty,
      s"the 3-term filter must prune the stored buckets:\n$p")
    val hashEx = "Exchange hashpartitioning\\(([^,#]+)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(hashEx == Seq("id"),
      s"expected only the per-document score exchange, got $hashEx:\n$p")
  }

  test("a join exec() page runs 1 + hops jobs: no exchange, no aggregate, page keys pushed into the foreign scan") {
    import graft.api._
    val c = Tables.catalog(spark, dir)
    val cases = Seq[(() => QueryBuilder, String, String)](
      (() => c.from("customer").where("c_nationkey", Eq, "3").join("orders").pageSize(10),
        "orders", "In(o_custkey,"),
      (() => c.from("orders").where("o_orderstatus", Eq, "F").orderBy("o_totalprice", "desc")
        .join("customer").pageSize(20), "customer", "In(c_custkey,"))
    for ((q, relName, pushed) <- cases) {
      val group = s"exec-join-$relName"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val jobListener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            jobs.incrementAndGet()
      }
      val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               ns: Long): Unit = plans.add(qe.executedPlan.toString)
        override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                               e: Exception): Unit = ()
      }
      val page = q() // plan construction outside the measured window
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      val rows =
        try {
          spark.sparkContext.setJobGroup(group, group)
          try page.exec().data finally spark.sparkContext.clearJobGroup()
        } finally {
          org.apache.spark.ListenerBusDrain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(jobListener)
          spark.listenerManager.unregister(planListener)
        }
      assert(rows.nonEmpty && rows.exists(r => r.get(r.fieldIndex(relName)) match {
        case s: scala.collection.Seq[_] => s.nonEmpty
        case _                          => false
      }), s"$relName: the page must nest related rows")
      val all = plans.toArray(Array.empty[String]).toSeq
      assert(jobs.get == 2, s"$relName: expected the page probe + one foreign scan, got ${jobs.get} jobs")
      for (p <- all) {
        assert(!p.contains("Exchange"), s"$relName: a shuffle in\n$p")
        assert(!p.contains("Aggregate"), s"$relName: an aggregate in\n$p")
      }
      val pushedFilters = all.flatMap("PushedFilters: \\[[^\\n]*".r.findAllIn(_))
      assert(pushedFilters.exists(_.contains(pushed)),
        s"$relName: expected $pushed in the foreign scan's pushed filters, got $pushedFilters")
    }
  }
}
