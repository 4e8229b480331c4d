package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.sources.MiniYaml.toJson

/** One timed operation of a workload. */
final case class Op(name: String, run: () => Unit)

/** What a workload supplies to the runner. */
trait Workload {
  /** The tables set-up warms. */
  def tables: Seq[String]
  /** Registered queries the workload runs; set-up builds their stored
    * artifacts. */
  def queries: Seq[String] = Nil
  /** The operations of one pass, in order. */
  def ops: Seq[Op]
  /** The untimed correctness pass: runs every kind of operation once and
    * writes what the checker compares under `dir`. It is also the warm-up of
    * the JIT and page cache before timing. Returns the operations run. */
  def check(dir: String): Int
}

/** The benchmark inside the JVM. Arguments come from run.py:
  * `--workload --data --work --seconds --trace --seed`. Writes
  * `<work>/result.json`, which run.py turns into the printed metrics. */
object Main {
  /** The corpus workload: the LLM-pipeline queries whose cost is in the
    * native text and vector kernels and the dedup, winnowing and fused top-k
    * operators. q_text_perplexity, the slowest, is timed only in [[Operators]]:
    * with it a 12-second run held three passes, too few for a steady median. */
  val Corpus: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_text_winnow", "q_ann_batch")
  /** Heavy operators reported one by one in traced runs. */
  val Operators: Seq[String] = Seq(
    "q_dedup_incremental", "q_text_perplexity", "q_pipeline_curate", "q_dedup_semantic",
    "q_dedup_substr", "q_corpus_card_approx", "q_text_winnow", "q_ann_batch", "q_asof_join",
    "q_line_dedup", "q_quality_classifier", "q_ann_ivf_probe")
  val SetUps = 3
  /** Untimed passes after the correctness pass: operations still ran 20-40%
    * slower over the first three passes while the JIT compiled. */
  val WarmUps = 2

  private val errors = mutable.ArrayBuffer.empty[String]
  private val attempted, failed = new AtomicLong(0)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Run `body`, counting it as attempted and, when it throws, as failed. */
  def guarded[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch { case NonFatal(e) =>
      failed.incrementAndGet()
      errors.synchronized(errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
      System.err.println(s"[perfbench] $what failed: $e")
      None
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val (workload, data, work) = (opt("workload"), opt("data"), opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val seed = opt("seed").toLong
    val nproc = Runtime.getRuntime.availableProcessors
    val jvmStartS =
      (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    def make(spark: SparkSession): Workload = workload match {
      case "serve"  => new ServeWorkload(spark, data, seed)
      case "corpus" => new BatchWorkload(spark, data, Corpus)
      case other    => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Set-up, several times: each stops the previous session and builds a
    // fresh one with its registered tables, warm caches and stored artifacts.
    var spark: SparkSession = null
    var w: Workload = null
    val setupS = (1 to (if (traced) 1 else SetUps)).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Tables.harnessSessionFor(data, s"local[$nproc]")
      w = make(spark)
      w.tables.foreach(t => noop(Tables.load(spark, data, t)))
      SparkEntry.prewarmStoredArtifacts(spark, data, w.queries.contains)
      (System.nanoTime() - t0) / 1e9
    }
    Memory.sample()
    val checked = w.check(s"$work/checks")
    (1 to WarmUps).foreach(_ => pass(w.ops, new Samples, record = None))
    Memory.sample()

    val (single, layers) =
      if (!traced) (passes(w.ops, seconds, record = None), Map.empty[String, Any])
      else tracedRun(spark, w, data, work, seed, seconds, nproc)
    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "jvm_start_s" -> jvmStartS, "setup_s" -> setupS, "checked_ops" -> checked,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "single" -> single.json, "layers" -> layers,
      "attempted" -> attempted.get, "failed" -> failed.get, "errors" -> errors.toList,
      "peak_mem_mb" -> Memory.peakMb, "vm_hwm_mb" -> Memory.vmHwmMb)
    Files.writeString(Paths.get(s"$work/result.json"), toJson(result))
    spark.stop()
  }

  /** Per-operation latency samples of a single-client phase. */
  final class Samples {
    val byOp = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var passes = 0
    def add(op: String, ms: Double): Unit = byOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += ms
    def json: Map[String, Any] = Map("passes" -> passes, "ops" -> byOp.view.mapValues(_.toList).toMap)
    /** Sum over operations of each one's median latency, in ms. */
    def passMs: Double = byOp.values.map { xs => val s = xs.sorted; s(s.size / 2) }.sum
  }

  /** One pass over `ops` into `s`; `record` wraps each call when tracing. */
  def pass(ops: Seq[Op], s: Samples, record: Option[(Op, () => Unit) => Unit]): Unit = {
    ops.foreach { op =>
      val a = System.nanoTime()
      val ok = guarded(op.name)(record match {
        case Some(r) => r(op, op.run)
        case None    => op.run()
      })
      if (ok.isDefined) s.add(op.name, (System.nanoTime() - a) / 1e6)
    }
    s.passes += 1
  }

  /** Whole passes over `ops`, one client, until `budgetS` has elapsed (at
    * least one). */
  def passes(ops: Seq[Op], budgetS: Double, record: Option[(Op, () => Unit) => Unit]): Samples = {
    val s = new Samples
    val t0 = System.nanoTime()
    while (s.passes == 0 || (System.nanoTime() - t0) / 1e9 < budgetS) pass(ops, s, record)
    s
  }

  /** The traced run: single-client passes alternating untraced and traced
    * (spans plus engine counters) until `budgetS` has elapsed, then the
    * per-layer suite: the heavy operators one by one, the native kernels,
    * and one pass of the write path. Returns the untraced samples and the
    * per-layer metrics. */
  def tracedRun(spark: SparkSession, w: Workload, data: String, work: String, seed: Long,
                budgetS: Double, nproc: Int): (Samples, Map[String, Any]) = {
    val tracer = new Tracer(true)
    val off = Spans.tracer
    val probe = new EngineProbe(spark)
    val calls = mutable.ArrayBuffer.empty[(String, Double, Counters)]
    def measured(op: Op, body: () => Unit): Unit = {
      var ms = 0.0
      val (_, c) = probe.measure(s"${op.name}#${calls.size}") {
        tracer.request(op.name) {
          val t0 = System.nanoTime(); body(); ms = (System.nanoTime() - t0) / 1e6
        }
      }
      calls += ((op.name, ms, c))
    }
    val untraced, traced = new Samples
    var cpuS, gcMs = 0.0
    // later passes run warmer: alternate which side goes first (ABBA) so a
    // trend cancels out of the comparison
    def tracedPass(): Unit = {
      val (cpu0, gc0) = (Clocks.processCpuNs, Clocks.gcMs)
      probe.install()
      Spans.tracer = tracer
      pass(w.ops, traced, Some(measured))
      Spans.tracer = off
      probe.uninstall()
      cpuS += (Clocks.processCpuNs - cpu0) / 1e9
      gcMs += Clocks.gcMs - gc0
    }
    val t0 = System.nanoTime()
    while (traced.passes == 0 || (System.nanoTime() - t0) / 1e9 < budgetS) {
      if (traced.passes % 2 == 0) { pass(w.ops, untraced, None); tracedPass() }
      else { tracedPass(); pass(w.ops, untraced, None) }
    }
    val total = new Counters
    calls.foreach(c => total.add(c._3))
    val n = calls.size.max(1).toDouble
    val p = traced.passes.toDouble
    val buildMs = tracer.spans.filter(_.name == "api.build").map(_.durNs).sum / 1e6 / n
    val planMs = (total.analysisMs + total.optimizationMs + total.planningMs) / n
    val wallMs = calls.map(_._2).sum
    val layers = mutable.LinkedHashMap[String, Any](
      "api.build_ms" -> buildMs,
      "api.analysis_ms" -> total.analysisMs / n,
      "api.optimization_ms" -> total.optimizationMs / n,
      "api.planning_ms" -> total.planningMs / n,
      "api.execute_ms" -> (wallMs / n - buildMs - planMs),
      "api.jobs_per_request" -> total.jobs / n,
      "api.tasks_per_request" -> total.tasks / n,
      "api.rows_scanned_per_row_returned" -> total.rowsScanned.toDouble / total.rowsOut.max(1),
      "spark.jobs" -> total.jobs / p,
      "spark.stages" -> total.stages / p,
      "spark.tasks" -> total.tasks / p,
      "spark.task_wait_ms" -> total.taskWaitNs / 1e6 / total.tasks.max(1),
      "spark.executor_cpu_s" -> total.cpuNs / 1e9 / p,
      "spark.core_util" -> total.cpuNs / 1e6 / (wallMs * nproc),
      "spark.input_bytes" -> total.inputBytes / p,
      "spark.shuffle_write_bytes" -> total.shuffleWriteBytes / p,
      "spark.spill_bytes" -> total.spillBytes / p,
      "spark.output_bytes" -> total.outputBytes / p,
      "driver.cpu_s" -> (cpuS - total.cpuNs / 1e9) / p,
      "jvm.gc_ms" -> gcMs / p,
      "trace.overhead_pct" -> 100.0 * (traced.passMs / untraced.passMs - 1))
    calls.clear()
    probe.install()
    Spans.tracer = tracer

    // operators: a warm-up call unless the workload already ran the query,
    // then one measured call
    Operators.foreach { q =>
      val op = Op(q, () => noop(SparkEntry.queries(q)(spark, data)))
      if (!w.queries.contains(q)) guarded(q)(op.run())
      guarded(q)(measured(op, op.run))
      calls.lastOption.filter(_._1 == q).foreach { case (_, ms, c) =>
        layers(s"op.$q.wall_ms") = ms
        layers(s"op.$q.jobs") = c.jobs
        layers(s"op.$q.core_util") = c.cpuNs / 1e6 / (ms * nproc)
      }
    }
    guarded("dedup.pairs_per_candidate")(layers("dedup.pairs_per_candidate") = pairsPerCandidate(spark, data))

    // kernels, on in-memory batches taken from the generated tables
    val texts = Tables.load(spark, data, "documents").orderBy("doc_id").limit(2000)
      .select("text").collect().map(_.getString(0))
    val vectors = Tables.load(spark, data, "embeddings").orderBy("vec_id").limit(2000)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    guarded("kernels")(Kernels.run(texts, vectors).foreach { case (k, v) => layers(s"kernel.$k.ns_per_row") = v })

    // the write path: one pass, each step measured, then checked
    calls.clear()
    val ingest = new Ingest(spark, data, s"$work/ingest", seed)
    ingest.steps.foreach { case (k, f) => guarded(k)(measured(Op(k, f), f)) }
    guarded("ingest check")(ingest.dump(s"$work/checks/ingest.json"))
    layers ++= ingest.layerMetrics(calls.toSeq, tracer.spans)
    ingest.close()

    probe.uninstall()
    Spans.tracer = off
    tracer.writeJson(s"$work/spans.jsonl")
    (untraced, layers.toMap)
  }

  /** Verified near-duplicate pairs over candidate pairs: candidates are the
    * distinct id pairs sharing a band bucket of `Dedup.minhashed`. */
  def pairsPerCandidate(spark: SparkSession, data: String): Double = {
    val docs = Tables.load(spark, data, "documents")
    val buckets = graft.operators.Dedup.minhashed(docs)
      .select(col("doc_id"), posexplode(col("band_hashes")).as(Seq("band", "bhash")))
    val candidates = buckets.as("a").join(buckets.as("b"), Seq("band", "bhash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val verified = graft.operators.Dedup.minhashLsh(docs).count()
    verified.toDouble / candidates.max(1)
  }
}

final class ServeWorkload(spark: SparkSession, data: String, seed: Long) extends Workload {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  private val cat = Tables.catalog(spark, data)
  private val nCust = Tables.load(spark, data, "customer").count()
  private val rnd = new scala.util.Random(seed)
  /** Each call of an operation draws a fresh request of its shape, so a
    * shape's median spans many parameters, not the few one seed picks. */
  val ops: Seq[Op] = Serve.Shapes.map(s => Op(s, () => Serve.request(s, rnd, nCust).run(cat)))

  def check(dir: String): Int = {
    new File(dir).mkdirs()
    val reqs = Serve.Shapes.map(Serve.request(_, new scala.util.Random(seed), nCust))
    val dumps = reqs.flatMap(r => Main.guarded(r.shape)(
      Map("shape" -> r.shape, "params" -> r.params, "rows" -> r.dump(cat))))
    val walk = Main.guarded("full walk") {
      val (fwd, back) = Serve.fullWalk(cat, (seed % 25).toInt)
      Map("nation" -> seed % 25, "forward" -> fwd, "backward" -> back)
    }
    Files.writeString(Paths.get(s"$dir/serve.json"),
      toJson(Map("requests" -> dumps, "walk" -> walk.orNull)))
    dumps.size + 1
  }
}

final class BatchWorkload(spark: SparkSession, data: String, names: Seq[String]) extends Workload {
  val tables: Seq[String] = Seq("documents", "embeddings")
  override def queries: Seq[String] = names
  val ops: Seq[Op] = names.map { q =>
    Op(q, () => {
      val df = Spans.span("api.build")(SparkEntry.queries(q)(spark, data))
      Spans.span("api.execute")(Main.noop(df))
    })
  }

  def check(dir: String): Int = {
    names.foreach { q =>
      Main.guarded(q)(SparkEntry.queries(q)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$q"))
    }
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
      toJson(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    names.size
  }
}
