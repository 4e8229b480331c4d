package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one request share `request`; `parent` is the
  * span that caused this one (0 at the root). */
final case class Span(id: Long, parent: Long, request: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder around the calls into each layer. Disabled, every
  * method is a plain call with no allocation. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, request id)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** A span that starts a new request: its children share its id. */
  def request[T](name: String)(body: => T): T =
    if (!enabled) body else record(name, newRequest = true)(body)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else record(name, newRequest = false)(body)

  private def record[T](name: String, newRequest: Boolean)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    val req = if (newRequest || outer.isEmpty) id else outer.head._2
    stack.set((id, req) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, req, name, t0, System.nanoTime()))
      stack.set(outer)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Self time of each span: its duration minus the union of the intervals
    * its children cover. */
  def selfNs: Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var open: Option[(Long, Long)] = None
      cs.foreach { case (a, b) =>
        open = open match {
          case Some((s0, e0)) if a <= e0 => Some((s0, math.max(e0, b)))
          case Some((s0, e0))            => covered += e0 - s0; Some((a, b))
          case None                      => Some((a, b))
        }
      }
      open.foreach { case (s0, e0) => covered += e0 - s0 }
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJson(path: String): Unit = {
    val self = selfNs
    val lines = spans.map { s =>
      graft.sources.MiniYaml.toJson(Map("id" -> s.id, "parent" -> s.parent, "request" -> s.request,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id)))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** The tracer the workloads record into: disabled unless the run is traced. */
object Spans {
  @volatile var tracer: Tracer = new Tracer(false)
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** Spark-engine counters for one labelled unit of work (a request or a
  * query call), gathered by [[EngineProbe]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskWaitNs, cpuNs, inputBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var rowsScanned, rowsOut, filesScanned = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskWaitNs += o.taskWaitNs
    cpuNs += o.cpuNs; inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    rowsScanned += o.rowsScanned; rowsOut += o.rowsOut; filesScanned += o.filesScanned
  }
}

/** A SparkListener plus a QueryExecutionListener, both registered by the
  * benchmark only in traced runs. Jobs are attributed through the job group
  * the benchmark sets around each unit of work; query executions (planning
  * phase times and scan-node row counts) through the order of completion,
  * since the traced phase runs one unit at a time and drains the listener
  * bus between units. */
final class EngineProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private var pendingQe = new Counters

  private def group(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    group(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
    stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val c = group(g)
      c.tasks += 1
      stageSubmit.get(e.stageId).foreach(s => c.taskWaitNs += math.max(0L, e.taskInfo.launchTime - s) * 1000000L)
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    pendingQe.analysisMs += ms("analysis")
    pendingQe.optimizationMs += ms("optimization")
    pendingQe.planningMs += ms("planning")
    val plan = qe.executedPlan
    def metric(p: SparkPlan, m: String): Long = p.metrics.get(m).map(_.value).getOrElse(0L)
    def rows(p: SparkPlan): Long = metric(p, "numOutputRows")
    val scans = collect(plan) {
      case s: FileSourceScanExec => s
      case s: BatchScanExec => s
    }
    pendingQe.rowsScanned += scans.map(rows).sum
    pendingQe.filesScanned += scans.map(metric(_, "numFiles")).sum
    pendingQe.rowsOut += collectFirst(plan) {
      case p if p.metrics.contains("numOutputRows") => rows(p)
    }.getOrElse(0L)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

  /** Run `body` as one labelled unit of work and return its counters. */
  def measure[T](label: String)(body: => T): (T, Counters) = {
    drain()
    synchronized { pendingQe = new Counters }
    val sc = spark.sparkContext
    sc.setJobGroup(label, label, interruptOnCancel = false)
    val out = try body finally sc.clearJobGroup()
    drain()
    synchronized {
      val c = byGroup.remove(label).getOrElse(new Counters)
      c.add(pendingQe)
      pendingQe = new Counters
      (out, c)
    }
  }
}

/** Process-level clocks for the driver-side split. */
object Clocks {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
}

/** The program's memory: the heap still in use after a full collection,
  * sampled after set-up and after the correctness and warm-up passes and
  * kept at its highest, plus the peak of the non-heap pools (metaspace,
  * code cache). Both samples follow a fixed amount of work; one after the
  * timed passes could grow with their count, as Spark's status store keeps
  * up to 1000 recent query executions. Unlike the resident set of a JVM, which
  * follows how far the collector has grown the heap, this follows the data
  * the program keeps. */
object Memory {
  import java.lang.management.{ManagementFactory, MemoryType}

  private val liveHeapPeak = new AtomicLong(0)

  /** Collect fully and record the heap still in use. Call outside timing.
    * Spark's context cleaner frees unreferenced broadcast blocks only after
    * a collection has found them, asynchronously: wait for it, then
    * collect again, or the figure depends on that timing. */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    liveHeapPeak.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max)
  }

  def peakMb: Double = {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (liveHeapPeak.get + nonHeap) / 1048576.0
  }

  /** Peak resident set of the process (`VmHWM`), for the record. */
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)
    finally src.close()
  }
}
