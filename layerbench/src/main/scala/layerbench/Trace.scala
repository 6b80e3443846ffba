package layerbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.layerbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The thirteen layer calls the benchmark times, named after the engine's
  * modules, and the per-call counts it records for each. */
object Layers {
  val Calls: Seq[String] = Seq(
    "pipeline.extract", "pipeline.transform", "pipeline.load",
    "sources.write", "pipeline.analytics",
    "lexindex.bm25", "annindex.ivf_adc", "sim.mmr",
    "dedup.admit", "dedup.delta_pairs", "dedup.components",
    "lexindex.merge", "annindex.assign")

  val Suffixes: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "construct_ms" -> "ms", "jobs" -> "count",
    "tasks" -> "count", "shuffle_bytes" -> "bytes",
    "input_bytes" -> "bytes", "gc_ms" -> "ms", "busy_share" -> "ratio")

  val Extras: Seq[(String, String)] = Seq(
    "sources.write.output_bytes" -> "bytes",
    "lexindex.merge.output_bytes" -> "bytes",
    "annindex.assign.output_bytes" -> "bytes",
    "pipeline.extract.kept_share" -> "ratio",
    "dedup.admit.kept_share" -> "ratio",
    "lexindex.bm25.rows_per_query" -> "rows",
    "annindex.ivf_adc.codes_per_query" -> "rows",
    "sim.mmr.executions" -> "count",
    "storeread.scans_per_step" -> "count",
    "spark.codegen_ms" -> "ms",
    "jvm.pinned_mb" -> "MB")

  /** Every per-layer metric name with its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    Calls.flatMap(c => Suffixes.map { case (s, u) => s"$c.$s" -> u }) ++
      Extras

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s",
    "step_p50_ms" -> "ms",
    "cpu_ms_per_item" -> "ms", "heap_settled_mb" -> "MB",
    "store_mb" -> "MB")
}

/** One recorded span: a layer call (or a whole step) with its counts. */
final case class Span(id: Long, parent: Long, step: Int, name: String,
                      startNs: Long, endNs: Long,
                      counts: Map[String, Double]) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans and counts at the benchmark's own call boundaries.
  *
  * With tracing off, [[layer]] only runs its body. With tracing on, each
  * call becomes a span: the call runs under a job group named after the
  * span, a SparkListener attributes jobs, tasks, task time, shuffle and
  * input bytes to it, and a QueryExecutionListener adds each query's
  * analysis + optimization + planning time and the store scans of its
  * executed plan. The listener bus is drained before a span's counts are
  * read. Spans stay in memory until [[writeSpans]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   storeRoots: Seq[String], cores: Int) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stepSpan = 0L
  private var step = -1
  private var stepStart = 0L

  /** Counters of the open layer span (single client thread). */
  private final class Acc {
    var jobs, tasks = 0L
    var runMs, shuffle, input = 0.0
    var executions = 0L
    var constructMs = 0.0
    var codesRows = 0.0
    var storeScans = 0L
    val jobSpans = mutable.Map.empty[Int, (Long, Long)]
    /** Milliseconds in which at least one of the span's jobs ran. */
    def jobsMs: Double = {
      val iv = jobSpans.values.toSeq.sortBy(_._1)
      var total, end = 0L
      iv.foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) total += b - s
        end = math.max(end, b)
      }
      total.toDouble
    }
  }
  @volatile private var open: Acc = null
  private var openGroup = ""
  private val stepAcc = new Acc
  private val stageGroup =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groupAcc =
    new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val jobAcc =
    new java.util.concurrent.ConcurrentHashMap[Int, Acc]()

  private def accFor(group: String): Acc =
    Option(group).flatMap(g => Option(groupAcc.get(g))).getOrElse(open)

  private val JobGroupKey = "spark.jobGroup.id"

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .map(_.getProperty(JobGroupKey)).orNull
        val acc = accFor(g)
        if (acc != null) {
          acc.synchronized {
            acc.jobs += 1
            acc.jobSpans(e.jobId) = (e.time, Long.MaxValue)
          }
          jobAcc.put(e.jobId, acc)
          val key = if (g != null && groupAcc.containsKey(g)) g
            else openGroup
          e.stageIds.foreach(s => stageGroup.put(s, key))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobAcc.remove(e.jobId)).foreach(acc => acc.synchronized {
          acc.jobSpans.get(e.jobId).foreach { case (a, _) =>
            acc.jobSpans(e.jobId) = (a, e.time)
          }
        })
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val acc = Option(stageGroup.get(e.stageId))
          .flatMap(g => Option(groupAcc.get(g))).getOrElse(open)
        val m = e.taskMetrics
        if (acc != null && m != null) acc.synchronized {
          acc.tasks += 1
          acc.runMs += m.executorRunTime
          acc.shuffle += m.shuffleWriteMetrics.bytesWritten
          acc.input += m.inputMetrics.bytesRead
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
                             durationNs: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = record(qe)
    })
  }

  private def record(qe: QueryExecution): Unit = {
    val acc = open
    val phases = qe.tracker.phases
    val construct = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum
    val scans = fileScans(qe.executedPlan)
    val store = scans.filter(s => s.relation.location.rootPaths
      .exists(p => storeRoots.exists(p.toString.contains)))
    val codes = scans.filter(s => s.relation.location.rootPaths
        .exists(_.toString.endsWith("/codes")))
      .map(s => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      .sum
    stepAcc.synchronized(stepAcc.storeScans += store.size)
    if (acc != null) acc.synchronized {
      acc.executions += 1
      acc.constructMs += construct
      acc.codesRows += codes
      acc.storeScans += store.size
    }
  }

  /** File scans of an executed plan: adaptive plans are read through
    * their final plan, reused exchanges are not counted twice. */
  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case _: ReusedExchangeExec => Nil
    case s: FileSourceScanExec => Seq(s)
    case other =>
      other.children.flatMap(fileScans) ++
        other.subqueries.flatMap(fileScans)
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  def beginStep(i: Int): Unit = if (enabled) {
    Bus.drain(sc)
    stepAcc.synchronized(stepAcc.storeScans = 0)
    step = i
    stepSpan = nextId
    nextId += 1
    stepStart = System.nanoTime()
  }

  /** Close the step span at `end`; `extra` are the step's own counts. */
  def endStep(end: Long, extra: Map[String, Double]): Unit = if (enabled) {
    Bus.drain(sc)
    val pinned = sc.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
    val scans = stepAcc.synchronized {
      val s = stepAcc.storeScans; stepAcc.storeScans = 0; s
    }
    spans += Span(stepSpan, 0L, step, "step", stepStart, end,
      extra ++ Map("storeread.scans_per_step" -> scans.toDouble,
        "jvm.pinned_mb" -> pinned,
        "spark.codegen_ms" -> Codegen.deltaMs(),
        "codegen_compiles" -> Codegen.lastDelta.toDouble))
  }

  /** Run one layer call, as a span when tracing is on. */
  def layer[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val acc = new Acc
    val group = s"layerbench-$id"
    groupAcc.put(group, acc)
    openGroup = group
    open = acc
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val gc0 = gcMs
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      Bus.drain(sc)
      sc.clearJobGroup()
      val gc = gcMs - gc0
      open = null
      groupAcc.remove(group)
      val wallMs = (t1 - t0) / 1e6
      spans += Span(id, stepSpan, step, name, t0, t1, acc.synchronized(Map(
        "construct_ms" -> acc.constructMs, "jobs" -> acc.jobs.toDouble,
        "tasks" -> acc.tasks.toDouble, "shuffle_bytes" -> acc.shuffle,
        "input_bytes" -> acc.input, "gc_ms" -> gc.toDouble,
        "busy_share" -> acc.runMs / (wallMs * cores).max(1e-9),
        "executions" -> acc.executions.toDouble,
        "codes_rows" -> acc.codesRows,
        "store_scans" -> acc.storeScans.toDouble,
        "jobs_ms" -> acc.jobsMs)))
    }
  }

  def recorded: Seq[Span] = spans.toSeq

  /** All spans as JSON lines (name, start, end, parent, step, counts). */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"step":${s.step},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"counts":{$counts}}""")
    } finally w.close()
  }
}

/** Janino compile time from Spark's CodegenMetrics histogram: the number
  * of compilations since the last read times the histogram's mean. */
object Codegen {
  private var lastCount = 0L
  var lastDelta = 0L
  def deltaMs(): Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val n = h.getCount
    val d = n - lastCount
    lastCount = n
    lastDelta = d
    d * h.getSnapshot.getMean
  }
}
