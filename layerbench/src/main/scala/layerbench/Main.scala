package layerbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. run.py generates the inputs and starts it:
  *
  * {{{
  * Main --workload W --data DIR --stores DIR --steps DIR --seconds S
  *      --trace 0|1 --warmup N --batches B --result FILE [--spans FILE]
  * Main --list-metrics
  * }}}
  *
  * It starts a local[4] session, builds the standing stores and runs N
  * warm-up steps; that whole span is `setup_s`. Then one client thread
  * runs steps in a closed loop for S seconds: each step takes the next
  * fresh batch, its result is collected and checked before the next one
  * starts, and its output directory is removed afterwards. The result file holds the
  * counts and either the end-to-end metrics (trace 0) or the per-layer
  * medians (trace 1).
  */
object Main {
  val Cores = 4

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--list-metrics"))) {
      (Layers.EndToEnd ++ Layers.PerLayer).foreach { case (n, u) =>
        println(s"$n $u")
      }
      return
    }
    val a = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(Cores.toString)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = a("--trace") == "1"
    // store reads: the standing stores and what steps wrote and read back
    val tracer = new Tracer(spark, trace, Seq(a("--stores"), a("--steps")),
      Cores)
    val ctx = Ctx(spark, tracer, a("--data"), a("--stores"),
      Json.read(a("--data") + "/truth.json"))
    val wl = Workload(a("--workload"), ctx)
    val run = new Run(wl, tracer, a("--steps"), a("--batches").toInt)
    try {
      wl.setup()
      val storesS = (System.nanoTime() - t0) / 1e9 - sessionS
      (0 until a("--warmup").toInt).foreach(_ => run.step(measured = false))
      val setupS = (System.nanoTime() - t0) / 1e9
      val cpu = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val cpu0 = cpu.getProcessCpuTime
      val m0 = System.nanoTime()
      val deadline = m0 + (a("--seconds").toDouble * 1e9).toLong
      while (System.nanoTime() < deadline && run.hasNext)
        run.step(measured = true)
      val measuredS = (System.nanoTime() - m0) / 1e9
      val cpuMs = (cpu.getProcessCpuTime - cpu0) / 1e6
      val metrics =
        if (trace) perLayer(tracer, run)
        else endToEnd(run, setupS, measuredS, cpuMs,
          Io.storeBytes(a("--stores")))
      a.get("--spans").foreach(tracer.writeSpans)
      if (trace) run.traceSummary(tracer).foreach(println)
      else println(f"info: steps=${run.latencies.size} " +
        f"measured_s=$measuredS%.3f session_s=$sessionS%.3f " +
        f"stores_s=$storesS%.3f warmup_ms=" +
        run.warmups.map(x => f"$x%.0f").mkString(",") + " " +
        "latencies_ms=" + run.latencies.map(x => f"$x%.0f").mkString(","))
      if (trace) println(f"info: traced throughput_per_s=" +
        f"${run.items / measuredS}%.4f")
      writeResult(a("--result"), run, metrics)
    } finally spark.stop()
  }

  private def endToEnd(run: Run, setupS: Double, measuredS: Double,
                       cpuMs: Double, storeBytes: Long)
      : Seq[(String, Double)] = {
    // Spark's ContextCleaner drops blocks of collected RDDs only after a
    // collection has cleared their references, so collect a few times
    // with a pause for the cleaner and keep the settled (lowest) value
    val oldGen = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("Old Gen")).map(_.getUsage.getUsed).sum
    }.min
    val lat = run.latencies.toSeq
    Seq(
      "setup_s" -> setupS,
      "throughput_per_s" -> run.items / measuredS,
      "step_p50_ms" -> Stats.median(lat),
      "cpu_ms_per_item" -> cpuMs / run.items.max(1L),
      "heap_settled_mb" -> oldGen / (1024.0 * 1024.0),
      "store_mb" ->
        (storeBytes + Stats.median(run.outputBytes.toSeq)) / (1024.0 * 1024.0))
  }

  /** Per-layer medians over the measured steps: each layer's counts are
    * summed per step (zero for a layer the workload never calls), then the
    * median is taken across steps. */
  private def perLayer(tracer: Tracer, run: Run): Seq[(String, Double)] = {
    val spans = tracer.recorded.filter(_.step >= 0)
    val steps = spans.filter(_.name == "step")
    val byStep = spans.filter(_.name != "step").groupBy(_.step)
    def med(f: Span => Double): Double = Stats.median(steps.map(f))
    def layerSum(st: Span, call: String, f: Span => Double): Double =
      byStep.getOrElse(st.step, Nil).filter(_.name == call).map(f).sum
    val calls = Layers.Calls.flatMap { c =>
      Layers.Suffixes.map { case (s, _) =>
        val v = s match {
          case "wall_ms" => med(st => layerSum(st, c, _.wallMs))
          case "busy_share" => med { st =>
            val wall = layerSum(st, c, _.wallMs)
            if (wall == 0) 0.0
            else layerSum(st, c, sp =>
              sp.counts("busy_share") * sp.wallMs) / wall
          }
          case key => med(st => layerSum(st, c, _.counts(key)))
        }
        s"$c.$s" -> v
      }
    }
    def extra(key: String): Double =
      med(st => st.counts.getOrElse(key, 0.0))
    def perQuery(call: String, key: String): Double = med { st =>
      val q = st.counts.getOrElse("queries", 0.0)
      if (q == 0) 0.0 else layerSum(st, call, _.counts(key)) / q
    }
    calls ++ Layers.Extras.map { case (name, _) =>
      name -> (name match {
        case "annindex.ivf_adc.codes_per_query" =>
          perQuery("annindex.ivf_adc", "codes_rows")
        case "sim.mmr.executions" =>
          med(st => layerSum(st, "sim.mmr", _.counts("executions")))
        case other => extra(other)
      })
    }
  }

  private def writeResult(path: String, run: Run,
                          metrics: Seq[(String, Double)]): Unit = {
    val units = (Layers.EndToEnd ++ Layers.PerLayer).toMap
    val body = metrics.map { case (n, v) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(units(n))}}"""
    }.mkString(",")
    val errors = run.errors.map(Json.str).mkString(",")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"""{"correct":${run.failed == 0},"attempted":${run.attempted},""" +
        s""""failed":${run.failed},"errors":[$errors],"metrics":{$body}}""")
  }
}

/** The closed loop's state: batch cursor, per-step latencies, output sizes
  * and check outcomes. */
final class Run(wl: Workload, tracer: Tracer, stepsDir: String,
                batches: Int) {
  private var next = 0
  var attempted = 0
  var failed = 0
  var items = 0L
  val latencies = collection.mutable.ArrayBuffer.empty[Double]
  val warmups = collection.mutable.ArrayBuffer.empty[Double]
  val outputBytes = collection.mutable.ArrayBuffer.empty[Double]
  val errors = collection.mutable.ArrayBuffer.empty[String]

  def hasNext: Boolean = next < batches

  /** One step on the next batch; a failed step is counted and the loop
    * carries on. Warm-up steps are checked but not timed or traced. */
  def step(measured: Boolean): Unit = {
    val b = next
    next += 1
    val out = f"$stepsDir/s$b%05d"
    attempted += 1
    try {
      if (measured) tracer.beginStep(b)
      val s0 = System.nanoTime()
      val r = wl.step(b, out)
      val s1 = System.nanoTime()
      val ms = (s1 - s0) / 1e6
      if (measured && tracer.enabled) tracer.endStep(s1, r.extras())
      val errs = r.check()
      if (errs.nonEmpty) {
        failed += 1
        errors += s"batch $b: ${errs.mkString("; ")}"
      } else if (measured) {
        latencies += ms
        items += r.items
        outputBytes += Io.du(out).toDouble
      } else warmups += ms
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"batch $b: ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(2000)
    } finally deleteTree(new java.io.File(out))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Self time per layer and how much of each step the layer spans
    * cover, as printed lines. */
  def traceSummary(tracer: Tracer): Seq[String] = {
    val spans = tracer.recorded.filter(_.step >= 0)
    val steps = spans.filter(_.name == "step")
    val calls = spans.filter(_.name != "step")
    val covered = steps.map { st =>
      calls.filter(_.parent == st.id).map(_.wallMs).sum / st.wallMs
    }
    val selfStep = steps.map { st =>
      st.wallMs - calls.filter(_.parent == st.id).map(_.wallMs).sum
    }
    calls.groupBy(_.name).toSeq.sortBy(-_._2.map(_.wallMs).sum).map {
      case (n, ss) =>
        f"trace: $n%-20s self_ms_p50=${Stats.median(ss.map(_.wallMs))}%9.2f" +
          f" construct_ms_p50=${Stats.median(ss.map(_.counts("construct_ms")))}%9.2f" +
          f" outside_jobs_ms_p50=${Stats.median(ss.map(x => x.wallMs - x.counts("jobs_ms")))}%9.2f" +
          f" calls=${ss.size}"
    } ++ Seq(
      f"trace: step self_ms_p50=${Stats.median(selfStep)}%.2f " +
        f"layer_coverage_min=${if (covered.isEmpty) 0.0 else covered.min}%.4f " +
        f"layer_coverage_p50=${Stats.median(covered)}%.4f steps=${steps.size}")
  }
}

object Stats {
  /** Median (0 for an empty sample). */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
