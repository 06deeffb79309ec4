package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced passes. Every traced run prints every
  * name in [[names]]; a layer the workload does not reach reads 0. */
object Layers {
  import Bench.median

  /** Every per-layer metric with its unit. */
  val names: Seq[(String, String)] = Seq(
    "request.p50_ms" -> "ms", "request.tail_ms" -> "ms",
    "request.tail_pct" -> "pct", "request.samples" -> "count",
    "setup.session_s" -> "s", "setup.stage_s" -> "s",
    "setup.warm_pass_s" -> "s",
    "trace.overhead_s" -> "s", "trace.layer_sum_ratio" -> "ratio",
    "trace.spans" -> "count",
    "pipeline.run_ms" -> "ms", "pipeline.persist_ms" -> "ms",
    "pipeline.histogram_ms" -> "ms", "pipeline.jobs" -> "count",
    "pipeline.raw_scan_ratio" -> "ratio", "pipeline.hits_per_s" -> "1/s",
    "pipeline.output_bytes_per_row" -> "B",
    "trigger.p50_ms" -> "ms", "trigger.tail_ms" -> "ms",
    "trigger.jobs" -> "count", "trigger.addBatch_ms" -> "ms",
    "trigger.planning_ms" -> "ms", "trigger.offsets_ms" -> "ms",
    "trigger.wal_ms" -> "ms",
    "serve.p50_ms" -> "ms", "serve.tail_ms" -> "ms",
    "serve.resolve_ms" -> "ms", "serve.elect_ms" -> "ms",
    "serve.compute_ms" -> "ms", "serve.jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.job_wall_s" -> "s",
    "spark.driver_gap_s" -> "s", "spark.task_busy_ratio" -> "ratio",
    "spark.input_bytes" -> "B", "spark.output_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.gc_s" -> "s",
    "jvm.heap_peak_mb" -> "MB") ++
    Kernels.names.map(_ -> "ns") ++
    Trace.modules.flatMap(m =>
      Seq(s"callsite.$m.jobs" -> "count", s"callsite.$m.job_s" -> "s"))

  private lazy val units = names.toMap
  def unitOf(k: String): String = units.getOrElse(k, "count")

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Engine metrics per traced pass (sums over the traced window divided
    * by its pass count), the call-site split, and the layer-sum check:
    * the job time inside the benchmark's innermost spans plus the driver
    * gap (request time with no Spark job running), as a share of the
    * request time. */
  def engine(trace: Trace, t0: Long, t1: Long, passes: Int,
             gcMs: Double): Map[String, (Double, String)] = {
    val n = math.max(passes, 1).toDouble
    val jobs = trace.jobsIn(t0, t1)
    val spans = trace.spans.filter(s => s.start >= t0 && s.end <= t1)
    val passIds = spans.filter(_.name == "pass").map(_.id).toSet
    val requests = spans.filter(s => passIds(s.parent))
    val wallMs = requests.map(_.ms).sum
    val iv = jobs.map(j => (j.start, j.end))
    val busyMs = requests.map(r => Trace.unionMs(iv, r.start, r.end)).sum
    val parents = spans.map(_.parent).toSet
    val leaves = spans.filter(s => !parents(s.id) && !passIds(s.id))
    val leafJobMs = leaves.map(s => Trace.unionMs(iv, s.start, s.end)).sum
    val gapMs = wallMs - busyMs
    val cores = Runtime.getRuntime.availableProcessors.toDouble
    val taskMs = jobs.map(_.taskRunMs).sum.toDouble
    def per(x: Double, u: String) = (x / n, u)
    val base = Map(
      "spark.jobs" -> per(jobs.size, "count"),
      "spark.stages" -> per(jobs.map(_.stages).sum, "count"),
      "spark.tasks" -> per(jobs.map(_.tasks).sum, "count"),
      "spark.job_wall_s" -> per(busyMs / 1e3, "s"),
      "spark.driver_gap_s" -> per(gapMs / 1e3, "s"),
      "spark.task_busy_ratio" ->
        (if (busyMs > 0) taskMs / (busyMs * cores) else 0.0, "ratio"),
      "spark.input_bytes" -> per(jobs.map(_.inBytes).sum, "B"),
      "spark.output_bytes" -> per(jobs.map(_.outBytes).sum, "B"),
      "spark.shuffle_read_bytes" -> per(jobs.map(_.shuffleRead).sum, "B"),
      "spark.shuffle_write_bytes" -> per(jobs.map(_.shuffleWrite).sum, "B"),
      "spark.spill_bytes" -> per(jobs.map(_.spill).sum, "B"),
      "spark.gc_s" -> per(gcMs / 1e3, "s"),
      "jvm.heap_peak_mb" -> (heapPeakMb(), "MB"),
      "trace.layer_sum_ratio" ->
        (if (wallMs > 0) (leafJobMs + gapMs) / wallMs else 0.0, "ratio"),
      "trace.spans" -> per(spans.size, "count"))
    val bySite = jobs.groupBy(j =>
      if (Trace.modules.contains(j.module)) j.module else "other")
    base ++ bySite.flatMap { case (m, js) =>
      Seq(s"callsite.$m.jobs" -> per(js.size, "count"),
        s"callsite.$m.job_s" ->
          per(js.map(j => j.end - j.start).sum / 1e3, "s"))
    }
  }

  /** Streaming trigger metrics over the triggers of `done` requests. */
  def triggers(trace: Trace, done: Seq[Done]): Map[String, Double] = {
    val ts = trace.triggers.filter(t =>
      done.exists(d => t.at >= d.t0 && t.at <= d.t1))
    if (ts.isEmpty) return Map.empty
    def med(k: String) =
      median(ts.flatMap(_.durations.get(k)).map(_.toDouble))
    val lat = ts.flatMap(_.durations.get("triggerExecution")).map(_.toDouble)
    val keys = ts.map(_.key).toSet
    val perTrigger = trace.jobs.flatMap(_.trigger).filter(keys)
      .groupBy(identity).values.map(_.size.toDouble).toSeq
    Map("trigger.p50_ms" -> median(lat),
      "trigger.tail_ms" -> Bench.tail(lat)._2,
      "trigger.jobs" -> median(perTrigger),
      "trigger.addBatch_ms" -> med("addBatch"),
      "trigger.planning_ms" -> med("queryPlanning"),
      "trigger.offsets_ms" -> med("latestOffset"),
      "trigger.wal_ms" -> med("walCommit"))
  }

  /** Median over requests of the summed self time of each named span
    * inside the request's window (a request may call a layer twice). */
  def spanMedians(trace: Trace, done: Seq[Done],
                  names: Map[String, String]): Map[String, Double] = {
    val spans = trace.spans
    val self = trace.selfMs(spans)
    names.map { case (span, metric) =>
      metric -> median(done.map { d =>
        spans.filter(s => s.name == span && s.start >= d.t0 && s.end <= d.t1)
          .map(s => self(s.id)).sum
      })
    }
  }

  /** Median Spark jobs per request. */
  def jobsPerRequest(trace: Trace, done: Seq[Done]): Double =
    median(done.map(d => trace.jobsIn(d.t0, d.t1).size.toDouble))
}
