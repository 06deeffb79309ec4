package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One request of a pass: `body` is timed; `post` runs right after it,
  * untimed, and turns the body's value into what [[Workload.verify]]
  * checks (a row count, collected rows). */
final case class Request(name: String, body: () => Any,
                         post: Any => Any = identity)

/** A request that completed: its timing and its checked value. */
final case class Done(seq: Int, name: String, t0: Long, t1: Long, ns: Long,
                      value: Any) {
  def ms: Double = ns / 1e6
}

/** One benchmark workload. The harness calls `stage` on fresh
  * directories (cold set-up, repeated so its median is stable), then
  * runs `pass(0)` once to warm up, then runs passes until the measuring
  * time is used up. */
trait Workload {
  def stage(dir: Path): Unit
  /** How many times the harness stages, for the median. */
  def stageReps: Int = 3
  /** Warm-up passes before measuring. */
  def warmPasses: Int = 1
  def pass(i: Int): Seq[Request]
  /** Untimed correctness check of completed requests: the seq of each
    * wrong one, with what was wrong. */
  def verify(done: Seq[Done]): Map[Int, String]
  /** End-to-end latency samples in ms; per request unless the workload
    * measures something finer (streaming triggers). */
  def latencies(done: Seq[Done], triggers: Seq[TriggerRec]): Seq[Double] =
    done.map(_.ms)
  /** This workload's per-layer metrics from the traced passes. */
  def layers(done: Seq[Done], trace: Trace): Map[String, Double] = Map.empty
  /** Results for `run.py` to compare against their DuckDB oracle
    * (registry queries), as JSON. */
  def checks: String = "[]"
}

object Bench {
  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--data"), need("--out"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest of these percentiles with at least ten samples beyond
    * it, with its value; (0, 0) when there are too few samples. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
      .getOrElse(0 -> 0.0)
  }

  def workload(spark: SparkSession, o: Opts, trace: Trace): Workload =
    o.workload match {
      case "etl_pipeline" => new EtlWorkload(spark, o.seed, trace)
      case "corpus_batch" => new RegistryWorkload(spark, o.seed,
        o.data, Paths.get(o.out), RegistryWorkload.corpus)
      case "stack_ingest" => new RegistryWorkload(spark, o.seed,
        o.data, Paths.get(o.out), RegistryWorkload.ingest)
      case "stack_serve" => new ServeWorkload(spark, o.seed,
        o.data, trace)
      case w => sys.error(s"unknown workload $w")
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val out = Files.createDirectories(Paths.get(o.out))
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark)
    val w = workload(spark, o, trace)

    val stageS = median((1 to w.stageReps).map { r =>
      val s0 = System.nanoTime()
      w.stage(Files.createDirectories(out.resolve(s"stage$r")))
      (System.nanoTime() - s0) / 1e9
    })

    val failures = mutable.LinkedHashMap[String, String]()
    val perName = mutable.LinkedHashMap[String, Int]().withDefaultValue(0)
    var seq = 0
    // one pass: its requests that completed, its wall time (the sum of
    // its requests' times, without their untimed post-steps), and whether
    // every request completed (only such passes give a pass time)
    def runPass(i: Int): (Seq[Done], Double, Boolean) = {
      val reqs = w.pass(i)
      val done = trace.span("pass") {
        reqs.flatMap { r =>
          seq += 1
          perName(r.name) += 1
          val w0 = System.currentTimeMillis()
          val n0 = System.nanoTime()
          try {
            val v = trace.span(r.name) { r.body() }
            val ns = System.nanoTime() - n0
            System.err.println(f"[perfbench] pass $i ${r.name} ${ns / 1e6}%.1f ms")
            Some(Done(seq, r.name, w0, System.currentTimeMillis(), ns,
              r.post(v)))
          } catch {
            case e: Throwable =>
              failures(s"${r.name}#$seq") = e.toString.take(300)
              None
          }
        }
      }
      (done, done.map(_.ns).sum / 1e9, done.size == reqs.size)
    }

    // passes until `seconds` are used up: (done, pass walls, first
    // unused pass number)
    def measure(seconds: Double, first: Int): (Seq[Done], Seq[Double], Int) = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val done = mutable.ArrayBuffer[Done]()
      val walls = mutable.ArrayBuffer[Double]()
      var i = first
      while (System.nanoTime() < deadline) {
        val (d, wall, whole) = runPass(i)
        done ++= d
        if (whole) walls += wall
        i += 1
      }
      (done.toSeq, walls.toSeq, i)
    }

    // warm-up: JIT, plan compilation and the registry fixtures' cold
    // staging; its requests are checked like the measured ones
    val w0 = System.nanoTime()
    val warmDone = (0 until w.warmPasses).flatMap(i => runPass(-i)._1)
    val warmS = (System.nanoTime() - w0) / 1e9
    trace.drain()
    val warmTriggers = trace.triggers.size

    // a traced run measures half its time untraced, then half traced
    val plainSeconds = if (o.trace) o.seconds / 2 else o.seconds
    val (plainDone, plainWalls, next) = measure(plainSeconds, 1)
    trace.drain()
    val plainTriggers = trace.triggers.size
    val (tracedDone, tracedWalls, m0, m1, gcMs) =
      if (!o.trace) (Seq.empty[Done], Seq.empty[Double], 0L, 0L, 0.0)
      else {
        Layers.resetHeapPeak()
        val g0 = Layers.gcMs()
        val m0 = System.currentTimeMillis()
        trace.start()
        val (d, walls, _) = measure(o.seconds / 2, next)
        trace.stop()
        (d, walls, m0, System.currentTimeMillis(), Layers.gcMs() - g0)
      }

    val allDone = warmDone ++ plainDone ++ tracedDone
    val wrong = w.verify(allDone)
    for ((s, why) <- wrong; d <- allDone.find(_.seq == s))
      failures(s"${d.name}#$s") = why
    def ok(ds: Seq[Done]) = ds.filterNot(d => wrong.contains(d.seq))

    // an untraced run reports the end-to-end metrics, a traced run the
    // per-layer ones
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val plainWall = median(plainWalls)
    if (!o.trace) {
      metrics("setup_s") = (sessionS + stageS + warmS, "s")
      metrics("wall_s") = (plainWall, "s")
      metrics("p50_ms") = (median(w.latencies(ok(plainDone),
        trace.triggers.slice(warmTriggers, plainTriggers))), "ms")
    } else {
      val tl = w.latencies(ok(tracedDone), trace.triggers.drop(plainTriggers))
      val (tp, tv) = tail(tl)
      metrics("request.p50_ms") = (median(tl), "ms")
      metrics("request.tail_ms") = (tv, "ms")
      metrics("request.tail_pct") = (tp.toDouble, "pct")
      metrics("request.samples") = (tl.size.toDouble, "count")
      metrics("setup.session_s") = (sessionS, "s")
      metrics("setup.stage_s") = (stageS, "s")
      metrics("setup.warm_pass_s") = (warmS, "s")
      metrics("trace.overhead_s") = (median(tracedWalls) - plainWall, "s")
      Layers.engine(trace, m0, m1, tracedWalls.size, gcMs)
        .foreach { case (k, v) => metrics(k) = v }
      w.layers(ok(tracedDone), trace)
        .foreach { case (k, v) => metrics(k) = (v, Layers.unitOf(k)) }
      Kernels.run(spark, o.seed)
        .foreach { case (k, v) => metrics(k) = (v, "ns") }
      Layers.names.foreach { case (k, u) =>
        if (!metrics.contains(k)) metrics(k) = (0.0, u) }
      trace.write(out.resolve("trace.jsonl"))
    }

    val fails = failures.map { case (k, v) =>
      s""""${Json.esc(k)}":"${Json.esc(v)}"""" }.mkString("{", ",", "}")
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    Files.writeString(out.resolve("result.json"),
      s"""{"attempted":${perName.values.sum},"failed":${failures.size},""" +
        s""""requests":${perName.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")},""" +
        s""""failures":$fails,"metrics":$ms,"checks":${w.checks}}""")
    spark.stop()
  }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
