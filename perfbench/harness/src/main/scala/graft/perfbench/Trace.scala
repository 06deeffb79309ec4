package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed region of the benchmark's own calls into one layer. Times are
  * wall-clock milliseconds, the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def ms: Double = (end - start).toDouble
}

/** One Spark job as the listener saw it, with its tasks' sums. */
final class JobRec(val id: Int, val start: Long, val stages: Int,
                   val tasks: Int, val module: String,
                   val trigger: Option[String]) {
  var end: Long = -1L
  var taskRunMs, taskGcMs, inBytes, outBytes, shuffleRead, shuffleWrite,
      spill = 0L
}

/** One streaming trigger: its start and `StreamingQueryProgress.durationMs`. */
final case class TriggerRec(key: String, at: Long, durations: Map[String, Long])

/** Spans around the benchmark's calls plus a Spark listener, kept in
  * memory and written out when the run ends. Until [[start]] nothing is
  * recorded except streaming trigger progress, which the untraced
  * `stack_ingest` run needs for its per-trigger latency. */
final class Trace(spark: SparkSession) {
  @volatile private var on = false
  private val lock = new Object
  private var nextSpan = 0
  private val spanBuf = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val jobBuf = mutable.ArrayBuffer[JobRec]()
  private val jobById = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()
  private val triggerBuf = mutable.ArrayBuffer[TriggerRec]()

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = lock.synchronized { nextSpan += 1; nextSpan }
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        open.set(open.get.tail)
        lock.synchronized { spanBuf += Span(id, parent, name, t0, t1) }
      }
    }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = mutable.Map[String, Long]()
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      // a trigger with no new data still reports progress; only
      // triggers that ran a batch are latency samples
      if (p.numInputRows > 0 || d.contains("addBatch"))
        lock.synchronized {
          triggerBuf += TriggerRec(s"${p.id}/${p.batchId}",
            java.time.Instant.parse(p.timestamp).toEpochMilli, d.toMap)
        }
    }
  })

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val trig = for {
        p <- props
        q <- Option(p.getProperty("sql.streaming.queryId"))
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield s"$q/$b"
      val last = js.stageInfos.sortBy(_.stageId).lastOption
      val rec = new JobRec(js.jobId, js.time, js.stageInfos.size,
        js.stageInfos.map(_.numTasks).sum,
        Trace.moduleOf(last.map(_.details).getOrElse("")), trig)
      lock.synchronized {
        jobBuf += rec
        jobById(js.jobId) = rec
        js.stageIds.foreach(s => stageJob(s) = rec)
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      lock.synchronized { jobById.get(je.jobId).foreach(_.end = je.time) }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      lock.synchronized {
        for (j <- stageJob.get(te.stageId); m <- Option(te.taskMetrics)) {
          j.taskRunMs += m.executorRunTime
          j.taskGcMs += m.jvmGCTime
          j.inBytes += m.inputMetrics.bytesRead
          j.outBytes += m.outputMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  /** Record spans and Spark jobs from now on. */
  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    on = true
  }

  def stop(): Unit = {
    drain()
    on = false
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Wait until every listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  def spans: Seq[Span] = lock.synchronized(spanBuf.toList)
  def jobs: Seq[JobRec] = lock.synchronized(jobBuf.filter(_.end >= 0).toList)
  def triggers: Seq[TriggerRec] = lock.synchronized(triggerBuf.toList)

  def jobsIn(t0: Long, t1: Long): Seq[JobRec] =
    jobs.filter(j => j.start >= t0 && j.start <= t1)

  /** Self time of a span: its duration minus its children's. */
  def selfMs(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> (s.ms - kids.getOrElse(s.id, Nil).map(_.ms).sum)).toMap
  }

  /** Spans, then jobs, one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb ++= s"""{"span":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start},"end_ms":${s.end}}""" + "\n"
    }
    jobs.sortBy(_.id).foreach { j =>
      sb ++= s"""{"job":${j.id},"module":"${j.module}","start_ms":${j.start},"end_ms":${j.end},""" +
        s""""stages":${j.stages},"tasks":${j.tasks},"task_ms":${j.taskRunMs}}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Trace {
  /** Length of the union of [start, end] intervals clipped to [t0, t1]. */
  def unionMs(iv: Seq[(Long, Long)], t0: Long, t1: Long): Double = {
    val c = iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    c.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  /** The module of the first `graft` frame below Spark in a job's call
    * site: operator objects by name, the other packages by package. The
    * benchmark's own frames are skipped; a job with no library frame was
    * submitted by the benchmark itself ("bench"). */
  def moduleOf(callSite: String): String =
    callSite.split("\n").iterator.map(_.trim)
      .filter(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .map { l =>
        val cls = l.takeWhile(_ != '(').split('.').dropRight(1)
        cls.toList match {
          case "graft" :: "operators" :: obj :: _ => obj.takeWhile(_ != '$')
          case "graft" :: pkg :: _ :: _           => pkg
          case _                                  => "other"
        }
      }
      .nextOption().getOrElse("bench")

  /** Modules reported as `callsite.<module>.*` — the commit protocol and
    * the operators it drives. Jobs of any other module count under
    * `callsite.other`. */
  val modules: Seq[String] = Seq("Manifest", "TxServeStack", "TxVectorStack",
    "TxSketchStack", "TxSplitStack", "TxTableStack", "TxViewStack",
    "TxJoinViewStack", "Ledger", "Catalog", "Par", "Retrieval",
    "Similarity", "Dedup", "queries", "pipeline", "bench", "other")
}
