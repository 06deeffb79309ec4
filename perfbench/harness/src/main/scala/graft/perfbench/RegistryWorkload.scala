package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Registry queries over fixed sf tables, each run to a noop sink; the
  * seed only shuffles their order in each pass. The warm-up pass writes
  * every result to parquet instead, which `run.py` compares with the
  * query's DuckDB oracle. A streaming drain's latency samples are its
  * triggers, taken from `StreamingQueryProgress`. */
final class RegistryWorkload(spark: SparkSession, seed: Long, sfDir: String,
                             out: Path, names: Seq[String])
    extends Workload {
  private val queries = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all.getOrElse(n, sys.error(s"no registry query $n")))
  }
  private val resultDir = out.resolve("results")

  /** Nothing to stage ahead: each query stages its own fixtures
    * (FixtureCache) on first use, which the warm-up pass pays. */
  def stage(dir: Path): Unit = ()

  def pass(i: Int): Seq[Request] =
    new scala.util.Random(seed * 1000003L + i).shuffle(queries).map {
      case (name, run) =>
        Request(name, () => {
          val df = run(spark, sfDir)
          if (i <= 0)
            df.write.mode("overwrite").parquet(resultDir.resolve(name).toString)
          else df.write.format("noop").mode("overwrite").save()
        })
    }

  /** Results are checked against the oracle outside the JVM (see
    * [[checks]]); a query whose warm-up result is wrong fails there for
    * every one of its requests. */
  def verify(done: Seq[Done]): Map[Int, String] = Map.empty

  override def latencies(done: Seq[Done], triggers: Seq[TriggerRec]): Seq[Double] =
    if (triggers.isEmpty) done.map(_.ms)
    else triggers.filter(t => done.exists(d => t.at >= d.t0 && t.at <= d.t1))
      .flatMap(_.durations.get("triggerExecution")).map(_.toDouble)

  override def layers(done: Seq[Done], trace: Trace): Map[String, Double] =
    Layers.triggers(trace, done)

  override def checks: String = {
    val oracle = graft.SparkEntry.oracleSql
    queries.map { case (n, _) =>
      s"""{"name":"$n","result":"${Json.esc(resultDir.resolve(n).toString)}",""" +
        s""""tables":"${Json.esc(sfDir)}",""" +
        s""""oracle":${oracle.get(n).map(q => "\"" + Json.esc(q) + "\"").getOrElse("null")}}"""
    }.mkString("[", ",", "]")
  }
}

object RegistryWorkload {
  /** Non-transactional dedup, ANN and text queries: the codegen kernels
    * and the Dedup/Similarity/Retrieval operators, no commit protocol. */
  val corpus: Seq[String] = Seq("dedup_minhash_lsh", "dedup_simhash_blocked",
    "dedup_exact", "ann_brute_topk", "ann_pq_topk", "ann_sq8_topk",
    "text_tfidf", "text_repetition", "text_fingerprint", "text_quality")

  /** A streaming drain that commits manifest stack state on every
    * trigger. */
  val ingest: Seq[String] = Seq("streaming_view_join")
}
