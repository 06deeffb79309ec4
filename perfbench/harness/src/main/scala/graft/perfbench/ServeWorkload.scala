package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Ledger, Manifest, Retrieval, Similarity, TxServeStack,
  TxVectorStack}

/** Reads through the Manifest/Ledger layer `stack_ingest` writes: one
  * TxServeStack and one TxVectorStack staged through their public
  * commits, then one upsert each so the older version differs. Each pass
  * is four requests in seed order (lexical, vector, two hybrid); one of
  * the four is pinned to the pre-upsert version, and each request asks
  * for a distinct seed-drawn set of 1–3 query documents. */
final class ServeWorkload(spark: SparkSession, seed: Long, sfDir: String,
                          trace: Trace) extends Workload {
  private val k = 10
  private val buckets = 16
  /** Documents and vectors the stacks hold: the sf0.1 tables' first ids,
    * small enough that a request is bound by the stack reads it makes. */
  private val nDocs = 1000
  private val nVecs = 1000
  private lazy val docs = Tables.documents(spark, sfDir)
    .filter(col("doc_id") < nDocs).cache()
  private lazy val emb = Tables.embeddings(spark, sfDir)
    .filter(col("vec_id") < nVecs).cache()
  private lazy val quant = {
    val cent = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("cell"), col("embedding").as("c_vec"))
    val cb = Similarity.pqCodebookSeed(emb, "vec_id", "embedding",
      m = 8, ksub = 16, subDim = 8)
    (cent, cb)
  }
  /** The upserts: re-texted documents and re-embedded vectors. */
  private def updatedDocs(d: DataFrame) = d.filter(col("doc_id") % 10 === 5)
    .select(col("doc_id"), concat(col("text"), lit(" updated")).as("text"))
  private def rotatedEmb(e: DataFrame) = e.filter(col("vec_id") % 10 === 5)
    .select(col("vec_id"), concat(slice(col("embedding"), 33, 32),
      slice(col("embedding"), 1, 32)).as("embedding"))

  private var lexRoot: String = _
  private var vecRoot: String = _
  private var lexOld, vecOld = 0L

  /** One staging costs as much as a pass (a dozen commits, each bound by
    * its Spark job count), so it is not repeated. */
  override def stageReps: Int = 1

  def stage(dir: Path): Unit = {
    lexRoot = dir.resolve("lex").toString
    vecRoot = dir.resolve("vec").toString
    val (cent, cb) = quant
    TxVectorStack.init(spark, vecRoot, cent, cb)
    val pages = 2
    for (p <- 0 until pages) {
      // consecutive pages overlap by ten ids: at-least-once arrivals
      val lo = math.max(0L, p * nDocs / pages - 10L)
      val hi = (p + 1L) * nDocs / pages
      TxServeStack.commitBatch(spark, lexRoot,
        docs.filter(col("doc_id") >= lo && col("doc_id") < hi), p.toLong,
        "doc_id", "text", docBuckets = buckets, termBuckets = buckets)
      TxVectorStack.commitBatch(spark, vecRoot,
        emb.filter(col("vec_id") >= lo && col("vec_id") < hi), p.toLong,
        "vec_id", "embedding", buckets = buckets)
    }
    lexOld = Manifest.read(spark, lexRoot).get.version
    vecOld = Manifest.read(spark, vecRoot).get.version
    require(TxServeStack.commitUpsert(spark, lexRoot, updatedDocs(docs),
      pages.toLong, "doc_id", "text", docBuckets = buckets,
      termBuckets = buckets), "lexical upsert must commit")
    require(TxVectorStack.commitUpsert(spark, vecRoot, rotatedEmb(emb),
      pages.toLong, "vec_id", "embedding", buckets = buckets),
      "vector upsert must commit")
  }

  /** One request: kind, query ids, pinned to the older version or not. */
  final case class Ask(kind: String, ids: Seq[Long], pinned: Boolean)

  private val used = scala.collection.mutable.Set[Seq[Long]]()

  def asks(i: Int): Seq[Ask] = {
    val r = new scala.util.Random(seed * 7919L + i)
    val pin = r.nextInt(4)
    r.shuffle(Seq("lexical", "vector", "hybrid", "hybrid")).zipWithIndex
      .map { case (kind, j) =>
        var ids = Seq.empty[Long]
        while (ids.isEmpty || used(ids))
          ids = Seq.fill(1 + r.nextInt(3))(r.nextInt(nVecs).toLong).distinct.sorted
        used += ids
        Ask(kind, ids, j == pin)
      }
  }

  private def lexical(ids: Seq[Long], version: Option[Long]): DataFrame = {
    val qt = docs.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("q_id"), explode(split(col("text"), " ")).as("term"))
    val elected = trace.span("serve.elect") {
      Ledger.keyHashBuckets(qt.select("term").distinct(), "term", buckets)
    }
    val (postings, stats, global) = trace.span("serve.resolve") {
      TxServeStack.resolve(spark, lexRoot, statsBuckets = Some(elected),
        version = version)
    }
    Retrieval.bm25TopKFromStats(qt, postings, stats, global, k = k)
      .select(col("q_id"), col("doc_id").as("n_id"), col("rnk"))
  }

  private def vector(ids: Seq[Long], version: Option[Long]): DataFrame = {
    val (codes, cent, cb) = trace.span("serve.resolve") {
      TxVectorStack.resolve(spark, vecRoot, version = version)
    }
    Similarity.ivfPqTopKFromIndex(emb.filter(col("vec_id").isin(ids: _*)),
        codes, cent, cb, "vec_id", "embedding", k = k, nProbe = 4)
      .select(col("q_id"), col("n_id"), col("rnk"))
  }

  /** (q_id, n_id, rnk) rows, sorted — what a request returns. */
  private def rows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("q_id").cast("long"), col("n_id").cast("long"),
        col("rnk").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  private def answer(a: Ask): Seq[(Long, Long, Long)] = {
    val lv = if (a.pinned) Some(lexOld) else None
    val vv = if (a.pinned) Some(vecOld) else None
    val plan = a.kind match {
      case "lexical" => lexical(a.ids, lv)
      case "vector"  => vector(a.ids, vv)
      case _ => Retrieval.rrfFuse(Seq(lexical(a.ids, lv), vector(a.ids, vv)), k = k)
    }
    trace.span("serve.compute") { rows(plan) }
  }

  def pass(i: Int): Seq[Request] = asks(i).map(a =>
    Request(a.kind, () => answer(a), post = v => (a, v)))

  /** The batch path over the raw tables as of each version: BM25 over a
    * ledger built from the documents, IVF-PQ over the raw vectors with
    * the stack's quantizer, fused the same way. All asked ids of a
    * version go in one batch query per kind. */
  def verify(done: Seq[Done]): Map[Int, String] = {
    val asked = done.map(d => d.seq -> d.value.asInstanceOf[(Ask, Seq[(Long, Long, Long)])])
    val (cent, cb) = quant
    val expected = Seq(true, false).flatMap { pinned =>
      val ids = asked.filter(_._2._1.pinned == pinned).flatMap(_._2._1.ids).distinct
      if (ids.isEmpty) Nil
      else {
        val corpus =
          if (pinned) docs
          else docs.join(updatedDocs(docs), Seq("doc_id"), "left_anti")
            .select("doc_id", "text").unionByName(updatedDocs(docs))
        val vecs =
          if (pinned) emb.select("vec_id", "embedding")
          else emb.join(rotatedEmb(emb), Seq("vec_id"), "left_anti")
            .select("vec_id", "embedding").unionByName(rotatedEmb(emb))
        val ledger = Retrieval.withDocNorms(
          Retrieval.bm25IndexBuild(corpus, "doc_id", "text")).cache()
        val qt = docs.filter(col("doc_id").isin(ids: _*))
          .select(col("doc_id").as("q_id"), explode(split(col("text"), " ")).as("term"))
        val lex = Retrieval.bm25TopKFromStats(qt,
            ledger.select("doc_id", "term", "tf", "dl"),
            Retrieval.bm25TermStatsBuild(ledger),
            Retrieval.bm25GlobalStatsBuild(ledger), k = k)
          .select(col("q_id"), col("doc_id").as("n_id"), col("rnk")).cache()
        val den = Similarity.ivfPqTopK(emb.filter(col("vec_id").isin(ids: _*)),
            vecs, cent, cb, "vec_id", "embedding", k = k, nProbe = 4)
          .select(col("q_id"), col("n_id"), col("rnk")).cache()
        val hyb = Retrieval.rrfFuse(Seq(lex, den), k = k)
        val out = Seq("lexical" -> lex, "vector" -> den, "hybrid" -> hyb)
          .map { case (kind, df) => (pinned, kind) -> rows(df).groupBy(_._1) }
        Seq(lex, den, ledger).foreach(_.unpersist())
        out
      }
    }.toMap
    asked.flatMap { case (seq, (a, got)) =>
      val want = a.ids.flatMap(id =>
        expected((a.pinned, a.kind)).getOrElse(id, Nil)).sorted
      if (got == want) None
      else Some(seq -> (s"${a.kind} ${a.ids.mkString(",")} pinned=${a.pinned}: " +
        s"got ${got.take(3)} want ${want.take(3)}"))
    }.toMap
  }

  override def layers(done: Seq[Done], t: Trace): Map[String, Double] = {
    val lat = done.map(_.ms)
    Layers.spanMedians(t, done, Map("serve.resolve" -> "serve.resolve_ms",
      "serve.elect" -> "serve.elect_ms", "serve.compute" -> "serve.compute_ms")) ++
      Map("serve.p50_ms" -> Bench.median(lat),
        "serve.tail_ms" -> Bench.tail(lat)._2,
        "serve.jobs" -> Layers.jobsPerRequest(t, done))
  }
}
