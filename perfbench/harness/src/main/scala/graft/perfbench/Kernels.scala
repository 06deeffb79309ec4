package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** The kernel layer: each codegen expression (through its `graft_*` SQL
  * function) against the interpreted higher-order-function form it
  * replaced, over fixed seed-generated rows held in memory. A timing is
  * the fastest of five noop-sink passes (the least disturbed by other
  * work on the machine); ns per row is the slope between the whole input
  * and its first quarter, which cancels the fixed cost of running a job. */
object Kernels {
  private val textRows = 8000
  private val vecRows = 40000
  private val movRows = 8000
  private val reps = 5

  /** (metric, input, expression); `t` text, `tok` token, `a`/`b` vectors,
    * `mov` a movimentos array. */
  private def vote(p: String): String =
    s"""CAST(substr(md5(concat(IF($p <= 32, '', concat(CAST(($p - 1) DIV 32 AS STRING), ':')), tok)),
       |  (($p - 1) % 32) + 1, 1) >= '8' AS BIGINT)""".stripMargin

  private val exprs: Seq[(String, String, String)] = Seq(
    ("dot", "vec", "graft_dot(a, b)"),
    ("dot_hof", "vec",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (s, v) -> s + v)"),
    ("rolling_hash", "text", "graft_rolling_hash(t)"),
    ("rolling_hash_hof", "text",
      """aggregate(sequence(1, char_length(t)), 0L,
        |  (h, i) -> (h * 31 + ascii(substr(t, i, 1))) % 1000000007)""".stripMargin),
    ("word_shingles", "text", "graft_word_shingles(t, 3)"),
    ("word_shingles_hof", "text",
      """transform(sequence(1, size(split(t, ' ')) - 2),
        |  i -> concat_ws(' ', slice(split(t, ' '), i, 3)))""".stripMargin),
    ("simhash_mask", "token", "graft_simhash_mask(tok, 64)"),
    ("simhash_mask_hof", "token",
      s"transform(sequence(0, 31), i -> ${vote("2 * i + 1")} + ${vote("2 * i + 2")} * 4294967296)"),
    ("char_ngrams", "text", "graft_char_ngrams(t, 3)"),
    ("char_ngrams_hof", "text",
      "transform(sequence(1, char_length(t) - 2), i -> substr(t, i, 3))"),
    ("sort_movimentos", "mov", ""))

  val names: Seq[String] = exprs.map(e => s"kernel.${e._1}.ns_per_row")

  private def inputs(spark: SparkSession, seed: Long): Map[String, DataFrame] = {
    val r = new scala.util.Random(seed)
    val vocab = Array.fill(2000)(
      Iterator.fill(2 + r.nextInt(9))(('a' + r.nextInt(26)).toChar).mkString)
    val texts = Seq.fill(textRows)(
      Seq.fill(20 + r.nextInt(21))(vocab(r.nextInt(vocab.length))).mkString(" "))
    import spark.implicits._
    val text = texts.toDF("t")
    val token = texts.flatMap(_.split(" ").take(5)).toDF("tok")
    val vec = Seq.fill(vecRows)((Array.fill(64)(r.nextFloat() - 0.5f),
      Array.fill(64)(r.nextFloat() - 0.5f))).toDF("a", "b")
    val movType = ArrayType(StructType(Seq(StructField("codigo", LongType),
      StructField("nome", StringType), StructField("dataHora", TimestampType))))
    val movs = Seq.fill(movRows)(Row(Seq.fill(5 + r.nextInt(31))(Row(
      r.nextInt(1000).toLong, vocab(r.nextInt(vocab.length)),
      if (r.nextInt(20) == 0) null
      else new java.sql.Timestamp(1.5e12.toLong + r.nextInt(1 << 30) * 100L)))))
    val mov = spark.createDataFrame(spark.sparkContext.parallelize(movs),
      StructType(Seq(StructField("mov", movType))))
    Map("text" -> text, "token" -> token, "vec" -> vec, "mov" -> mov)
      .map { case (k, df) => k -> df.cache() }
  }

  def run(spark: SparkSession, seed: Long): Map[String, Double] = {
    val whole = inputs(spark, seed)
    val rows = whole.map { case (k, df) => k -> df.count() }
    val quarter = whole.map { case (k, df) =>
      k -> df.limit((rows(k) / 4).toInt).cache() }
    quarter.values.foreach(_.count())
    def time(df: DataFrame, c: org.apache.spark.sql.Column): Double =
      Seq.fill(reps) {
        val t0 = System.nanoTime()
        df.select(c.as("k")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.min
    try exprs.map { case (name, input, e) =>
      val c =
        if (name == "sort_movimentos") graft.pipeline.Hits.sortMovimentos(col("mov"))
        else expr(e)
      val slope = (time(whole(input), c) - time(quarter(input), c)) /
        (rows(input) - rows(input) / 4)
      s"kernel.$name.ns_per_row" -> slope
    }.toMap
    finally (whole.values ++ quarter.values).foreach(_.unpersist())
  }
}
