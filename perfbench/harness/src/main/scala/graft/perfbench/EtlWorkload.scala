package graft.perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path}
import java.time.{Instant, LocalDate, ZoneId}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.pipeline.{JurimetriaPipeline, PipelineConfig}

/** What the generator knows about the pages it wrote, computed from its
  * own rows (never through the pipeline). */
final case class EtlExpected(hits: Long, rawBytes: Long, rows: Long,
                             histogram: Map[Long, Long])

/** Raw DataJud hit pages, one JSON-lines directory per court, plus one
  * court whose directory is missing. Per court the seed draws the share
  * of hits in the queried class, of null or malformed filing dates, and
  * of municipio codes absent from the lookup; movimentos per hit follow
  * a Pareto tail (mean about 20). */
object HitGen {
  val courts: Seq[String] = Seq("tjsp", "tjmg", "tjrj", "tjrs", "tjpr", "trf3")
  val missingCourt = "tjba"
  val classe = 12729L
  val de = "2020-01-01"
  val ate = "2024-12-31"
  private val sp = ZoneId.of("America/Sao_Paulo")
  private val lo = LocalDate.parse(de).atStartOfDay(sp).toInstant
  private val hi = LocalDate.parse(ate).atStartOfDay(sp).toInstant
  private val span0 = Instant.parse("2019-01-01T00:00:00Z").getEpochSecond
  private val span1 = Instant.parse("2025-12-31T00:00:00Z").getEpochSecond
  val municipios: Seq[(Long, String)] =
    (0 until 60).map(i => (3500000L + i * 101, s"Municipio $i"))
  private val nomes = Seq("Distribuido", "Conclusos", "Audiencia",
    "Sentenca", "Despacho", "Juntada", "Arquivamento", "Recurso")
  private val filesPerCourt = 4

  def write(root: Path, seed: Long, hits: Int): EtlExpected = {
    val r = new scala.util.Random(seed)
    val shares = courts.map(_ => 0.5 + r.nextDouble())
    val perCourt = shares.map(s => (s / shares.sum * hits).toInt)
    var rows = 0L
    var bytes = 0L
    val hist = mutable.Map[Long, Long]().withDefaultValue(0L)
    val sb = new java.lang.StringBuilder
    courts.zip(perCourt).foreach { case (court, n) =>
      val classShare = 0.6 + 0.2 * r.nextDouble()
      val badDateShare = 0.02 + 0.06 * r.nextDouble()
      val unmatched = 0.05 + 0.15 * r.nextDouble()
      val dir = Files.createDirectories(root.resolve(court))
      val outs = (0 until filesPerCourt).map(f =>
        new BufferedWriter(new FileWriter(dir.resolve(s"part-$f.json").toFile)))
      for (h <- 0 until n) {
        val inClass = r.nextDouble() < classShare
        val secs = span0 + (r.nextDouble() * (span1 - span0)).toLong
        val date: Option[String] = r.nextDouble() match {
          case x if x < badDateShare / 2 => None
          case x if x < badDateShare => Some(if (r.nextBoolean()) "sem data" else "2023-1x-05")
          case _ => Some(Instant.ofEpochSecond(secs).toString)
        }
        val valid = date.exists(_.endsWith("Z"))
        val t = Instant.ofEpochSecond(secs)
        if (inClass && (!valid || (!t.isBefore(lo) && !t.isAfter(hi)))) {
          rows += 1
          if (valid) hist(t.atZone(sp).getHour.toLong) += 1
        }
        val mun =
          if (r.nextDouble() < unmatched) (9900000 + r.nextInt(1000)).toString
          else municipios(r.nextInt(municipios.size))._1.toString
        val nMov = math.min(400, (10.0 / math.pow(1.0 - r.nextDouble(), 0.5)).toInt)
        sb.setLength(0)
        sb.append("{\"_source\":{\"numeroProcesso\":\"")
          .append(f"$h%07d-${court.hashCode.abs % 100}%02d.2023.8.26.0000")
          .append("\",\"classe\":{\"codigo\":")
          .append(if (inClass) classe else 10000L + r.nextInt(900))
          .append(",\"nome\":\"").append(if (inClass) "ANPP" else "Outra")
          .append("\"},\"dataAjuizamento\":")
          .append(date.map(d => "\"" + d + "\"").getOrElse("null"))
          .append(",\"dataHoraUltimaAtualizacao\":\"")
          .append(Instant.ofEpochSecond(secs + 86400L * 30).toString)
          .append("\",\"formato\":{\"nome\":\"Eletronico\"},\"orgaoJulgador\":{\"codigo\":\"")
          .append(r.nextInt(5000)).append("\",\"nome\":\"Vara ").append(r.nextInt(300))
          .append("\",\"codigoMunicipioIBGE\":\"").append(mun)
          .append("\"},\"grau\":\"G1\",\"assuntos\":[{\"codigo\":")
          .append(r.nextInt(9999)).append(",\"nome\":\"Assunto\"}],\"movimentos\":[")
        for (m <- 0 until nMov) {
          if (m > 0) sb.append(',')
          sb.append("{\"codigo\":").append(r.nextInt(1000))
            .append(",\"nome\":\"").append(nomes(r.nextInt(nomes.size)))
            .append("\",\"dataHora\":")
          if (r.nextInt(20) == 0) sb.append("null")
          else sb.append('"')
            .append(Instant.ofEpochSecond(secs + r.nextInt(86400 * 700)).toString)
            .append('"')
          sb.append('}')
        }
        sb.append("]},\"sort\":[").append(secs * 1000).append("]}\n")
        bytes += sb.length
        outs(h % filesPerCourt).append(sb)
      }
      outs.foreach(_.close())
    }
    EtlExpected(perCourt.sum.toLong, bytes, rows, hist.toMap)
  }
}

/** The paper's pipeline, one request = `JurimetriaPipeline.run` →
  * `persist` (parquet zstd + CSV) → `hourHistogram` over the persisted
  * parquet, on freshly generated raw pages. */
final class EtlWorkload(spark: SparkSession, seed: Long, trace: Trace)
    extends Workload {
  private val hits = 2000
  private var pages: Path = _
  private var expected: EtlExpected = _
  private val conf = PipelineConfig(classeCodigo = Some(HitGen.classe),
    de = Some(HitGen.de), ate = Some(HitGen.ate))
  private lazy val municipios = {
    import spark.implicits._
    (HitGen.municipios.map { case (c, n) => (Option(c), n) } :+
      ((None: Option[Long]), "sem codigo")).toDF("CD_MUN", "NM_MUN")
  }

  /** The JIT keeps speeding a request up for several passes (a request
    * runs one large generated plan three times); three warm-up passes
    * move measuring onto the flat part of that curve. */
  override def warmPasses: Int = 3

  def stage(dir: Path): Unit = {
    pages = dir.resolve("pages")
    expected = HitGen.write(pages, seed, hits)
  }

  private def outDir = pages.resolveSibling("out").toString

  def pass(i: Int): Seq[Request] = Seq(Request("pipeline", () => {
    val dirs = (HitGen.courts :+ HitGen.missingCourt)
      .map(c => c -> pages.resolve(c).toString).toMap
    val df = trace.span("pipeline.run") {
      JurimetriaPipeline.run(spark, dirs, municipios, conf)
    }
    trace.span("pipeline.persist") { JurimetriaPipeline.persist(df, outDir) }
    trace.span("pipeline.histogram") {
      JurimetriaPipeline.hourHistogram(
        spark.read.parquet(s"$outDir/processos.parquet")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
  }, post = hist => (spark.read.parquet(s"$outDir/processos.parquet").count(), hist)))

  def verify(done: Seq[Done]): Map[Int, String] =
    done.flatMap { d =>
      val (n, hist) = d.value.asInstanceOf[(Long, Map[Long, Long])]
      if (n != expected.rows) Some(d.seq -> s"rows $n != ${expected.rows}")
      else if (hist != expected.histogram)
        Some(d.seq -> s"histogram differs: $hist vs ${expected.histogram}")
      else None
    }.toMap

  private def bytesUnder(p: Path): Long = {
    val st = Files.walk(p)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally st.close()
  }

  override def layers(done: Seq[Done], t: Trace): Map[String, Double] = {
    // bytes the run and persist steps read, against the raw page bytes
    val persists = t.spans.filter(_.name == "pipeline.persist")
    val reqIn = done.map(d => persists.filter(s => s.start >= d.t0 && s.end <= d.t1)
      .flatMap(s => t.jobsIn(s.start, s.end)).map(_.inBytes).sum.toDouble)
    val outBytes = bytesUnder(pages.resolveSibling("out"))
    Layers.spanMedians(t, done, Map("pipeline.run" -> "pipeline.run_ms",
      "pipeline.persist" -> "pipeline.persist_ms",
      "pipeline.histogram" -> "pipeline.histogram_ms")) ++ Map(
      "pipeline.jobs" -> Layers.jobsPerRequest(t, done),
      "pipeline.raw_scan_ratio" -> Bench.median(reqIn) / expected.rawBytes,
      "pipeline.hits_per_s" -> expected.hits / (Bench.median(done.map(_.ms)) / 1e3),
      "pipeline.output_bytes_per_row" -> outBytes.toDouble / expected.rows)
  }
}
