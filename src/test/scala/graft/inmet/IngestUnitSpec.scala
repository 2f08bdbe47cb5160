package graft.inmet

import graft.SparkSuite
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.sql.Date

/** Unit coverage of the cleansing scalar semantics (SURVEY.md §2.3). */
class IngestUnitSpec extends SparkSuite {
  import spark.implicits._

  test("sanitize reproduces the reference's header names") {
    assert(Ingest.sanitize("PRECIPITAÇÃO TOTAL, HORÁRIO (mm)")
      === "precipitacao_total_horario_mm")
    assert(Ingest.sanitize("PRESSÃO ATMOSFERICA MAX.NA HORA ANT. (AUT) (mB)")
      === "pressao_atmosferica_max_na_hora_ant_aut_mb")
    assert(Ingest.sanitize("TEMPERATURA DO AR - BULBO SECO, HORARIA (°C)")
      === "temperatura_do_ar_bulbo_seco_horaria_c")
    assert(Ingest.sanitize("UMIDADE RELATIVA DO AR, HORARIA (%)")
      === "umidade_relativa_do_ar_horaria")
    assert(Ingest.sanitize("VENTO, VELOCIDADE HORARIA (m/s)")
      === "vento_velocidade_horaria_m_s")
    assert(Ingest.sanitize("Data") === "data")
  }

  private val a508 = "/inmet/INMET_SE_MG_A508_ALMENARA.csv"

  private def readUtf8(resource: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(resourcePath(resource))), UTF_8)

  /** Write `files` (name -> bytes) into a fresh directory, run `body` on
    * it, then delete it. */
  private def withFiles[T](files: Seq[(String, Array[Byte])])(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("inmet_files")
    files.foreach { case (name, bytes) =>
      java.nio.file.Files.write(dir.resolve(name), bytes)
    }
    try body(dir.toString)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("header encodings: UTF-8, ASCII, Latin-1 and double-encoded resolve the same indices") {
    val header = readUtf8(a508).linesIterator.find(_.startsWith("Data;")).get
    val ascii = java.text.Normalizer.normalize(header,
      java.text.Normalizer.Form.NFKD).replaceAll("[^\\p{ASCII}]", "")
    val doubled = new String(header.getBytes(UTF_8), ISO_8859_1)
    val encodings = Seq(
      "utf8" -> header.getBytes(UTF_8),
      "ascii" -> ascii.getBytes(UTF_8),
      "latin1" -> header.getBytes(ISO_8859_1),
      "double" -> doubled.getBytes(UTF_8))
    assert(Ingest.decodeHeader(header.getBytes(ISO_8859_1)) === header)
    assert(Ingest.decodeHeader(doubled.getBytes(UTF_8)) === header)
    withFiles(encodings.map { case (n, b) => s"$n.csv" -> b }) { dir =>
      val idx = Ingest.fileColumnIndex(spark, Ingest.readLines(spark, s"$dir/*.csv"))
        .collect().map(r => r.getString(0).split('/').last ->
          (1 to 6).map(r.getInt)).toMap
      // data, precipitation, pressure, temperature, humidity, wind
      val want = Seq(1, 3, 5, 8, 16, 19)
      encodings.foreach { case (n, _) =>
        assert(idx(s"$n.csv") === want, s"$n header")
      }
    }
  }

  test("an ISO-8859-1 station file ingests the same previsoes as its UTF-8 original") {
    val text = readUtf8(a508)
    withFiles(Seq("A508_latin1.csv" -> text.getBytes(ISO_8859_1))) { dir =>
      val latin1 = Pipeline.stage(spark, s"$dir/*.csv").previsoes
      val utf8 = Pipeline.stage(spark, resourcePath(a508)).previsoes
      assert(latin1.count() === 4344L)
      assert(latin1.except(utf8).isEmpty && utf8.except(latin1).isEmpty)
      // the two columns a Latin-1 header used to lose carry real values
      assert(latin1.filter($"precipitacao_mm" > 0.0).count() > 0L)
      assert(latin1.filter($"pressao_atm_kpa" > 0.0).count() > 0L)
    }
  }

  test("commaDouble: decimal comma, leading-comma fraction, null tokens") {
    val in = Seq("915,6", ",7", "-48,25555555", "", "None", "nan", " 87 ",
      "abc", "86").toDF("s")
    val out = in.select(Ingest.commaDouble($"s")).as[Option[Double]].collect()
    assert(out.toSeq === Seq(Some(915.6), Some(0.7), Some(-48.25555555),
      None, None, None, Some(87.0), None, Some(86.0)))
  }

  test("cleansing scalars behave identically with ANSI mode off") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val nums = Seq(",7", "abc", "915,6").toDF("s")
        .select(Ingest.commaDouble($"s")).as[Option[Double]].collect()
      assert(nums.toSeq === Seq(Some(0.7), None, Some(915.6)))
      val dates = Seq("2025/02/31", "18/12/02").toDF("s")
        .select(Ingest.parseDateFlexible($"s")).as[Option[Date]]
        .collect().map(_.map(_.toString))
      assert(dates.toSeq === Seq(None, Some("2002-12-18")))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("multi-file ingest: 20 generated stations parse in one pass with exact counts") {
    val src = readUtf8(a508)
    val files = (0 until 20).map { i =>
      val code = f"A7$i%02d"
      val body = src
        .replace("CODIGO (WMO):;A508", s"CODIGO (WMO):;$code")
        .replace("ESTACAO:;ALMENARA", f"ESTACAO:;GEN$i%02d")
      s"INMET_SE_MG_${code}_GEN$i.csv" -> body.getBytes(UTF_8)
    }
    withFiles(files) { dir =>
      val st = Pipeline.stage(spark, dir + "/*.csv")
      assert(st.cidades.count() === 20L)
      assert(st.previsoes.count() === 20L * 4344L)
      assert(st.previsoes.select("wmo").distinct().count() === 20L)
      val an = Pipeline.analytics(st)
      assert(an.fatoAggPrevisoesDia.count() === 20L * 181L)
      assert(an.cidadeKpisMensal.count() === 20L * 6L)
    }
  }

  test("parseDateFlexible: all three INMET formats + coerce-to-null") {
    val in = Seq("2025/01/01", "30/06/2025", "18/12/02", "19/12/2004",
      "2025/02/31", "garbage", "").toDF("s")
    val out = in.select(Ingest.parseDateFlexible($"s"))
      .as[Option[Date]].collect().map(_.map(_.toString))
    assert(out.toSeq === Seq(Some("2025-01-01"), Some("2025-06-30"),
      Some("2002-12-18"), Some("2004-12-19"), None, None, None))
  }
}
