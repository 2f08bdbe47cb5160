package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import scala.util.Random

/** Seeded synthetic INMET corpus: one two-section station CSV per station
  * (8 `KEY:;VALUE` metadata lines, the 19-column `;` header, hourly
  * decimal-comma rows), in the shapes the ingest has to handle:
  *
  *  - two layouts, chosen per station: `yyyy/MM/dd` dates with a trailing
  *    `;` on every line, or `dd/MM/yyyy` dates without one;
  *  - two header spellings: accented UTF-8 (`PRECIPITAÇÃO`, `°C`), which
  *    a Latin-1 viewer shows as mojibake, and accent-stripped ASCII; both
  *    sanitize to the same column names;
  *  - foundation dates as `dd/MM/yy` or `dd/MM/yyyy`;
  *  - empty measure fields (always `RADIACAO GLOBAL`, plus a seeded share
  *    of the kept measures), leading-comma fractions (`,4`), and one fully
  *    empty hourly row per station.
  *
  * Every station covers the same `days` from `start`, so the expected row
  * count of each output table follows from the parameters alone
  * ([[expectedRows]]). The true value of every kept measure is written to
  * `truth.csv` (empty = missing) and every station's attributes to
  * `stations.csv`, for the content check.
  */
object InmetData {

  final case class Params(stations: Int, days: Int, seed: Long) {
    val start: LocalDate = LocalDate.of(2025, 1, 1)
      .plusDays(java.lang.Math.floorMod(seed * 7919L, 300L))
    def rawRows: Long = stations.toLong * days * 24
    def months: Int = {
      val end = start.plusDays(days - 1L)
      (end.getYear - start.getYear) * 12 + end.getMonthValue -
        start.getMonthValue + 1
    }
  }

  /** Row count of each of the six output tables of `Pipeline.run`. */
  def expectedRows(p: Params): Map[String, Long] = Map(
    "stage/cidades" -> p.stations.toLong,
    "stage/previsoes" -> p.rawRows,
    "stage/datas" -> p.days.toLong,
    "analytic/dim_cidade_atributos" -> p.stations.toLong,
    "analytic/fato_agg_previsoes_dia" -> p.stations.toLong * p.days,
    "analytic/cidade_kpis_mensal" -> p.stations.toLong * p.months)

  private val accented = Seq("Data", "Hora UTC",
    "PRECIPITAÇÃO TOTAL, HORÁRIO (mm)",
    "PRESSAO ATMOSFERICA AO NIVEL DA ESTACAO, HORARIA (mB)",
    "PRESSÃO ATMOSFERICA MAX.NA HORA ANT. (AUT) (mB)",
    "PRESSÃO ATMOSFERICA MIN. NA HORA ANT. (AUT) (mB)",
    "RADIACAO GLOBAL (Kj/m²)",
    "TEMPERATURA DO AR - BULBO SECO, HORARIA (°C)",
    "TEMPERATURA DO PONTO DE ORVALHO (°C)",
    "TEMPERATURA MÁXIMA NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA MÍNIMA NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA ORVALHO MAX. NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA ORVALHO MIN. NA HORA ANT. (AUT) (°C)",
    "UMIDADE REL. MAX. NA HORA ANT. (AUT) (%)",
    "UMIDADE REL. MIN. NA HORA ANT. (AUT) (%)",
    "UMIDADE RELATIVA DO AR, HORARIA (%)",
    "VENTO, DIREÇÃO HORARIA (gr) (° (gr))",
    "VENTO, RAJADA MAXIMA (m/s)",
    "VENTO, VELOCIDADE HORARIA (m/s)")

  private def stripAccents(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
      .replaceAll("[^\\p{ASCII}]", "")

  /** Header positions of the kept measures, in truth.csv column order:
    * precipitation, max pressure, dry-bulb temperature, humidity, wind. */
  private val kept = Seq(2, 4, 7, 15, 18)

  private val regions = Seq("SE" -> "MG", "SE" -> "SP", "S" -> "PR",
    "NE" -> "BA", "CO" -> "GO", "N" -> "AM")

  /** Writes the corpus under `dir/csv` and `dir/truth.csv`; returns the
    * glob `Pipeline.run` reads. */
  def write(dir: String, p: Params): String = {
    val csvDir = new File(dir, "csv")
    csvDir.mkdirs()
    val truth = writer(new File(dir, "truth.csv"))
    truth.write("wmo,day,hour,precip,pressao,temp,umid,vento\n")
    val stations = writer(new File(dir, "stations.csv"))
    stations.write("wmo,regiao,uf,estacao,latitude,longitude,altitude,founded\n")
    val rnd = new Random(p.seed)
    val dash = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd")
    val dayFirst = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy")
    val iso = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    def round(v: Double, digits: Int): String =
      BigDecimal(v).setScale(digits, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
    def dec(v: Double, digits: Int): String = {
      val c = round(v, digits).replace('.', ',')
      if (c.startsWith("0,")) c.substring(1)
      else if (c.startsWith("-0,")) "-" + c.substring(2)
      else c
    }
    for (i <- 0 until p.stations) {
      val wmo = f"Z$i%04d"
      val (regiao, uf) = regions(rnd.nextInt(regions.size))
      val dmy = rnd.nextBoolean()
      val ascii = rnd.nextBoolean()
      val end = if (dmy) "" else ";"
      // 2000s only: Spark reads a two-digit year as 20yy
      val founded = LocalDate.of(2000 + rnd.nextInt(20), 1 + rnd.nextInt(12),
        1 + rnd.nextInt(28))
      val foundedText =
        if (rnd.nextBoolean()) founded.format(
          java.time.format.DateTimeFormatter.ofPattern("dd/MM/yy"))
        else founded.format(dayFirst)
      val header =
        (if (ascii) accented.map(stripAccents) else accented).mkString(";")
      val (lat, lon, alt) = (-30 + rnd.nextDouble() * 30,
        -70 + rnd.nextDouble() * 35, rnd.nextDouble() * 1500)
      val out = writer(new File(csvDir, s"INMET_${regiao}_${uf}_${wmo}_S$i.csv"))
      out.write(s"REGIAO:;$regiao\nUF:;$uf\nESTACAO:;SYNTH STATION $i\n" +
        s"CODIGO (WMO):;$wmo\nLATITUDE:;${dec(lat, 8)}\n" +
        s"LONGITUDE:;${dec(lon, 8)}\nALTITUDE:;${dec(alt, 2)}\n" +
        s"DATA DE FUNDACAO:;$foundedText\n$header$end\n")
      stations.write(s"$wmo,$regiao,$uf,SYNTH STATION $i,${round(lat, 8)}," +
        s"${round(lon, 8)},${round(alt, 2)},${founded.format(iso)}\n")
      val baseTemp = 12 + rnd.nextDouble() * 16
      val basePres = 850 + rnd.nextDouble() * 160
      val emptyRow = rnd.nextInt(p.days * 24)
      for (d <- 0 until p.days; hour <- 0 until 24) {
        val day = p.start.plusDays(d.toLong)
        val date = if (dmy) day.format(dayFirst) else day.format(dash)
        val hora = f"$hour%02d00 UTC"
        val values: Array[Option[Double]] =
          if (d * 24 + hour == emptyRow) Array.fill(5)(None)
          else Array(
            if (rnd.nextInt(6) == 0) rnd.nextInt(80) / 10.0 else 0.0,
            basePres + rnd.nextInt(200) / 10.0,
            baseTemp + 6 * math.sin((hour - 9) / 24.0 * 2 * math.Pi) +
              rnd.nextInt(40) / 10.0 - 2,
            (30 + rnd.nextInt(70)).toDouble,
            rnd.nextInt(60) / 10.0)
            .map(v => if (rnd.nextInt(50) == 0) None else Some(v))
        val fields = Array.fill(accented.size)("")
        fields(0) = date
        fields(1) = hora
        if (values.exists(_.isDefined)) {
          fields(3) = dec(basePres + 1, 1)
          fields(5) = dec(basePres - 1, 1)
          fields(16) = rnd.nextInt(360).toString
        }
        kept.zip(values).foreach { case (k, v) => fields(k) = v.fold("")(dec(_, 1)) }
        out.write(fields.mkString(";") + end + "\n")
        truth.write(s"$wmo,${day.format(iso)},$hour," +
          values.map(_.fold("")(round(_, 1))).mkString(",") + "\n")
      }
      out.close()
    }
    truth.close()
    stations.close()
    s"${csvDir.getPath}/*.csv"
  }

  private def writer(f: File) = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
}
