package graft.operators

import graft.QueryDef
import graft.inmet.{Pipeline, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own warehouse analytics, registered over the three real
  * INMET fixture CSVs (committed under src/test/resources/inmet) WITH full
  * DuckDB oracles: the oracle SQL re-implements the whole ingest+aggregate
  * pipeline (line classification, metadata pivot, decimal-comma cleansing,
  * zero-fill, dual date formats) over the same raw files.
  *
  * Averages here are computed in the exact cents domain
  * (`SUM(round(x*100)) / 100.0 / n`) — the same true mean as the plain AVG
  * in graft.inmet.Warehouse (INMET measures carry <= 2 decimals) but with a
  * deterministic, engine-portable evaluation order. Warehouse itself stays
  * reference-faithful and is pinned by the golden suite instead. */
object InmetQueries {

  private val fixtureGlob = "/root/repo/src/test/resources/inmet/*.csv"

  /** Exact deterministic daily rollup (same shape as
    * Warehouse.fatoAggPrevisoesDia). */
  def inmetDaily(spark: SparkSession, dir: String): DataFrame = {
    val st = Pipeline.stage(spark, fixtureGlob)
    val dim = Warehouse.dimCidadeAtributos(st.cidades)
    def centsSum(c: String) = sum(Star.cents(col(c)))
    def avgD(c: String) =
      centsSum(c).cast("double") / 100.0 / count(lit(1))
    st.previsoes
      .join(broadcast(dim.select("wmo", "cidade_sk")), Seq("wmo"))
      .groupBy("wmo", "cidade_sk", "data_medicao")
      .agg(
        min("temperatura_c").as("temp_min_c"),
        max("temperatura_c").as("temp_max_c"),
        avgD("temperatura_c").as("temp_avg_c"),
        (centsSum("precipitacao_mm").cast("double") / 100.0)
          .as("precip_total_mm"),
        avgD("pressao_atm_kpa").as("pressao_avg_kpa"),
        avgD("vento_mps").as("vento_avg_mps"),
        avgD("umidade_porcentagem").as("umidade_avg_pct"),
        count(lit(1)).as("registros_horarios"))
      .orderBy("wmo", "data_medicao")
  }

  /** Monthly KPIs with the avg-of-daily-avgs level in exact fixed point
    * (1e-6 quantized integer division — portable across engines). */
  def inmetKpis(spark: SparkSession, dir: String): DataFrame = {
    val st = Pipeline.stage(spark, fixtureGlob)
    val dim = Warehouse.dimCidadeAtributos(st.cidades)
    val daily = st.previsoes
      .join(broadcast(dim.select("wmo", "cidade_sk")), Seq("wmo"))
      .groupBy("wmo", "cidade_sk", "data_medicao")
      .agg(
        sum(Star.cents(col("temperatura_c"))).as("temp_c_sum"),
        max("temperatura_c").as("temp_max_c"),
        sum(Star.cents(col("precipitacao_mm"))).as("precip_c"),
        count(lit(1)).as("n"))
      // daily avg in exact 1e-6 degC units
      .withColumn("temp_avg_u", Star.idiv(col("temp_c_sum") * 10000L, col("n")))
    daily
      .groupBy(col("cidade_sk"),
        year(col("data_medicao")).cast("long").as("ano"),
        month(col("data_medicao")).cast("long").as("mes"))
      .agg(
        (Star.idiv(sum(col("temp_avg_u")), count(lit(1))).cast("double") / 1e6)
          .as("mensal_temp_media"),
        max("temp_max_c").as("mensal_temp_max"),
        (sum(col("precip_c")).cast("double") / 100.0).as("mensal_precip_total"),
        count(when(col("precip_c") > 0L, 1)).as("dias_com_precip"))
      .orderBy("cidade_sk", "ano", "mes")
  }

  /** The March daily rollup of the hourly rows, shared by the batch and
    * the streaming query (both gated by [[inmetRangeSql]]). */
  private def marchRollup(previsoes: DataFrame): DataFrame =
    previsoes.filter(col("data_medicao") >= lit("2025-03-01") &&
        col("data_medicao") < lit("2025-04-01"))
      .groupBy("wmo", "data_medicao")
      .agg(
        min("temperatura_c").as("temp_min_c"),
        max("temperatura_c").as("temp_max_c"),
        (sum(Star.cents(col("temperatura_c"))).cast("double") / 100.0 /
          count(lit(1))).as("temp_avg_c"),
        count(lit(1)).as("registros_horarios"))

  /** A date-range slice of the hourly fact: the March daily rollup over
    * the batch `previsoes`; the oracle re-parses the raw files in DuckDB
    * and applies the same range. */
  def inmetRange(spark: SparkSession, dir: String): DataFrame =
    marchRollup(Pipeline.stage(spark, fixtureGlob).previsoes)
      .orderBy("wmo", "data_medicao")

  /** The same March rollup over the STREAMING ingest
    * ([[graft.streaming.InmetStreaming.previsoesStream]]): the station
    * files are replayed as a file stream, a stateful aggregation folds the
    * hourly rows and the complete-mode sink holds the final rollup.
    * Deterministic — every file is replayed and the aggregate is
    * order-independent — so the batch oracle gates the streaming ingest
    * end to end. */
  def inmetStream(spark: SparkSession, dir: String): DataFrame = {
    val agg = marchRollup(graft.streaming.InmetStreaming.previsoesStream(
      spark, fixtureGlob.stripSuffix("/*.csv"), fixtureGlob))
    graft.streaming.StreamingQueries.withStreamPartitions(spark, 4) {
      val q = agg.writeStream
        .format("memory")
        .option("checkpointLocation",
          graft.streaming.StreamingQueries.replayCheckpoint("inmet_stream"))
        .queryName("graft_inmet_stream")
        .outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table("graft_inmet_stream").orderBy("wmo", "data_medicao")
  }

  private val inmetRangeSql =
    s"""$parsedCte
       |SELECT wmo, data_medicao,
       |  MIN(temperatura_c) AS temp_min_c,
       |  MAX(temperatura_c) AS temp_max_c,
       |  CAST(SUM(temp_c) AS DOUBLE) / 100.0 / COUNT(*) AS temp_avg_c,
       |  COUNT(*) AS registros_horarios
       |FROM hourly
       |WHERE data_medicao >= DATE '2025-03-01'
       |  AND data_medicao < DATE '2025-04-01'
       |GROUP BY wmo, data_medicao
       |ORDER BY wmo, data_medicao""".stripMargin

  /** Shared oracle scaffolding: raw INMET files -> cleansed hourly rows
    * joined with the metadata-derived station key, in DuckDB SQL. Mirrors
    * Ingest's line classification and 1-based split indexing exactly. */
  private def parsedCte: String =
    s"""WITH lines AS (
       |  SELECT filename, column0 AS line
       |  FROM read_csv('$fixtureGlob', delim='\\t', header=false, quote='',
       |                escape='', all_varchar=true, filename=true,
       |                columns={'column0':'VARCHAR'})
       |),
       |meta AS (
       |  SELECT filename,
       |    lower(trim(split_part(line, ':;', 1))) AS k,
       |    trim(split_part(line, ':;', 2)) AS v
       |  FROM lines WHERE regexp_matches(line, '^[^;]+:;')
       |),
       |st AS (
       |  SELECT filename,
       |    max(CASE WHEN k = 'codigo (wmo)' THEN v END) AS wmo,
       |    max(CASE WHEN k = 'uf' THEN v END) AS uf,
       |    max(CASE WHEN k = 'estacao' THEN v END) AS estacao
       |  FROM meta GROUP BY filename
       |),
       |data_rows AS (
       |  SELECT filename, str_split(line, ';') AS c
       |  FROM lines WHERE regexp_matches(line, '^\\d{2,4}/\\d{2}/\\d{2,4};')
       |),
       |parsed AS (
       |  SELECT s.wmo,
       |    CONCAT(trim(upper(COALESCE(s.wmo,''))), '-',
       |           trim(upper(COALESCE(s.uf,''))), '-',
       |           trim(upper(COALESCE(s.estacao,'')))) AS cidade_sk,
       |    COALESCE(try_strptime(trim(c[1]), '%Y/%m/%d'),
       |             try_strptime(trim(c[1]), '%d/%m/%Y'))::DATE AS data_medicao,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[3]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS precip_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[5]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS pressao_c,
       |    COALESCE(TRY_CAST(replace(trim(c[8]), ',', '.') AS DOUBLE), 0.0) AS temperatura_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[8]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS temp_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[16]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS umid_c,
       |    CAST(round(COALESCE(TRY_CAST(replace(trim(c[19]), ',', '.') AS DOUBLE), 0.0) * 100) AS BIGINT) AS vento_c
       |  FROM data_rows d JOIN st s ON d.filename = s.filename
       |),
       |hourly AS (SELECT * FROM parsed WHERE data_medicao IS NOT NULL)""".stripMargin

  private[graft] val inmetDailySql =
    s"""$parsedCte
       |SELECT wmo, cidade_sk, data_medicao,
       |  MIN(temperatura_c) AS temp_min_c,
       |  MAX(temperatura_c) AS temp_max_c,
       |  CAST(SUM(temp_c) AS DOUBLE) / 100.0 / COUNT(*) AS temp_avg_c,
       |  CAST(SUM(precip_c) AS DOUBLE) / 100.0 AS precip_total_mm,
       |  CAST(SUM(pressao_c) AS DOUBLE) / 100.0 / COUNT(*) AS pressao_avg_kpa,
       |  CAST(SUM(vento_c) AS DOUBLE) / 100.0 / COUNT(*) AS vento_avg_mps,
       |  CAST(SUM(umid_c) AS DOUBLE) / 100.0 / COUNT(*) AS umidade_avg_pct,
       |  COUNT(*) AS registros_horarios
       |FROM hourly
       |GROUP BY wmo, cidade_sk, data_medicao
       |ORDER BY wmo, data_medicao""".stripMargin

  private val inmetKpisSql =
    s"""$parsedCte,
       |daily AS (
       |  SELECT wmo, cidade_sk, data_medicao,
       |    SUM(temp_c) AS temp_c_sum, MAX(temperatura_c) AS temp_max_c,
       |    SUM(precip_c) AS precip_c, COUNT(*) AS n,
       |    (SUM(temp_c) * 10000) // COUNT(*) AS temp_avg_u
       |  FROM hourly GROUP BY wmo, cidade_sk, data_medicao)
       |SELECT cidade_sk, CAST(year(data_medicao) AS BIGINT) AS ano,
       |  CAST(month(data_medicao) AS BIGINT) AS mes,
       |  CAST(SUM(temp_avg_u) // COUNT(*) AS DOUBLE) / 1e6 AS mensal_temp_media,
       |  MAX(temp_max_c) AS mensal_temp_max,
       |  CAST(SUM(precip_c) AS DOUBLE) / 100.0 AS mensal_precip_total,
       |  CAST(COUNT_IF(precip_c > 0) AS BIGINT) AS dias_com_precip
       |FROM daily
       |GROUP BY cidade_sk, ano, mes
       |ORDER BY cidade_sk, ano, mes""".stripMargin

  /** Pairwise great-circle distance between the stations, from the
    * header-block coordinates (geo over the station dimension — tiny by
    * nature; at fleet scale this is a broadcast self-join of the station
    * dim, never the fact table). The haversine expression is written with
    * IDENTICAL operand order in both engines so the doubles agree before
    * the 1e-3 rounding. */
  def inmetStationDistance(spark: SparkSession, dir: String): DataFrame = {
    val st = Pipeline.stage(spark, fixtureGlob).cidades
      .select(col("wmo"), col("latitude"), col("longitude"))
    val hav =
      "round(2.0 * 6371.0 * asin(sqrt(" +
        "pow(sin(radians(b.latitude - a.latitude) / 2), 2) + " +
        "cos(radians(a.latitude)) * cos(radians(b.latitude)) * " +
        "pow(sin(radians(b.longitude - a.longitude) / 2), 2))), 3)"
    st.as("a").join(st.as("b"), col("a.wmo") < col("b.wmo"))
      .select(col("a.wmo").as("wmo_a"), col("b.wmo").as("wmo_b"),
        expr(hav).as("dist_km"))
      .orderBy("wmo_a", "wmo_b")
  }

  private val inmetStationDistanceSql =
    s"""WITH lines AS (
       |  SELECT filename, column0 AS line
       |  FROM read_csv('$fixtureGlob', delim='\\t', header=false, quote='',
       |                escape='', all_varchar=true, filename=true,
       |                columns={'column0':'VARCHAR'})
       |),
       |meta AS (
       |  SELECT filename,
       |    lower(trim(split_part(line, ':;', 1))) AS k,
       |    trim(split_part(line, ':;', 2)) AS v
       |  FROM lines WHERE regexp_matches(line, '^[^;]+:;')
       |),
       |st AS (
       |  SELECT filename,
       |    max(CASE WHEN k = 'codigo (wmo)' THEN v END) AS wmo,
       |    TRY_CAST(replace(max(CASE WHEN k = 'latitude' THEN v END),
       |      ',', '.') AS DOUBLE) AS latitude,
       |    TRY_CAST(replace(max(CASE WHEN k = 'longitude' THEN v END),
       |      ',', '.') AS DOUBLE) AS longitude
       |  FROM meta GROUP BY filename
       |)
       |SELECT a.wmo AS wmo_a, b.wmo AS wmo_b,
       |  round(2.0 * 6371.0 * asin(sqrt(
       |    pow(sin(radians(b.latitude - a.latitude) / 2), 2) +
       |    cos(radians(a.latitude)) * cos(radians(b.latitude)) *
       |    pow(sin(radians(b.longitude - a.longitude) / 2), 2))), 3)
       |    AS dist_km
       |FROM st a JOIN st b ON a.wmo < b.wmo
       |ORDER BY wmo_a, wmo_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_inmet_daily", inmetDaily, Some(inmetDailySql)),
    QueryDef("q_inmet_kpis", inmetKpis, Some(inmetKpisSql)),
    QueryDef("q_inmet_station_distance", inmetStationDistance,
      Some(inmetStationDistanceSql)),
    QueryDef("q_inmet_range", inmetRange, Some(inmetRangeSql)),
    QueryDef("q_inmet_stream", inmetStream, Some(inmetRangeSql)),
  )
}
