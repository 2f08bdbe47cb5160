package graft.inmet

/** CLI entry point for the full INMET pipeline — the engine's equivalent of
  * the reference's `spark-submit job_parquet.py` + DAG chain. Usage:
  *
  *   runMain graft.inmet.InmetPipelineMain <csvGlob> <stageDir> <analyticDir> [--partitioned|--catalog]
  *
  * `--partitioned` writes the hourly fact in the ano/mes directory-
  * partitioned layout (graft.sources.Layout) — the stage layout a
  * 100 TB deployment would use for partition-pruned time scans.
  * `--catalog` runs the warehouse chain through the session catalog
  * (saveAsTable + SQL CTAS into `stage`/`analitic` schemas); stageDir is
  * then used as the warehouse dir and analyticDir is ignored.
  */
object InmetPipelineMain {
  def main(args: Array[String]): Unit = {
    val modes = Set("--partitioned", "--catalog")
    require(args.length == 3 || (args.length == 4 && modes(args(3))),
      "usage: InmetPipelineMain <csvGlob> <stageDir> <analyticDir> [--partitioned|--catalog]")
    val Array(inputGlob, stageDir, analyticDir) = args.take(3)
    val partitioned = args.length == 4 && args(3) == "--partitioned"
    val catalog = args.length == 4 && args(3) == "--catalog"
    // SPARK_GRAFT_MASTER points the run at a cluster; the warehouse dir
    // is a static conf — set before session creation
    val spark = graft.Session.build(extra =
      sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toMap ++
        (if (catalog) Map("spark.sql.warehouse.dir" -> stageDir) else Map()))
    spark.sparkContext.setLogLevel("WARN")
    if (catalog) {
      Pipeline.runCatalog(spark, inputGlob)
      val n = spark.sql("SELECT count(*) FROM analitic.cidade_kpis_mensal")
        .collect()(0).getLong(0)
      println(s"[inmet] catalog run complete: warehouse=$stageDir " +
        s"(analitic.cidade_kpis_mensal: $n rows)")
      spark.stop()
      return
    }
    if (partitioned) {
      val st = Pipeline.stage(spark, inputGlob)
      st.cidades.write.mode("overwrite").parquet(s"$stageDir/cidades")
      graft.sources.Layout.previsoesPartitioned(st.previsoes, s"$stageDir/previsoes")
      val stagedPrevisoes = spark.read.parquet(s"$stageDir/previsoes")
        .drop("ano", "mes")
      Ingest.datas(stagedPrevisoes).write.mode("overwrite")
        .parquet(s"$stageDir/datas")
      val staged = Pipeline.Stage(
        cidades = spark.read.parquet(s"$stageDir/cidades"),
        previsoes = stagedPrevisoes,
        datas = spark.read.parquet(s"$stageDir/datas"))
      val an = Pipeline.analytics(staged)
      an.dimCidadeAtributos.write.mode("overwrite")
        .parquet(s"$analyticDir/dim_cidade_atributos")
      an.fatoAggPrevisoesDia.write.mode("overwrite")
        .parquet(s"$analyticDir/fato_agg_previsoes_dia")
      an.cidadeKpisMensal.write.mode("overwrite")
        .parquet(s"$analyticDir/cidade_kpis_mensal")
    } else {
      Pipeline.run(spark, inputGlob, stageDir, analyticDir)
    }
    println(s"[inmet] pipeline complete: stage=$stageDir analytic=$analyticDir" +
      (if (partitioned) " (partitioned previsoes)" else ""))
    spark.stop()
  }
}
