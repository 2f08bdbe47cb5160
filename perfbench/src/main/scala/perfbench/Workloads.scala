package perfbench

import org.apache.spark.sql.SparkSession

/** The three workloads. Each names its ops, how it builds its inputs from
  * the seed, and for how long set-up repeats warm-up passes after the cold
  * pass. Warm-up is timed, not counted: JIT maturity follows the work done,
  * and a faster host gets through more passes in the same time. */
trait Workload {
  def warmupSeconds: Double
  def prepare(spark: SparkSession, dataDir: String, seed: Long): Main.Ready
}

object Workloads {

  def byName(name: String): Workload = name match {
    case "inmet_etl" => InmetEtl
    case "star_olap" => queries(StarOlap, starSizes, StarData.StarTables,
      warmup = 3.0)
    case "curation_serve" => queries(CurationServe, curationSizes,
      StarData.CorpusTables, warmup = 0.0)
    case other => sys.error(s"unknown workload '$other'")
  }

  /** Analyst queries over the star schema: relational, TPC-H, window and
    * aggregate queries that run no job while their DataFrame is built. */
  val StarOlap: Seq[String] = Seq(
    "q_agg_pricing", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q10",
    "q_join_multi", "q_window_running", "q_rollup")

  /** Training-data curation: near-dup dedup, the curation keep-list,
    * persisted-index serving, a streaming dedup replay and media near-dup. */
  val CurationServe: Seq[String] = Seq(
    "q_dedup_lsh_keep", "q_curation_keep", "q_ann_ivf_serve",
    "q_stream_dedup_index", "q_media_phash_dedup")

  val starSizes: StarData.Sizes = StarData.Sizes(customers = 2000,
    suppliers = 150, parts = 3000, orders = 20000, events = 2000, users = 100,
    documents = 100, vectors = 100)

  val curationSizes: StarData.Sizes = StarData.Sizes(customers = 100,
    suppliers = 20, parts = 100, orders = 1000, events = 2000, users = 100,
    documents = 300, vectors = 300)

  /** A workload of registered queries over a seeded [[StarData]] corpus;
    * each query's dumped result is checked against its DuckDB oracle. */
  def queries(names: Seq[String], sizes: StarData.Sizes, tables: Set[String],
              warmup: Double): Workload = new Workload {
    private val registered = graft.SparkEntry.queries
    private val oracle = graft.SparkEntry.oracleSql
    names.foreach { n =>
      require(registered.contains(n), s"$n is not a registered query")
      require(oracle.contains(n), s"$n has no oracle SQL to check it against")
    }
    val warmupSeconds: Double = warmup

    def prepare(spark: SparkSession, dataDir: String, seed: Long): Main.Ready = {
      val rows = StarData.generate(spark, dataDir, seed, sizes, tables)
      val ops = names.map(n =>
        Main.Op(n, (r, out, dump) => r.query(n, dataDir, out, dump)))
      Main.Ready(ops, rows, Map("kind" -> "oracle", "data_dir" -> dataDir,
        "oracle_sql" -> names.map(n => n -> oracle(n)).toMap))
    }
  }

  /** The reference job: `Pipeline.run` over a seeded INMET corpus into
    * fresh stage and analytic dirs each pass. */
  object InmetEtl extends Workload {
    val stations = 120
    val days = 14
    val warmupSeconds = 8.0

    def prepare(spark: SparkSession, dataDir: String, seed: Long): Main.Ready = {
      val params = InmetData.Params(stations, days, seed)
      val glob = InmetData.write(dataDir, params)
      val pipeline = Main.Op("pipeline", (r, out, _) =>
        r.phase("execute")(graft.inmet.Pipeline.run(spark, glob,
          s"$out/etl_stage", s"$out/etl_analytic")))
      Main.Ready(Seq(pipeline), params.rawRows, Map("kind" -> "inmet",
        "truth" -> s"$dataDir/truth.csv",
        "stations" -> s"$dataDir/stations.csv",
        "expected_rows" -> InmetData.expectedRows(params)))
    }
  }
}
