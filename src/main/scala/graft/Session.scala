package graft

import org.apache.spark.sql.SparkSession

/** The one way every main (and the spec harness) builds its session, and
  * the one between-query release a multi-query harness runs. */
object Session {

  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the confs every entry point shares.
    * `extra` carries a caller's real differences (static confs such as
    * the warehouse dir must be set here, before creation);
    * `SPARK_GRAFT_CONF="k=v;k2=v2"` is applied last, for A/B runs. */
  def build(cpus: Int = defaultCpus,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Testdata parquet timestamps carry isAdjustedToUTC=false; read them as
      // session-TZ (UTC) TIMESTAMP, not TIMESTAMP_NTZ, so timestamp functions
      // (unix_micros, watermarks) keep their pre-Spark-4-inference semantics.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // ~200 queries x several codegen stages each overflow the default
      // 100-entry generated-class cache, so every pass of a multi-query
      // run would recompile stages an earlier pass already compiled.
      // Static conf: must be set before session creation.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
    (extra ++ parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", "")))
      .foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** Strict parse of a `"k=v;k2=v2"` conf list: an entry without `=`
    * fails naming the entry, never silently drops it. */
  private[graft] def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => sys.error(
          s"SPARK_GRAFT_CONF entry '$kv' is not k=v (full value: $spec)")
      }
    }

  /** Between-query release: queries are independent, but the streaming
    * replays register memory-sink views (whole result sets on the heap)
    * and iterative queries persist RDD leaves — left in place they tax
    * every query that runs after them. Drops the `graft_stream*` temp
    * views, drains the materialized-relation registry (which otherwise
    * retains one analyzed plan per construction), clears the cache and
    * unpersists every persistent RDD. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    operators.Dedup.releaseMaterialized()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
