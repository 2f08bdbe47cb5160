package graft.tools

import org.apache.spark.sql.functions._

/** Ingest scale probe for the INMET DataSource V2 at a file count the
  * driver fixtures never reach (default 1000+): batch scan, pushdown
  * short-circuit, and the MICRO_BATCH_READ replay, each timed, plus the
  * partition/file invariants the design claims (one input partition per
  * file; wmo pushdown prunes to one file's rows without scanning the
  * rest). Results land in BASELINE.md.
  *
  * Usage: runMain graft.tools.Dsv2Probe <dirOfCsvs> [maxFilesPerTrigger]
  * (generate inputs with tools/gen_inmet_files.py) */
object Dsv2Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val trigger = if (args.length > 1) args(1).toInt else 100
    val spark = graft.Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val glob = s"$dir/*.csv"
    val fmt = "graft.sources.v2.InmetSource"
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dsv2probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    val nFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".csv"))
    println(s"[dsv2probe] files: $nFiles")

    val batch = spark.read.format(fmt).load(glob)
    val rows = time("batch full scan (count)")(batch.count())
    println(s"[dsv2probe] rows: $rows")
    val parts = batch.rdd.getNumPartitions
    println(s"[dsv2probe] batch partitions: $parts (files: $nFiles)")
    assert(parts == nFiles, "one input partition per file")

    // column pruning + date pushdown over every file
    val pruned = batch
      .filter(col("data_medicao") >= lit("2025-01-03") &&
        col("data_medicao") < lit("2025-01-06"))
      .groupBy("wmo").agg(avg("temperatura_c"))
    val scanStr = pruned.queryExecution.executedPlan
      .collectLeaves().head.toString
    assert(scanStr.contains("PushedFilters: [") &&
      scanStr.contains("data_medicao"), scanStr)
    time("date-pushdown rollup over all files")(pruned.collect().length)

    // wmo equality: pushed into every reader, which short-circuits a
    // non-matching FILE after its 8 metadata lines — the probe verifies
    // the pushdown reaches the scan and that the 1-in-N read costs a
    // fraction of the full scan (read-time pruning, not planning-time:
    // file->wmo is only known once the file's metadata section is read)
    val one = spark.read.format(fmt).load(glob)
      .filter(col("wmo") === "Z0007")
    val oneScan = one.queryExecution.executedPlan.collectLeaves().head.toString
    assert(oneScan.contains("EqualTo(wmo,Z0007)"), oneScan)
    val nOne = time("wmo-short-circuit read (1 of N files)")(one.count())
    assert(nOne > 0 && nOne == rows / nFiles, s"one file's rows, got $nOne")

    // MICRO_BATCH_READ replay of every file through the same reader
    val stream = spark.readStream.format(fmt)
      .option("maxFilesPerTrigger", trigger.toString).load(glob)
      .groupBy("wmo").agg(count(lit(1)).as("n"))
    val streamed = time(s"micro-batch replay ($trigger files/trigger)") {
      graft.streaming.StreamingQueries.withStreamPartitions(spark, 8) {
        val q = stream.writeStream.format("memory")
          .option("checkpointLocation",
            graft.streaming.StreamingQueries.replayCheckpoint("dsv2probe"))
          .queryName("dsv2_probe").outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      }
      spark.table("dsv2_probe").collect()
    }
    println(s"[dsv2probe] streamed wmo groups: ${streamed.length}")
    assert(streamed.length == nFiles, "one wmo group per file")
    assert(streamed.map(_.getLong(1)).sum == rows, "streamed rows == batch rows")
    spark.stop()
    println("[dsv2probe] PASS")
  }
}
