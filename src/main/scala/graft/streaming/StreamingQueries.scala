package graft.streaming

import graft.QueryDef
import graft.operators.Star
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming entries in the correctness gate: the streaming
  * plan is executed to completion over the bounded events table and its
  * final result is oracle-checked against the SAME DuckDB SQL as the
  * batch twin — proving the incremental plan converges to the batch
  * answer, not just that it runs.
  *
  * Sink doctrine (×100-probe-driven): every ROW-GRAIN replay — output
  * proportional to the corpus (dedup keys, sessions, join pairs,
  * enriched events) — lands in a PARQUET sink and is read back from its
  * commit log ([[appendReplayToParquet]]); a memory sink is a driver
  * collect and aborted the complete-mode session replay at 1.16 GiB of
  * serialized results on the ×100 corpus. Memory sinks remain only for
  * output whose cardinality is bounded by CONSTRUCTION (hourly buckets ×
  * event types), where complete mode is also what a dashboard tier
  * would serve. State stays bounded by watermark horizon either way. */
object StreamingQueries {

  /** Run a bounded streaming replay with a right-sized state/shuffle
    * partition count. Each micro-batch of a stateful query opens, commits,
    * and checkpoints ONE state store per shuffle partition — at the
    * session default (32 = cores) that is 32 RocksDB/HDFS-state commits
    * per trigger for state whose cardinality here is a few hundred keys.
    * The default is 2 since r12: the full 13-replay family A/B'd
    * 8 → 4 → 2 at sf0.1 as 35.2 → 32.2 → 30.1 s with results
    * byte-identical (every streaming aggregate follows the order-
    * independent determinism doctrine) — at replay state volume the
    * per-trigger store commits dominate any join parallelism 8 buys.
    * On a real cluster you'd size this to state volume, not core count —
    * state partitioning is a durability layout, not a parallelism knob. */
  /** `finalNoDataBatch = true` keeps Spark's trailing no-data
    * micro-batch: required by a replay whose LAST emissions happen only
    * when the final watermark is APPLIED (windowed append: the last
    * fixture rows advance the watermark past the final windows, but
    * nothing after them re-runs the plan to flush). Every other replay
    * fixture carries its watermark advancement in data — arrivals are
    * chronological and end with sentinel/final batches — so the extra
    * no-data batch re-runs the whole stateful plan (state-store
    * open/commit + task scheduling, ~0.5 s here) to emit nothing:
    * measured 31.2 -> 28.7 s over the 12-replay family with results
    * byte-identical (oracle gate re-verified; windowed-append's
    * missing-rows failure under a blanket opt-out is what forced the
    * per-replay flag). An UNBOUNDED deployment leaves this ON — it is
    * what flushes a final window when the source goes quiet. */
  private[graft] def withStreamPartitions[T](
      spark: SparkSession, n: Int = 2, finalNoDataBatch: Boolean = false)
      (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val old = spark.conf.get(key)
    val oldNd = spark.conf.get(ndKey)
    spark.conf.set(key, n.toString)
    spark.conf.set(ndKey, finalNoDataBatch.toString)
    try body finally {
      spark.conf.set(key, old)
      spark.conf.set(ndKey, oldNd)
    }
  }

  /** Run `df` as an append-mode bounded replay into a fresh PARQUET sink
    * and return the committed result. Row-grain streaming output must
    * never concentrate in the driver: a memory sink IS a driver collect
    * — the ×100 scale probe measured the complete-mode session table
    * aborting the whole query at 1.16 GiB of serialized task results
    * (spark.driver.maxResultSize) while every aggregate-grain memory
    * sink stayed kilobytes. The parquet sink is the production shape;
    * its `_spark_metadata` commit log makes the read-back exactly-once
    * (an aborted trigger's files are invisible), and results scale with
    * the CLUSTER's storage, not the driver's heap. Memory sinks remain
    * only where output cardinality is bounded by construction (hourly
    * buckets × event types), never by corpus. */
  private def appendReplayToParquet(spark: SparkSession, df: DataFrame,
      ckptName: String, partitions: Int = 2,
      finalNoDataBatch: Boolean = false): DataFrame = {
    val out = replaySinkDir(s"${ckptName}_sink")
    withStreamPartitions(spark, partitions, finalNoDataBatch) {
      val q = df.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", replayCheckpoint(ckptName))
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(out)
  }

  /** Fresh checkpoint dir for a bounded replay, on tmpfs when the host
    * has one. Every micro-batch fsyncs its offset log, commit log, and
    * per-partition state deltas into the checkpoint; with the default
    * temp location on a disk-backed /tmp those fsyncs are a fixed
    * latency tax on every trigger of every replay. A TEST replay's
    * checkpoint needs no durability — a real deployment points this at
    * durable cluster storage (HDFS/S3), where the same fsync cost is the
    * price of exactly-once. */
  // private[graft]: the sweep spec re-arms it to exercise the sweep
  private[graft] val ckptSwept =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Shared foreachBatch skeleton of the streaming index-dedup replays
    * (text [[graft.operators.Dedup.streamDedupIndex]] and its semantic
    * twin): per trigger, (1) sketch the batch ONCE into its OWN
    * overwrite-mode state segment — IDEMPOTENT under at-least-once
    * foreachBatch retry, a replayed micro-batch REPLACES its partial
    * output instead of double-appending; (2) read the accumulated
    * arrival state back pruned to the batch's contiguous id range for
    * the probe side, so bands are computed once and the state read is
    * bounded (a retry racing a just-finished compaction can see the
    * batch's bands twice — in the compacted segment and the rewritten
    * subdir — which is harmless: candidate pairs are DISTINCT'd before
    * verification); (3) write the batch's verdicts to their own
    * idempotent subdir; (4) compact the state segments once their count
    * crosses the bound, AFTER the probe, off the verdict path. */
  private[graft] def replayIndexedDedup(
      spark: SparkSession, src: DataFrame,
      checkpointName: String, workName: String, idCol: String,
      bandsOf: DataFrame => DataFrame,
      verdictsOf: (DataFrame, DataFrame, DataFrame) => DataFrame,
      outCols: Seq[String]): (DataFrame, String) = {
    val work = replayCheckpoint(workName)
    val stateDir = s"$work/arrival_bands"
    val outDir = s"$work/verdicts"
    // 4, not the replay default 2: these replays do REAL per-batch work
    // (banding + candidate joins + verify inside foreachBatch), where
    // join parallelism still pays at harness scale
    withStreamPartitions(spark, 4) {
      val q = src.writeStream
        .option("checkpointLocation", replayCheckpoint(checkpointName))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // The batch's id bounds ride the bands write as OBSERVED
          // metrics (CollectMetrics) instead of a dedicated min/max job
          // — a per-trigger extra pass over the batch is a real cost on
          // an unbounded stream. The empty-batch guard (a foreachBatch
          // retry or source race must not clobber b<batchId> with
          // nothing) moves AFTER the write: bands land in a trigger-
          // private `_ctmpb` stage (reaped by compactSegments' crash
          // sweep if abandoned) and publish to b<batchId> only when the
          // observed row count is nonzero.
          val obs = org.apache.spark.sql.Observation()
          val stagePath =
            new org.apache.hadoop.fs.Path(s"$stateDir/_ctmpb$batchId")
          bandsOf(batch.observe(obs, count(lit(1)).as("n"),
              min(idCol).as("lo"), max(idCol).as("hi")))
            .write.mode("overwrite").parquet(stagePath.toString)
          val m = obs.get
          val fs = stagePath.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          if (m("n").asInstanceOf[Long] > 0L) {
            val (lo, hi) =
              (m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long])
            val seg = new org.apache.hadoop.fs.Path(s"$stateDir/b$batchId")
            fs.delete(seg, true) // replace a prior attempt of this batch
            // a failed rename after that delete would silently drop the
            // batch's bands from state (within-batch + near-future dup
            // pairs lost, no error anywhere): fail the micro-batch so
            // the streaming engine retries it instead
            if (!fs.rename(stagePath, seg)) sys.error(
              s"failed to publish arrival bands $stagePath -> $seg")
            val state = spark.read.parquet(s"$stateDir/{b*,c*}")
            val probe = state.filter(col(idCol).between(lo, hi))
            verdictsOf(batch, state, probe)
              .write.mode("overwrite").parquet(s"$outDir/b$batchId")
            graft.operators.Dedup.compactSegments(
              spark, stateDir, batchId, maxSegments = 2)
          } else fs.delete(stagePath, true)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val statePath = new org.apache.hadoop.fs.Path(stateDir)
    require(statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(statePath), s"no arrival state written under $work")
    (spark.read.parquet(s"$outDir/b*")
      .select(outCols.map(col): _*)
      .orderBy(idCol), stateDir)
  }

  private[graft] def replayCheckpoint(name: String): String =
    freshReplayDir(name, preferShm = true)

  /** Data-sink sibling of [[replayCheckpoint]]: row-grain SINK output
    * goes to the DISK tmpdir, never tmpfs — /dev/shm is RAM-backed
    * (typically capped at half of RAM), and parking corpus-proportional
    * results there would re-create, as host memory pressure, the very
    * driver-concentration failure the parquet sink exists to fix. Only
    * the checkpoint's fsync-per-trigger churn belongs on tmpfs. */
  private[graft] def replaySinkDir(name: String): String =
    freshReplayDir(name, preferShm = false)

  private def freshReplayDir(name: String, preferShm: Boolean): String = {
    import java.nio.file.{Files, Paths}
    val shm = Paths.get("/dev/shm")
    val disk = Paths.get(System.getProperty("java.io.tmpdir"))
    val shmOk = Files.isDirectory(shm) && Files.isWritable(shm)
    val base = if (preferShm && shmOk) shm else disk
    // opportunistic sweep, ONCE per JVM, over BOTH candidate bases: a
    // bounded replay runs for seconds, so any graft_ckpt_* dir untouched
    // for 30+ min is an orphan from a finished query of a PREVIOUS
    // process — reap it so repeated bench/verify rounds don't accumulate
    // checkpoint/sink litter. Re-walking the same orphan set on every
    // replay construction (inside the bench's timed window) buys
    // nothing: dirs this process creates can't reach the 30-min cutoff
    // within its own lifetime. Staleness is keyed on the NEWEST mtime
    // found anywhere under the dir, not the root's: a checkpoint root's
    // mtime stops advancing once offsets/commits/state subdirs exist,
    // while a live query (possibly another JVM) keeps touching files
    // deep inside it on every trigger.
    if (ckptSwept.compareAndSet(false, true))
      graft.sources.Files.sweepStale(
        if (shmOk) Seq(shm, disk) else Seq(disk), "graft_ckpt_",
        30L * 60 * 1000)
    Files.createTempDirectory(base, s"graft_ckpt_$name").toString
  }

  /** Streaming scan of the corpus events table, handling BOTH physical
    * layouts a parquet table comes in: a directory table
    * (`$dir/events.parquet/part-*` — what any Spark writer, incl.
    * tools/StarGen, produces) streams the directory itself; a
    * single-file table (`$dir/events.parquet` IS the file — the driver
    * testdata layout) streams `$dir` with a leaf-name glob, because the
    * file-stream source requires its basePath to be a directory. One
    * layout probe per query construction (a driver-side stat, not a
    * listing). A bare `pathGlobFilter "events.parquet"` over `$dir` —
    * the previous form — matched only the single-file layout: in a
    * directory table the leaf files are named part-*, so the source
    * silently saw ZERO files and the replay produced an empty (wrong)
    * result on generated corpora. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val table = new java.io.File(s"$dir/events.parquet")
    val rs = spark.readStream.schema(EventsStreaming.eventSchema)
    if (table.isDirectory) rs.parquet(table.toString)
    else rs.option("pathGlobFilter", "events.parquet").parquet(dir)
  }

  /** Hourly tumbling-window counts/sums per event type, computed by the
    * streaming engine (file source -> stateful agg -> memory sink) with
    * the decimal-exact sum the determinism doctrine requires. */
  def streamTimeBucket(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val agg = src
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Star.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"),
        col("sum_value"))
    withStreamPartitions(spark) {
      val q = agg.writeStream
        .format("memory")
        .option("checkpointLocation", replayCheckpoint("time_bucket"))
        .queryName("graft_stream_time_bucket")
        .outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table("graft_stream_time_bucket")
      .orderBy("bucket", "event_type")
  }

  private val streamTimeBucketSql =
    s"""SELECT date_trunc('hour', ts) AS bucket, event_type,
       |  COUNT(*) AS n, ${Star.Sql.dsum("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Streaming gap-sessionization via the native session_window operator:
    * per-user sessions merge while consecutive events are < 30 min apart —
    * the streaming twin of `Relational.sessionize`, converging to the SAME
    * oracle. APPEND mode over the sentinel chronological replay: a closed
    * session emits exactly once, when the watermark passes its end + gap —
    * state size is open-sessions × users and the emitted stream lands in a
    * parquet sink, so neither state nor results ever scale with event
    * volume. (The previous complete-mode memory-sink form re-emitted the
    * ENTIRE session table each trigger into the driver — the ×100 probe
    * aborted it at 1.16 GiB of serialized results. Emission needs the
    * watermark to pass every real session, which the sentinel files
    * drive, exactly the stream-stream LEFT OUTER's mechanism; sentinel
    * sessions are filtered after read-back, never pre-sink where Catalyst
    * would push the filter below the watermark node.) Ordinal session ids
    * are assigned by a post-sink window partitioned by user. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // CONTRACT (r13 advice): dropping the trailing no-data batch below
    // is sound only while sentinel 1's watermark already flushes every
    // real session when sentinel 2's data batch applies it — i.e.
    // sentinel-1 offset − watermark delay must clear the latest real
    // event (offset 0) + the session gap. These literals must track the
    // withWatermark / session_window arguments below; a future change
    // to either that breaks the algebra fails HERE, not by silently
    // leaving sessions unflushed.
    val wmDelayUs = 1L * 3600L * 1000000L // withWatermark("ts", "1 hour")
    val gapUs = 30L * 60L * 1000000L // session_window(_, "30 minutes")
    require(sentinel1OffsetUs - wmDelayUs > gapUs,
      "sessionize sentinel contract broken: sentinel 1's watermark no " +
        "longer flushes every real session — restore the trailing " +
        "no-data batch or respace the sentinels")
    val src = chronoReplayWithSentinel(spark, dir)
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
      .select(col("user_id"),
        unix_micros(col("min_ts")).as("session_start_us"),
        col("n_events"),
        (unix_micros(col("max_ts")) - unix_micros(col("min_ts")))
          .as("duration_us"))
    // no trailing no-data batch: the SECOND sentinel's data batch is what
    // applies sentinel 1's watermark and flushes every real session (the
    // chronoReplayWithSentinel contract) — a no-data batch after it would
    // re-run the stateful plan one more time only to apply sentinel 2's
    // own watermark, emitting nothing that survives the user filter
    // (~0.35 s/replay of pure batch machinery, measured in git history;
    // oracle rows byte-identical either way).
    appendReplayToParquet(spark, agg, "sessionize")
      .filter(col("user_id") >= 0) // drop the sentinel's own sessions
      .withColumn("session_id", row_number().over(
        Window.partitionBy("user_id").orderBy("session_start_us")).cast("long"))
      .select("user_id", "session_id", "n_events", "session_start_us",
        "duration_us")
      .orderBy("user_id", "session_id")
  }

  /** Same oracle as the batch sessionizer — identical gap rule. */
  private val streamSessionizeSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN us - lag(us) OVER w > 1800000000
      |              OR lag(us) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, us,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events, MIN(us) AS session_start_us,
      |  MAX(us) - MIN(us) AS duration_us
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Streaming exact dedup: state-store dropDuplicates on the
    * (user_id, event_type) key, append-mode — each key emits exactly once,
    * on first arrival. The output is the KEY SET (not first-arrival
    * payloads, which would depend on scan order), so the bounded replay
    * converges to the batch DISTINCT oracle regardless of parallelism.
    *
    * Scale note: in production the same plan runs
    * dropDuplicatesWithinWatermark so state is evicted at the watermark
    * horizon instead of growing with key cardinality; the bounded replay
    * here has no watermark so the full key set is the (small) state. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    val deduped = src
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    // key-grain output (grows with the corpus) -> parquet sink
    appendReplayToParquet(spark, deduped, "dedup")
      .orderBy("user_id", "event_type")
  }

  private val streamDedupSql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** foreachBatch incremental upsert into a parquet serving table: the
    * INMET fixture CSVs arrive one file per micro-batch; each batch
    * reduces to MERGEABLE per-(station, day) partials (min/max/exact
    * cents sums/count) and upserts them into the running daily table,
    * which the next batch reads back. After the 3-file replay the serving
    * table IS the batch daily rollup — shared oracle with q_inmet_daily.
    *
    * Scale note: the state is ONE parquet dir hash-bucketed on the
    * station key. Per batch: the batch's partials name their buckets (a
    * driver-side list bounded by the bucket count, never by data), the
    * state read is partition-PRUNED to exactly those buckets, and the
    * merged result is written back with dynamic partition overwrite —
    * untouched buckets are neither read nor rewritten. Per batch the
    * loop shuffles only that batch's partials plus the touched state
    * rows, never the history. With a transactional format the same
    * dataflow becomes MERGE on the touched keys. */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    import graft.inmet.{Ingest, Pipeline, Warehouse}
    val fixtureDir = "/root/repo/src/test/resources/inmet"
    val fixtureGlob = s"$fixtureDir/*.csv"
    val work = java.nio.file.Paths.get(
      replayCheckpoint("upsert_work"))
    val stateDir = s"$work/state"
    val nBuckets = 8
    // materialized once — the dim lineage is a full CSV stage parse and
    // would otherwise re-run inside every micro-batch's broadcast; the
    // 3-row materialization doesn't need 32 shuffle partitions
    val dim = withStreamPartitions(spark) {
      Warehouse
        .dimCidadeAtributos(Pipeline.stage(spark, fixtureGlob).cidades)
        .select("wmo", "cidade_sk")
        .transform(graft.operators.Star.pin)
    }
    val keys = Seq("wmo", "cidade_sk", "data_medicao")
    def partials(df: DataFrame): DataFrame = df
      .join(broadcast(dim), Seq("wmo"))
      .groupBy(keys.map(col): _*)
      .agg(min("temperatura_c").as("temp_min_c"),
        max("temperatura_c").as("temp_max_c"),
        sum(Star.cents(col("temperatura_c"))).as("temp_c"),
        sum(Star.cents(col("precipitacao_mm"))).as("precip_c"),
        sum(Star.cents(col("pressao_atm_kpa"))).as("pressao_c"),
        sum(Star.cents(col("vento_mps"))).as("vento_c"),
        sum(Star.cents(col("umidade_porcentagem"))).as("umid_c"),
        count(lit(1)).as("n"))
      .withColumn("__bk", pmod(xxhash64(col("wmo")), lit(nBuckets)))
    def merge(cur: Option[DataFrame], batch: DataFrame): DataFrame = {
      val both = cur.fold(batch)(_.unionByName(batch))
      both.groupBy((keys :+ "__bk").map(col): _*)
        .agg(min("temp_min_c").as("temp_min_c"),
          max("temp_max_c").as("temp_max_c"),
          sum("temp_c").as("temp_c"), sum("precip_c").as("precip_c"),
          sum("pressao_c").as("pressao_c"), sum("vento_c").as("vento_c"),
          sum("umid_c").as("umid_c"), sum("n").as("n"))
    }
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevOverwriteMode =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val src = InmetStreaming.previsoesStream(spark, fixtureDir, fixtureGlob)
    try withStreamPartitions(spark) {
      val q = src.writeStream
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // one materialization of the batch partials feeds both the
          // touched-bucket probe and the merge (no double aggregation)
          val bp = graft.operators.Star.pin(partials(batch))
          val touched = bp.select("__bk").distinct()
            .collect().map(_.getLong(0))
          val cur =
            if (!fs.exists(new org.apache.hadoop.fs.Path(stateDir))) None
            else Some(spark.read.parquet(stateDir)
              .filter(col("__bk").isin(touched: _*)))
          // localCheckpoint materializes the merged buckets so the
          // overwrite below does not read from the path it replaces
          val merged = graft.operators.Star.pin(merge(cur, bp))
          merged.write.mode("overwrite").partitionBy("__bk")
            .parquet(stateDir)
          merged.unpersist()
          bp.unpersist()
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    } finally prevOverwriteMode match {
      case Some(v) =>
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None =>
        spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val state = spark.read.parquet(stateDir)
    def avgD(c: String) = col(c).cast("double") / 100.0 / col("n")
    state.select(col("wmo"), col("cidade_sk"), col("data_medicao"),
        col("temp_min_c"), col("temp_max_c"),
        avgD("temp_c").as("temp_avg_c"),
        (col("precip_c").cast("double") / 100.0).as("precip_total_mm"),
        avgD("pressao_c").as("pressao_avg_kpa"),
        avgD("vento_c").as("vento_avg_mps"),
        avgD("umid_c").as("umidade_avg_pct"),
        col("n").as("registros_horarios"))
      .orderBy("wmo", "data_medicao")
  }

  /** Append-mode windowed aggregation under a genuinely ADVANCING
    * watermark: the events table is split once into four chronological
    * files (equal time spans, written sequentially so file order =
    * event-time order); the stream replays them one file per
    * micro-batch, so the 1-hour watermark advances between batches and
    * append mode emits each hourly window exactly once, when the
    * watermark passes its end. Windows still open at end-of-replay are
    * correctly ABSENT — the oracle applies the same cutoff
    * (window end <= ms-floored max event time - 1h, Spark's watermark
    * arithmetic). Complete-mode twins re-aggregate everything each
    * batch; this is the form with bounded state AND bounded output —
    * what actually runs against an unbounded 100 TB/day stream. */
  /** Build-once chronological replay fixture: the events table split
    * into four equal-time-span parquet files written with strictly
    * increasing mtimes, so the file stream source replays them in
    * event-time order, one file per micro-batch (no late data). Shared
    * by every advancing-watermark replay query. */
  private def chronoReplay(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val ev = Star.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // identity-keyed build-once fixture with staged atomic publication —
    // see graft.sources.FixtureCache for the concurrency contract.
    // THREE chronological shards (r12, down from 4): state must
    // genuinely cross micro-batches, and first/middle/last batches
    // exercise the three watermark regimes (none yet / advancing /
    // final) — a fourth batch re-proved nothing and each trigger of
    // each consumer costs ~0.5 s of batch machinery across the five
    // replays built on this fixture (results oracle-identical).
    val base = graft.sources.FixtureCache.buildOnce(
      spark, "graft_stream_chrono3", dir, "events") { stage =>
      val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val Array(lo, hi) = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).collect().head
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val span = (hi - lo) / 3 + 1
      (0 until 3).foreach { k =>
        val part = ev.filter(
          unix_micros(col("ts")) >= lo + k * span &&
            unix_micros(col("ts")) < lo + (k + 1) * span)
        val tmp = new org.apache.hadoop.fs.Path(stage, s"_tmp$k")
        part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val f = fs.globStatus(
          new org.apache.hadoop.fs.Path(tmp, "part-*.parquet")).head.getPath
        // sequential rename => strictly increasing mtimes => the file
        // source replays in chronological order (no late data)
        fs.rename(f, new org.apache.hadoop.fs.Path(stage, s"q$k.parquet"))
        fs.delete(tmp, true)
      }
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "q*.parquet")
      .parquet(base.toString)
  }

  /** STREAM-STREAM inner join with an event-time range condition — the
    * attribution join (view -> purchase by the same user within 1 hour)
    * as Structured Streaming executes it: both sides are unbounded
    * streams, each buffered in watermarked state, matches emitted as
    * they meet.
    *
    * Completeness argument (why the oracle is the plain batch join):
    * the replay is chronological (no late data) and the watermark delay
    * (2 h) strictly exceeds the join window (1 h), so a view is never
    * evicted before its last matchable purchase (view_ts + 1 h) has
    * either arrived in the same micro-batch or survives into the next
    * one — every matching pair is emitted by end of replay. State stays
    * bounded: each side holds only rows younger than watermark + window,
    * exactly what an unbounded 100 TB/day attribution pipeline needs. */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    // ONE source, branched: both join sides reference the same streaming
    // relation, so each trigger scans the arriving file and tracks its
    // offsets once — a second chronoReplay() call would register a second
    // file-stream source over the same fixture and every trigger would
    // list, read, and commit the identical data twice (self-joins are the
    // supported shape for exactly this reason).
    val src = chronoReplay(spark, dir)
    val views = src
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
        col("user_id"))
      .withWatermark("view_ts", "2 hours")
    val purchases = src
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id").as("p_user_id"))
      .withWatermark("purchase_ts", "2 hours")
    val joined = views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    // stream-stream join commits TWO state stores per shuffle partition
    // per trigger (one per side); a few hundred buffered rows need 4, not 8
    // (probing 1 loses more on the real batches' join parallelism than it
    // saves on store commits — the ~570ms/trigger floor is batch-machinery,
    // not store-count)
    // pair-grain output (grows with the corpus) -> parquet sink
    appendReplayToParquet(spark, joined, "stream_join")
      .orderBy("view_id", "purchase_id")
  }

  private val streamStreamJoinSql =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS us, user_id, event_type
      |  FROM events)
      |SELECT v.event_id AS view_id, p.event_id AS purchase_id,
      |  v.user_id, v.us AS view_us, p.us AS purchase_us
      |FROM e v JOIN e p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.us >= v.us AND p.us <= v.us + 3600000000
      |ORDER BY view_id, purchase_id""".stripMargin

  /** chronoReplay plus TWO far-future SENTINEL files (+36 h and +72 h,
    * synthetic user -1): the first advances the final watermark beyond
    * every real row's state-eviction time; the second exists because
    * watermarks take effect a batch LATE (computed at batch end), and the
    * eviction-only "no-data micro-batch" that would otherwise apply it is
    * asynchronous — processAllAvailable can return before it runs. A
    * second real data batch is guaranteed to run, and IT performs the
    * evictions under the first sentinel's watermark. Without the
    * sentinels, rows buffered near the end of input stay in state forever
    * and the result depends on where the input happens to stop — this
    * makes end-of-stream explicit, the streaming analog of closing the
    * books. */
  /** Sentinel offsets past the max real event ts (the watermark-driving
    * halves of [[chronoReplayWithSentinel]]'s replay). Consumers that
    * cut trigger counts on watermark algebra (sessionize) assert
    * against these, so respacing the sentinels breaks THEM, loudly. */
  private val sentinelHoursByShard = Map(3 -> 36L, 4 -> 72L)
  private[streaming] val sentinel1OffsetUs =
    sentinelHoursByShard(3) * 3600L * 1000000L

  private def chronoReplayWithSentinel(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val ev = Star.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val srcF = new java.io.File(s"$dir/events.parquet")
    val tag = java.lang.Long.toHexString(
      dir.hashCode.toLong << 32 ^ srcF.length() ^ srcF.lastModified())
    val base = new org.apache.hadoop.fs.Path(
      System.getProperty("java.io.tmpdir"), s"graft_stream_chrono_s3_$tag")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(base, "_READY"))) {
      fs.delete(base, true)
      val Array(lo, hi) = ev.agg(min(unix_micros(col("ts"))),
        max(unix_micros(col("ts")))).collect().head
        .toSeq.map(_.asInstanceOf[Long]).toArray
      // three data shards (see chronoReplay) + the two sentinels
      val span = (hi - lo) / 3 + 1
      def sentinel(hours: Long) = spark.range(2).select(
        (col("id") * -1 - 1).as("event_id"),
        timestamp_micros(lit(hi + hours * 3600L * 1000000L)).as("ts"),
        lit(-1L).as("user_id"),
        when(col("id") === 0, "view").otherwise("purchase").as("event_type"),
        lit(0.0).as("value"))
      (0 until 5).foreach { k =>
        val part =
          if (k < 3) ev.filter(
            unix_micros(col("ts")) >= lo + k * span &&
              unix_micros(col("ts")) < lo + (k + 1) * span)
          else sentinel(sentinelHoursByShard(k))
        val tmp = new org.apache.hadoop.fs.Path(base, s"_tmp$k")
        part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val f = fs.globStatus(
          new org.apache.hadoop.fs.Path(tmp, "part-*.parquet")).head.getPath
        fs.rename(f, new org.apache.hadoop.fs.Path(base, s"q$k.parquet"))
        fs.delete(tmp, true)
      }
      fs.create(new org.apache.hadoop.fs.Path(base, "_READY")).close()
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "q*.parquet")
      .parquet(base.toString)
  }

  /** STREAM-STREAM LEFT OUTER join — the attribution join that also
    * emits every UNMATCHED view, with null purchase columns, once the
    * watermark proves no matching purchase can still arrive. This is a
    * different state-machine than the inner join: matched pairs emit
    * eagerly, but the null row for an unmatched view emits only when the
    * watermark passes view_ts + join window — state eviction IS the
    * emission trigger. The sentinel replay drives the final watermark
    * past every real view, so the result is exactly the batch LEFT JOIN
    * (the oracle); sentinel rows themselves are filtered out (user -1,
    * and the view sentinel never evicts — the stream ends first). */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    // single-source self-join — see streamStreamJoin; one scan + one
    // offset commit per trigger instead of two over the same fixture
    val src = chronoReplayWithSentinel(spark, dir)
    val views = src
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
        col("user_id"))
      .withWatermark("view_ts", "2 hours")
    val purchases = src
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("user_id").as("p_user_id"))
      .withWatermark("purchase_ts", "2 hours")
    // The sentinel rows are filtered AFTER the memory sink, not inside
    // the streaming query: a pre-sink filter(user_id >= 0) gets pushed
    // by Catalyst below the watermark operator into the view scan — and
    // through the join's user_id = p_user_id equality constraint into
    // the purchase scan too — so the sentinels never reach the watermark
    // nodes and the final evictions never fire. Hard-won lesson: a
    // watermark-driving row must survive every pushable predicate.
    val joined = views.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"))
    // view-grain output (grows with the corpus) -> parquet sink
    appendReplayToParquet(spark, joined, "stream_left")
      .filter(col("user_id") >= 0) // drop the sentinel pairs (batch side)
      .orderBy("view_id", "purchase_id")
  }

  private val streamStreamLeftJoinSql =
    """WITH e AS (
      |  SELECT event_id, epoch_us(ts) AS us, user_id, event_type
      |  FROM events)
      |SELECT v.event_id AS view_id, p.event_id AS purchase_id,
      |  v.user_id, v.us AS view_us, p.us AS purchase_us
      |FROM (SELECT * FROM e WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM e WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND p.us >= v.us AND p.us <= v.us + 3600000000
      |ORDER BY view_id, purchase_id""".stripMargin

  def streamWindowedAppend(spark: SparkSession, dir: String): DataFrame = {
    val src = chronoReplay(spark, dir)
      .select("event_id", "ts", "event_type", "value")
    val agg = src
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), Star.dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("bucket"), col("event_type"), col("n"),
        col("sum_value"))
    // finalNoDataBatch: append-mode emission happens when the watermark
    // is APPLIED, one batch after the rows that advanced it — the
    // trailing no-data batch is what flushes the last windows here
    withStreamPartitions(spark, finalNoDataBatch = true) {
      val q = agg.writeStream
        .format("memory")
        .option("checkpointLocation", replayCheckpoint("windowed_append"))
        .queryName("graft_stream_windowed_append")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.table("graft_stream_windowed_append")
      .orderBy("bucket", "event_type")
  }

  /** Same cutoff arithmetic as Spark's watermark: max event time floored
    * to milliseconds, minus the 1-hour delay; append emitted exactly the
    * windows whose END is at or before it. */
  private val streamWindowedAppendSql =
    """WITH wm AS (
      |  SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 3600000000 AS wm_us
      |  FROM events)
      |SELECT date_trunc('hour', ts) AS bucket, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events, wm
      |GROUP BY 1, 2, wm_us
      |HAVING epoch_us(date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR)
      |  <= wm_us
      |ORDER BY 1, 2""".stripMargin

  /** One event row inside the custom-state sessionizer (micros since
    * epoch; event_id only tie-breaks equal timestamps). */
  final case class SessEvent(user_id: Long, us: Long, event_type: String,
      event_id: Long)

  /** Open-session state carried across triggers per user. */
  final case class SessState(startUs: Long, lastUs: Long, n: Long)

  /** A closed session emitted downstream. */
  final case class SessClosed(user_id: Long, session_start_us: Long,
      n_events: Long, duration_us: Long, end_reason: String)

  /** Custom-state sessionization via flatMapGroupsWithState — the session
    * rule `session_window` CANNOT express: a session closes on a
    * conversion ('purchase') event immediately, OR on a 30-minute gap.
    * Only CLOSED sessions are emitted (append semantics): a gap-closed
    * session emits when the next event of that user arrives; each user's
    * trailing non-purchase session stays open forever and never emits —
    * the oracle applies the same rule.
    *
    * Scale/ordering notes: state is one open session per user (bounded by
    * active-user cardinality, not event volume; production adds an
    * idle-timeout via GroupStateTimeout to evict). Events are sorted
    * within each (trigger, user) group — correct for in-order-per-key
    * sources (e.g. kafka keyed by user); cross-trigger late data needs
    * watermark buffering, deliberately out of scope for this rule. */
  /** The stateful core: purchase-or-gap session transitions over a typed
    * event stream. Exposed separately so tests can drive it through a
    * MemoryStream with one trigger per batch (state genuinely crossing
    * micro-batch boundaries), while the gate query feeds it the bounded
    * file source. */
  def customSessionize(src: org.apache.spark.sql.Dataset[SessEvent])
      : org.apache.spark.sql.Dataset[SessClosed] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import src.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000

    def fn(user: Long, rows: Iterator[SessEvent],
        state: GroupState[SessState]): Iterator[SessClosed] = {
      val evs = rows.toArray.sortBy(e => (e.us, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[SessClosed]
      var cur = state.getOption
      evs.foreach { e =>
        cur match {
          case Some(s) if e.us - s.lastUs > gapUs =>
            out += SessClosed(user, s.startUs, s.n, s.lastUs - s.startUs,
              "gap")
            cur = Some(SessState(e.us, e.us, 1))
          case Some(s) =>
            cur = Some(SessState(s.startUs, e.us, s.n + 1))
          case None =>
            cur = Some(SessState(e.us, e.us, 1))
        }
        if (e.event_type == "purchase") {
          val s = cur.get
          out += SessClosed(user, s.startUs, s.n, s.lastUs - s.startUs,
            "purchase")
          cur = None
        }
      }
      cur match {
        case Some(s) => state.update(s)
        case None => state.remove()
      }
      out.iterator
    }

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  def streamCustomSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val src = eventsStream(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("event_id")).as[SessEvent]
    val closed = customSessionize(src)
    // tie-break beyond start_us: a one-event purchase session can share
    // its start with the next session's first event at equal timestamps;
    // the full column list makes equal-rank rows identical, so ordinal
    // assignment is multiset-stable on both engines
    // (session-grain output grows with the corpus -> parquet sink)
    appendReplayToParquet(spark, closed.toDF(), "custom_session")
      .withColumn("session_id", row_number().over(
        Window.partitionBy("user_id").orderBy(col("session_start_us"),
          col("duration_us"), col("n_events"), col("end_reason")))
        .cast("long"))
      .select("user_id", "session_id", "n_events", "session_start_us",
        "duration_us", "end_reason")
      .orderBy("user_id", "session_id")
  }

  /** Batch mirror of the purchase-or-gap rule: a boundary falls before
    * the first event, after a >30 min gap, or after a purchase; a session
    * emits iff it ended with a purchase OR a later session exists for the
    * user (i.e. a gap closed it). */
  private val streamCustomSessionSql =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, event_id, event_type, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |              OR us - lag(us) OVER w > 1800000000
      |              OR lag(event_type) OVER w = 'purchase'
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sess AS (
      |  SELECT user_id, event_type, us, event_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged),
      |typed AS (
      |  SELECT user_id, sid, us,
      |    last_value(event_type) OVER (PARTITION BY user_id, sid
      |      ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      AS last_type
      |  FROM sess),
      |agg AS (
      |  SELECT user_id, sid, COUNT(*) AS n_events, MIN(us) AS start_us,
      |    MAX(us) - MIN(us) AS duration_us, MIN(last_type) AS last_type,
      |    MAX(sid) OVER (PARTITION BY user_id) AS max_sid
      |  FROM typed GROUP BY user_id, sid),
      |closed AS (
      |  SELECT user_id, n_events, start_us AS session_start_us, duration_us,
      |    CASE WHEN last_type = 'purchase' THEN 'purchase' ELSE 'gap' END
      |      AS end_reason
      |  FROM agg
      |  WHERE last_type = 'purchase' OR sid < max_sid)
      |SELECT user_id,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY session_start_us, duration_us, n_events, end_reason)
      |    AS BIGINT) AS session_id,
      |  n_events, session_start_us, duration_us, end_reason
      |FROM closed ORDER BY user_id, session_id""".stripMargin

  /** Watermark-bounded streaming dedup: dropDuplicatesWithinWatermark
    * keys state on (user_id, event_type) and — unlike plain
    * dropDuplicates, whose state grows forever — evicts entries once the
    * watermark passes their event time. THE state-management primitive
    * for dedup over an unbounded 100 TB/day stream. Replayed over the
    * 4-batch chronological fixture with a delay longer than the full
    * replay span, so nothing evicts mid-replay and the emitted key set
    * equals the batch DISTINCT (the oracle); eviction + re-emission
    * under a short delay is proven by the MemoryStream spec. */
  def streamDedupWm(spark: SparkSession, dir: String): DataFrame = {
    val dd = chronoReplay(spark, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", "90 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    // key-grain output (grows with the corpus) -> parquet sink
    appendReplayToParquet(spark, dd, "dedup_wm")
      .orderBy("user_id", "event_type")
  }

  private val streamDedupWmSql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Stream–static join: the replayed event stream enriched per
    * micro-batch against the static customer dimension (broadcast hash
    * join inside every trigger — stateless, append-mode, the standard
    * stream-enrichment shape at any scale; the dim re-broadcasts per
    * batch, so dimension updates between triggers are picked up). The
    * gate aggregates the enriched sink table; oracle = the equivalent
    * batch join. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Star.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = chronoReplay(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"))
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
    // event-grain enriched output (grows with the corpus) -> parquet sink
    appendReplayToParquet(spark, enriched, "static")
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        (sum(Star.cents(col("value"))).cast("double") / 100.0)
          .as("total_value"))
      .orderBy("c_mktsegment", "event_type")
  }

  private val streamStaticJoinSql =
    s"""SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
       |  CAST(SUM(${graft.operators.Star.Sql.cents("value")}) AS DOUBLE)
       |    / 100.0 AS total_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_stream_static_join", streamStaticJoin,
      Some(streamStaticJoinSql)),
    QueryDef("q_stream_dedup_wm", streamDedupWm, Some(streamDedupWmSql)),
    QueryDef("q_stream_stream_join", streamStreamJoin,
      Some(streamStreamJoinSql)),
    QueryDef("q_stream_stream_left", streamStreamLeftJoin,
      Some(streamStreamLeftJoinSql)),
    QueryDef("q_stream_custom_session", streamCustomSession,
      Some(streamCustomSessionSql)),
    QueryDef("q_stream_windowed_append", streamWindowedAppend,
      Some(streamWindowedAppendSql)),
    QueryDef("q_stream_time_bucket", streamTimeBucket, Some(streamTimeBucketSql)),
    QueryDef("q_stream_sessionize", streamSessionize, Some(streamSessionizeSql)),
    QueryDef("q_stream_dedup", streamDedup, Some(streamDedupSql)),
    QueryDef("q_stream_upsert", streamUpsert,
      Some(graft.operators.InmetQueries.inmetDailySql)),
  )
}
