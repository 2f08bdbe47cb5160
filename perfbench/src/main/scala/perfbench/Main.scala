package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark process: set up a workload (inputs, a cold pass that also
  * dumps every op's output for the correctness check, warm-up), then time
  * closed-loop passes over its ops for a fixed window with one client
  * thread.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <stateDir> <resultFile>
  *
  * Everything measured is written as raw samples to `resultFile`; the
  * launcher (`run.py`) checks the dumped outputs and turns the
  * samples into metrics.
  */
object Main {
  val Cores = 4

  /** One unit of timed work. `run(runner, outDir, dump)` writes its result
    * under `outDir` when `dump` is set, else into the noop sink. */
  final case class Op(name: String, run: (Runner, String, Boolean) => Unit)

  /** A workload after input generation: its ops, the rows of its input
    * corpus, and what the output check needs besides the dumps. */
  final case class Ready(ops: Seq[Op], inputRows: Long,
                         check: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, stateDir, resultFile) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmStartNs = System.nanoTime() -
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    def sinceStart(t: Long) = (t - jvmStartNs) / 1e9
    val w = Workloads.byName(workload)

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$stateDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$stateDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tSession = System.nanoTime()

    // Set-up: inputs, then a cold pass (first-touch index and fixture
    // builds, codegen) that also dumps every op's output for the check,
    // then warm-up passes for the workload's warm-up time.
    val runner = new Runner(spark, traced)
    val dataDir = s"$stateDir/data"
    val dumpDir = s"$stateDir/check"
    val ready = w.prepare(spark, dataDir, seed)
    val tInputs = System.nanoTime()
    runner.pass(ready.ops, -1, dataDir, seed, dumpDir = Some(dumpDir))
    val tCold = System.nanoTime()
    while ((System.nanoTime() - tCold) / 1e9 < w.warmupSeconds)
      runner.pass(ready.ops, -1, dataDir, seed)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val (indexFiles, indexBytes) = treeSize(tmp)

    // Timed window: whole passes, each over the ops in a seeded order,
    // until the window is used up. A traced run attaches the listeners on
    // passes 0, 3, 4, 7, ... only: the traced and untraced halves then see
    // the same share of any drift, and their difference is the tracing
    // overhead.
    val windowStart = System.nanoTime()
    val minPasses = if (traced) 4 else 1
    var p = 0
    while (p < minPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) {
      runner.pass(ready.ops, p, dataDir, seed,
        withListeners = traced && (p % 4 == 0 || p % 4 == 3))
      p += 1
    }

    val result = Map(
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> Cores,
      "session_start_s" -> sinceStart(tSession),
      "inputs_s" -> (tInputs - tSession) / 1e9,
      "first_touch_s" -> (tCold - tInputs) / 1e9,
      "setup_s" -> sinceStart(windowStart),
      "index_files" -> indexFiles,
      "index_mb" -> indexBytes / 1048576.0,
      "input_rows" -> ready.inputRows,
      "passes" -> runner.passes.toSeq,
      "ops" -> runner.opSamples.toSeq,
      "setup_ops" -> runner.setupSamples.toSeq,
      "spans" -> runner.spans.toSeq,
      "check" -> (ready.check ++ Map("dump_dir" -> dumpDir,
        "dump_errors" -> runner.dumpErrors.toMap)),
      "rss_peak_mb" -> rssPeakMb())
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(new File(resultFile).toPath,
      mapper.writeValueAsString(result))
    spark.stop()
  }

  /** Peak resident set size of this JVM (`VmHWM`). */
  def rssPeakMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally status.close()
  }

  def treeSize(dir: File): (Long, Long) = {
    val files = Option(dir.listFiles()).toSeq.flatten
    files.foldLeft((0L, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = treeSize(f); (n + n2, b + b2) }
      else (n + 1, b + f.length())
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Runs passes and records spans, op samples and per-pass counters. */
final class Runner(val spark: SparkSession, traced: Boolean) {
  private val sc = spark.sparkContext
  val tracer = new Tracer
  val passes = mutable.Buffer.empty[Map[String, Any]]
  val opSamples = mutable.Buffer.empty[Map[String, Any]]
  val setupSamples = mutable.Buffer.empty[Map[String, Any]]
  val spans = mutable.Buffer.empty[Map[String, Any]]
  val dumpErrors = mutable.Map.empty[String, String]
  private var currentOp = ""
  private var currentPass = -1
  private var pinnedMb = 0.0

  /** Times `body` as phase `name` of the current op; jobs it submits are
    * tagged with the phase. */
  def phase[T](name: String)(body: => T): T = {
    sc.setLocalProperty("perfbench.phase", name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty("perfbench.phase", null)
      spans += Map("pass" -> currentPass, "op" -> currentOp, "phase" -> name,
        "start_ns" -> t0, "end_ns" -> t1)
    }
  }

  /** Construct, plan and execute a registered query into the noop sink,
    * or into parquet under `out` when `dump` is set. */
  def query(name: String, dataDir: String, out: String, dump: Boolean): Unit = {
    val df: DataFrame =
      phase("construct")(graft.SparkEntry.queries(name)(spark, dataDir))
    if (traced && currentPass >= 0)
      pinnedMb += sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum /
        1048576.0
    phase("plan")(df.queryExecution.executedPlan)
    phase("execute") {
      if (dump) df.write.mode("overwrite").parquet(out)
      else df.write.format("noop").mode("overwrite").save()
    }
  }

  /** Between-op hygiene, untimed: the serve chains pin RDD leaves and the
    * streaming replays register memory-sink views; each op starts clean. */
  def cleanup(): Unit = {
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    graft.PerfbenchAccess.releaseMaterialized()
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.toDouble).sum / 1000.0

  /** One pass over `ops` in an order drawn from (seed, pass). Set-up
    * passes use `p < 0` and are not recorded; a dump pass keeps every
    * op's output under `dumpDir/<op>`. */
  def pass(ops: Seq[Main.Op], p: Int, dataDir: String, seed: Long,
           withListeners: Boolean = false,
           dumpDir: Option[String] = None): Unit = {
    val passDir = dumpDir.getOrElse(s"$dataDir/pass-$p")
    val order = new Random(seed * 1000003L + p).shuffle(ops)
    if (withListeners) {
      sc.addSparkListener(tracer)
      spark.streams.addListener(tracer.streams)
    }
    tracer.pass = if (withListeners) p else -1
    currentPass = p
    pinnedMb = 0.0
    sc.setLocalProperty("perfbench.pass", if (withListeners) p.toString else null)
    val gc0 = gcSeconds()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var opS = 0.0
    for (op <- order) {
      cleanup()
      currentOp = op.name
      val t0 = System.nanoTime()
      val error =
        try { op.run(this, s"$passDir/${op.name}", dumpDir.isDefined); None }
        catch { case e: Throwable => Some(e.getClass.getName) }
      val s = (System.nanoTime() - t0) / 1e9
      opS += s
      (if (p >= 0) opSamples else setupSamples) += Map("pass" -> p,
        "op" -> op.name, "s" -> s, "error" -> error.orNull)
      error.foreach { e =>
        System.err.println(s"[perfbench] op ${op.name} failed: $e")
        if (dumpDir.isDefined) dumpErrors(op.name) = e
      }
    }
    cleanup()
    sc.setLocalProperty("perfbench.pass", null)
    if (p >= 0) {
      val counters = if (withListeners) {
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.streams)
        val (files, bytes) = Main.treeSize(new File(passDir))
        tracer.countersOf(p) ++ Map(
          "inmet.files_written" -> files.toDouble,
          "inmet.mb_written" -> bytes / 1048576.0,
          "operators.pinned_mb" -> pinnedMb)
      } else Map.empty[String, Double]
      passes += Map("pass" -> p, "s" -> opS, "traced" -> withListeners,
        "gc_s" -> (gcSeconds() - gc0),
        "codegen_compiles" ->
          (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0),
        "counters" -> counters,
        "trigger_ms" -> tracer.triggerDurationsMs(p))
    }
    tracer.pass = -1
    if (dumpDir.isEmpty) Main.deleteTree(new File(passDir))
  }
}
