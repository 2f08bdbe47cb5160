package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Per-pass layer counters fed by Spark's listener buses.
  *
  * Jobs carry the benchmark's local properties (`perfbench.pass`,
  * `perfbench.phase`), so a job, its stages and their task metrics are
  * attributed to the pass and phase that submitted them even though the
  * events arrive later. Streaming progress and SQL execution events carry
  * no properties; they are attributed to [[pass]], which is correct
  * because the benchmark drains the bus before it moves to the next pass.
  */
final class Tracer extends SparkListener {
  @volatile var pass: Int = -1

  private final case class JobTag(pass: Int, phase: String, execId: Long)
  private val stageTags = TrieMap.empty[Int, JobTag]
  private val textScans = TrieMap.empty[Long, Unit]
  private val writeKinds = TrieMap.empty[Long, (String, Long)]
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val triggerMs = mutable.Map.empty[Int, mutable.Buffer[Double]]

  def add(p: Int, key: String, v: Double): Unit = if (p >= 0) synchronized {
    val m = counters.getOrElseUpdate(p, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  /** Counters of pass `p`. */
  def countersOf(p: Int): Map[String, Double] = synchronized {
    counters.get(p).map(_.toMap).getOrElse(Map.empty)
  }

  def triggerDurationsMs(p: Int): Seq[Double] = synchronized {
    triggerMs.get(p).map(_.toSeq).getOrElse(Nil)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val tag = JobTag(prop("perfbench.pass").map(_.toInt).getOrElse(-1),
      prop("perfbench.phase").getOrElse("none"),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
    e.stageIds.foreach(stageTags.putIfAbsent(_, tag))
    add(tag.pass, "executor.jobs", 1)
    if (tag.phase == "construct") {
      add(tag.pass, "operators.construct_jobs", 1)
      val name = e.stageInfos.maxBy(_.stageId).name
      if (name.startsWith("localCheckpoint at Star.scala"))
        add(tag.pass, "operators.pin_jobs", 1)
      if (name.startsWith("count at") || name.startsWith("collect"))
        add(tag.pass, "operators.gate_jobs", 1)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageTags.get(e.stageInfo.stageId).foreach { tag =>
      val p = tag.pass
      val m = e.stageInfo.taskMetrics
      val mb = 1024.0 * 1024.0
      add(p, "executor.tasks", e.stageInfo.numTasks)
      if (m != null) {
        add(p, "executor.task_run_s", m.executorRunTime / 1000.0)
        add(p, "executor.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / mb)
        add(p, "executor.shuffle_read_mb",
          (m.shuffleReadMetrics.localBytesRead +
            m.shuffleReadMetrics.remoteBytesRead) / mb)
        add(p, "executor.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / mb)
        if (textScans.contains(tag.execId) && m.inputMetrics.bytesRead > 0)
          add(p, "inmet.scan_tasks", e.stageInfo.numTasks)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = s.physicalPlanDescription
      if (plan.toLowerCase.contains("scan text")) textScans.put(s.executionId, ())
      val target = Tracer.WriteTarget.findFirstMatchIn(plan).map(_.group(1))
      val kind = target.collect {
        case t if t.contains("/etl_stage/") => "inmet.stage_write_s"
        case t if t.contains("/etl_analytic/") => "inmet.analytic_write_s"
      }
      kind.foreach(k => writeKinds.put(s.executionId, (k, s.time)))
    case end: SparkListenerSQLExecutionEnd =>
      writeKinds.remove(end.executionId).foreach { case (k, t0) =>
        add(pass, k, (end.time - t0) / 1000.0)
      }
    case _ =>
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (pass >= 0) Tracer.this.synchronized {
        add(pass, "streaming.triggers", 1)
        triggerMs.getOrElseUpdate(pass, mutable.Buffer.empty) +=
          e.progress.batchDuration.toDouble
      }
  }
}

object Tracer {
  /** The output path of a file write in a formatted physical plan: the
    * first argument in the write node's details. */
  val WriteTarget: scala.util.matching.Regex =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r
}
