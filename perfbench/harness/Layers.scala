package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer counters for one traced pass, fed by a SparkListener and a
  * StreamingQueryListener. Names follow the benchmark's per-layer
  * metrics; times are seconds and sizes MB. `snapshot()` is read after
  * the listener bus has drained, then the counters start over.
  */
final class Layers extends SparkListener {
  private val c = new ConcurrentHashMap[String, java.lang.Double]()
  // last progress of each streaming run: its state rows and state memory
  private val lastState = new ConcurrentHashMap[String, (Long, Long)]()

  private def add(k: String, v: Double): Unit =
    c.merge(k, v, (a, b) => a + b)

  private val MB = 1024.0 * 1024.0

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add("sched.jobs", 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("sched.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task.run_s", m.executorRunTime / 1e3)
      add("task.cpu_s", m.executorCpuTime / 1e9)
      add("task.gc_s", m.jvmGCTime / 1e3)
      add("scan.input_mb", m.inputMetrics.bytesRead / MB)
      add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("write.output_mb", m.outputMetrics.bytesWritten / MB)
      add("write.output_rows", m.outputMetrics.recordsWritten.toDouble)
      val sr = m.shuffleReadMetrics
      add("shuffle.read_mb", (sr.remoteBytesRead + sr.localBytesRead) / MB)
      add("shuffle.fetch_wait_s", sr.fetchWaitTime / 1e3)
      add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("shuffle.spill_mb", m.diskBytesSpilled / MB)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      add("sql.executions", 1)
      def walk(p: SparkPlanInfo): Unit = {
        if (p.nodeName.startsWith("Scan ")) add("plan.scans", 1)
        if (p.nodeName.contains("Exchange")) add("plan.exchanges", 1)
        p.children.foreach(walk)
      }
      walk(s.sparkPlanInfo)
    case _ =>
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      add("stream.queries", 1)
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("stream.batches", 1)
      val d = p.durationMs.asScala
      for ((phase, name) <- Seq("triggerExecution" -> "trigger_s",
          "addBatch" -> "add_batch_s", "walCommit" -> "wal_commit_s",
          "commitOffsets" -> "commit_offsets_s",
          "queryPlanning" -> "planning_s"))
        add(s"stream.$name", d.get(phase).map(_.longValue / 1e3).getOrElse(0.0))
      val ops = p.stateOperators
      add("stream.state_commit_s", ops.map(_.commitTimeMs).sum / 1e3)
      lastState.put(p.runId.toString,
        (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** This pass's counters, then start over; a counter never fed is absent. */
  def snapshot(): Map[String, Double] = {
    val states = lastState.values.asScala
    val m = c.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++ Map(
      "stream.state_rows" -> states.map(_._1).sum.toDouble,
      "stream.state_mem_mb" -> states.map(_._2).sum / MB)
    c.clear(); lastState.clear()
    m
  }
}
