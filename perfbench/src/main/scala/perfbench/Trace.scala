package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's collectors, registered from outside the program:
  * a SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (Catalyst phase times per execution), a StreamingQueryListener
  * (micro-batch progress) and the codegen compile timers. Counters only
  * grow; an operation's figures are the difference of two snapshots taken
  * with the listener bus drained. */
final class Trace(spark: SparkSession) {
  private val c = Trace.names.map(_ -> new AtomicLong).toMap
  private def add(n: String, v: Long): Unit = c(n).addAndGet(v)
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        add("tasks", 1)
        add("task_run_ms", m.executorRunTime)
        add("task_cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("read_bytes", m.inputMetrics.bytesRead)
        add("read_rows", m.inputMetrics.recordsRead)
        add("write_bytes", m.outputMetrics.bytesWritten)
        add("write_rows", m.outputMetrics.recordsWritten)
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def phase(qe: QueryExecution, p: String): Long =
      qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      add("executions", 1)
      add("analysis_ms", phase(qe, QueryPlanningTracker.ANALYSIS))
      add("optimization_ms", phase(qe, QueryPlanningTracker.OPTIMIZATION))
      add("planning_ms", phase(qe, QueryPlanningTracker.PLANNING))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(f, qe, 0L)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Every counter, with the codegen timers read at the same instant. */
  def snapshot(): Map[String, Long] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    c.map { case (k, v) => k -> v.get } ++ Map(
      "codegen_compile_ns" -> CodeGenerator.compileTime,
      "codegen_classes" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def jobs: Long = { org.apache.spark.perfbench.BusDrain(spark.sparkContext); c("jobs").get }
}

object Trace {
  val names: Seq[String] = Seq(
    "jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "read_bytes", "read_rows", "write_bytes", "write_rows",
    "executions", "analysis_ms", "optimization_ms", "planning_ms")

  def diff(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}
