package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{DataSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters gathered from Spark's public listener surfaces.
  *
  * The harness opens a span around each call into the program
  * ([[begin]]) and closes it after the listener bus has drained
  * ([[end]]), so every job, stage, task and query execution posted
  * while the span was open is counted in it. Events arrive on the
  * listener threads; all state is guarded by this object's lock.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  final class Span(val tag: String) {
    val t0: Long = System.nanoTime()
    var wallMs = 0.0
    val c: mutable.Map[String, Double] =
      mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    /** Spark jobs per micro-batch id (the `streaming.sql.batchId`
      * property Spark sets on every micro-batch job). */
    val batchJobs: mutable.Map[Long, Int] =
      mutable.TreeMap.empty[Long, Int].withDefaultValue(0)
  }

  private var open: Span = _
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val stageRows = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def begin(tag: String): Unit = synchronized {
    open = new Span(tag)
    spans += open
  }

  def end(sc: org.apache.spark.SparkContext): Span = {
    org.apache.spark.perfbench.Drain(sc)
    synchronized {
      val s = open
      s.wallMs = (System.nanoTime() - s.t0) / 1e6
      open = null
      s
    }
  }

  private def add(k: String, v: Double): Unit =
    if (open != null) open.c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    if (open != null) Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .flatMap(_.toLongOption)
      .foreach(b => open.batchJobs(b) += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      add("stages", 1)
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmitted.remove(e.stageId).foreach(t0 =>
      add("wait_ms", math.max(0L, e.taskInfo.launchTime - t0).toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("run_ms", m.executorRunTime.toDouble)
      add("cpu_ms", m.executorCpuTime / 1e6)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("scan_bytes", m.inputMetrics.bytesRead.toDouble)
      add("scan_rows", m.inputMetrics.recordsRead.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("write_bytes", m.outputMetrics.bytesWritten.toDouble)
      add("write_records", m.outputMetrics.recordsWritten.toDouble)
      stageRows.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSubmitted.remove(e.stageInfo.stageId)
      stageRows.remove(e.stageInfo.stageId).foreach { rows =>
        if (rows.size >= 2 && open != null) {
          val sorted = rows.sorted
          val median = math.max(1L, sorted(sorted.size / 2))
          open.c("task_skew") =
            math.max(open.c("task_skew"), sorted.last.toDouble / median)
        }
      }
    }

  /** Analysis of a DataFrame the program built: it runs when the
    * Dataset is created, before any action, so the listener below never
    * sees it. */
  def built(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.get("analysis").foreach(s =>
      add("analysis_ms", s.durationMs.toDouble))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    add("query_executions", 1)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach(p =>
      phases.get(p).foreach(s => add(s"${p}_ms", s.durationMs.toDouble)))
    walk(qe.executedPlan)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Plan shape of the executed plan, subqueries included. */
  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case q: QueryStageExec => walk(q.plan); return
      case _ =>
    }
    add("plan_nodes", 1)
    p match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => add("exchanges", 1)
      case _: SortExec => add("sorts", 1)
      case w: WindowExec => add("window_exprs", w.windowExpression.size)
      case _: DataSourceScanExec | _: BatchScanExec => add("scans", 1)
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }
}
