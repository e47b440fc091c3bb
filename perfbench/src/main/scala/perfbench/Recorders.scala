package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds: Spark's listener events carry epoch
  * milliseconds, the harness's own spans this finer clock. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, ok: Boolean)
final case class StageRec(id: Int, submitMs: Long, doneMs: Long, tasks: Int,
                          runMs: Long, cpuMs: Double, gcMs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          inBytes: Long, inRecords: Long, outBytes: Long,
                          outRecords: Long, failedTasks: Int)

/** Job and stage counts of the run, from a `SparkListener` (traced runs only). */
final class SparkRecorder extends SparkListener {
  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val failed = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += JobRec(e.jobId, jobStart.getOrElse(e.jobId, e.time), e.time,
      e.jobResult == JobSucceeded)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failed(e.stageId) += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val done = i.completionTime.getOrElse(System.currentTimeMillis())
    stages += StageRec(i.stageId, i.submissionTime.getOrElse(done), done, i.numTasks,
      m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, failed(i.stageId))
  }
}

/** One finished query execution: its Catalyst phase times (epoch ms) and
  * the shape of its executed plan. */
final case class QeRec(func: String, phases: Map[String, (Long, Long)],
                       writeCols: Option[Seq[String]], aggregates: Int,
                       planNodes: Int, graftNodes: Int) {
  def startMs: Long = if (phases.isEmpty) Long.MaxValue else phases.values.map(_._1).min
}

/** Finished query executions, from a `QueryExecutionListener`. Always
  * registered: the harness uses it to prove each timed action wrote every
  * output column. */
final class QeRecorder extends QueryExecutionListener {
  val execs = ArrayBuffer[QeRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val writeCols = qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query.output.map(_.name) }
    val aggs = qe.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case a: AggregateExpression => a }.size).sum }.sum
    val (n, g) = QeRecorder.planShape(qe.executedPlan)
    synchronized { execs += QeRec(funcName, phases, writeCols, aggs, n, g) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object QeRecorder {
  private def isGraft(o: AnyRef): Boolean = o.getClass.getName.startsWith("graft.")

  /** (plan nodes, graft nodes): every physical node of the final plan
    * (through adaptive query stages and subqueries), and how many of them
    * are graft plan nodes or carry graft expressions. */
  def planShape(root: SparkPlan): (Int, Int) = {
    var nodes = 0
    var graft = 0
    def visit(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
      case s: QueryStageExec => visit(s.plan)
      case _ =>
        nodes += 1
        if (isGraft(p) || p.expressions.exists(_.exists(e => isGraft(e)))) graft += 1
        p.children.foreach(visit)
        p.subqueries.foreach(visit)
    }
    visit(root)
    (nodes, graft)
  }
}

final case class StreamStart(id: String, ms: Long)
final case class StreamBatch(id: String, startMs: Long, durations: Map[String, Long],
                             stateRows: Long, stateBytes: Long)

/** Streaming query starts and micro-batches, from a `StreamingQueryListener`. */
final class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  val starts = ArrayBuffer[StreamStart]()
  val batches = ArrayBuffer[StreamBatch]()
  private def ms(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    starts += StreamStart(e.id.toString, ms(e.timestamp))
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    var durations = Map[String, Long]()
    d.forEach((k, v) => durations += k -> v.longValue)
    batches += StreamBatch(p.id.toString, ms(p.timestamp), durations,
      p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
  }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
