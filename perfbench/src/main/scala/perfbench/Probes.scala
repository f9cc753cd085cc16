package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage totals of the task metrics the `exec` layer reports. */
final class StageAgg {
  var tasks       = 0
  var completed   = false
  var runMs       = 0L
  var cpuNs       = 0L
  var gcMs        = 0L
  var shufBytes   = 0L
  var shufRecords = 0L
  var spillBytes  = 0L
  var peakMem     = 0L
  var scanNs      = 0L
}

/** One Spark job: when it ran, which span started it (the `perfbench.span`
  * local property of the submitting thread, null if none) and its stages.
  */
final case class JobRec(id: Int, span: String, startMs: Long, var endMs: Long, stageIds: Seq[Int])

/** SparkListener the traced run registers. Everything is recorded only
  * while `on`; `take()` hands over and clears what was seen since the
  * last call. Callers drain the listener bus first.
  */
final class JobProbe extends SparkListener {
  @volatile var on = false
  private val jobs        = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages      = mutable.HashMap.empty[Int, StageAgg]
  private var jobsStarted = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    val span = Option(e.properties).map(_.getProperty(JobProbe.SpanKey)).orNull
    jobs(e.jobId) = JobRec(e.jobId, span, e.time, -1L, e.stageIds)
    jobsStarted += 1
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new StageAgg))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { a =>
      a.completed = true
      a.tasks = e.stageInfo.numTasks
      e.stageInfo.accumulables.values.foreach { acc =>
        if (acc.name.contains("scan time"))
          acc.value.foreach {
            case v: Long => a.scanNs += v * 1000000L // SQL timing metrics are in ms
            case _       => ()
          }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { a =>
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shufBytes += m.shuffleWriteMetrics.bytesWritten
        a.shufRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** (jobs seen, per-stage totals, number of job-start events) since the last call. */
  def take(): (Seq[JobRec], Map[Int, StageAgg], Int) = synchronized {
    val r = (jobs.values.toSeq, stages.toMap, jobsStarted)
    jobs.clear(); stages.clear(); jobsStarted = 0
    r
  }
}

object JobProbe {
  val SpanKey = "perfbench.span"
}

/** What the `plans` and `sources` layers report for one query execution. */
final case class QeRec(analysisMs: Long, optimizationMs: Long, planningMs: Long, filesRead: Long)

/** QueryExecutionListener the traced run registers: planning phases from
  * `qe.tracker` and files read from the executed (final adaptive) plan's
  * file-scan metrics.
  */
final class QeProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var on = false
  private val seen = new ConcurrentLinkedQueue[QeRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val files = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    seen.add(QeRec(ms("analysis"), ms("optimization"), ms("planning"), files))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def take(): Seq[QeRec] = {
    val out = mutable.ArrayBuffer.empty[QeRec]
    var r   = seen.poll()
    while (r != null) { out += r; r = seen.poll() }
    out.toSeq
  }
}
