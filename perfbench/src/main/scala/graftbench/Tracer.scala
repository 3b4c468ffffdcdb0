package graftbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task aggregates, the unit the traced run reports. */
final class StageRec(val stageId: Int, val jobId: Int, val owner: String) {
  var submitMs = -1L
  var endMs = -1L
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  val taskRunMs = mutable.ArrayBuffer[Long]()
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

final class JobRec(val jobId: Int, val owner: String, val startMs: Long) {
  var endMs = -1L
  var failed = false
}

/** Spark listener plus query-execution listener for the traced pass.
  *
  * Jobs are tied to the query that started them through the
  * `graftbench.owner` local property the harness sets before each call;
  * Catalyst phase times arrive without that property, so they are
  * charged to `owner`, which the harness only changes after [[drain]]
  * has delivered every event of the previous query. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var owner: String = ""
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  // owner -> (phase -> ms), and QueryExecutions seen per owner
  val phases = mutable.HashMap[String, mutable.HashMap[String, Long]]()
  val executions = mutable.HashMap[String, Int]()
  private val stageOwner = mutable.HashMap[Int, (Int, String)]()
  private val markerJobs = mutable.HashSet[Int]()
  @volatile private var marker: CountDownLatch = _

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(MarkerProp) != null)) { markerJobs += e.jobId; return }
    val who = props.flatMap(p => Option(p.getProperty(OwnerProp))).getOrElse("")
    jobs(e.jobId) = new JobRec(e.jobId, who, e.time)
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (e.jobId, who)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val isMarker = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.failed = e.jobResult != JobSucceeded
      }
      markerJobs.remove(e.jobId)
    }
    val m = marker
    if (isMarker && m != null) m.countDown()
  }

  private def stage(id: Int): Option[StageRec] =
    stageOwner.get(id).map { case (job, who) =>
      stages.getOrElseUpdate(id, new StageRec(id, job, who))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stage(e.stageInfo.stageId).foreach { s =>
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).foreach { s =>
      s.endMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId).foreach { s =>
      s.tasks += 1
      if (!e.taskInfo.successful) s.failedTasks += 1
      if (s.submitMs >= 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.taskRunMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    val who = owner
    executions(who) = executions.getOrElse(who, 0) + 1
    val acc = phases.getOrElseUpdate(who, mutable.HashMap[String, Long]())
    qe.tracker.phases.foreach { case (name, p) =>
      acc(name) = acc.getOrElse(name, 0L) + (p.endTimeMs - p.startTimeMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  /** Wait until the listener bus has delivered every event posted so far.
    * A one-task marker job is posted after them on the same queue, so its
    * end event arrives last. */
  def drain(): Unit = {
    val latch = new CountDownLatch(1)
    marker = latch
    sc.setLocalProperty(MarkerProp, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerProp, null)
    if (!latch.await(60, TimeUnit.SECONDS))
      sys.error("listener bus did not deliver the drain marker within 60 s")
    marker = null
  }
}

object Tracer {
  val OwnerProp = "graftbench.owner"
  val MarkerProp = "graftbench.marker"
}
