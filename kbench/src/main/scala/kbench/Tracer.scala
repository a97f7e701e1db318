package kbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark jobs, stages, task counters and Catalyst phase times
  * from the outside, through the public listener interfaces. Nothing is
  * recorded while `on` is false; the harness flips it between scripts
  * only after [[quiesce]], so each event lands on the side it belongs to.
  * Events are kept in memory; [[Attribution]] assigns them to lines.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer.Phase
  @volatile var on: Boolean = false
  private val lastEventNs = new AtomicLong(System.nanoTime())

  final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class StageRec(val id: Int, val attempt: Int) {
    var submitMs = -1L; var endMs = -1L
    var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var inputRecords = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val tracedStages = ConcurrentHashMap.newKeySet[Int]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  // one QueryExecution can back several actions; count its phases once
  private val seenTrackers = ConcurrentHashMap.newKeySet[AnyRef]()

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    if (on) {
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, e.stageIds))
      e.stageIds.foreach(tracedStages.add)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    if (tracedStages.contains(i.stageId)) {
      val s = stage(i.stageId, i.attemptNumber())
      s.synchronized {
        s.submitMs = i.submissionTime.getOrElse(-1L)
        s.endMs = i.completionTime.getOrElse(-1L)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    if (tracedStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val s = stage(e.stageId, e.stageAttemptId)
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private def record(qe: QueryExecution): Unit = {
    touch()
    if (on && seenTrackers.add(qe.tracker)) {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Wait until the listener bus has been quiet for 30 ms and every
    * recorded job has ended (at most 2 s), so that a flip of `on` falls
    * between the events of two scripts.
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    def openJobs = jobs.values.asScala.exists(_.endMs < 0)
    while (System.nanoTime() < deadline &&
      (openJobs || System.nanoTime() - lastEventNs.get() < 30000000L))
      Thread.sleep(2)
  }

  def stageList: Seq[StageRec] = stages.values.asScala.toSeq.filter(_.endMs >= 0)
  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.filter(_.endMs >= 0).sortBy(_.id)
  def phaseList: Seq[Phase] = phases.asScala.toSeq
}

object Tracer {
  /** One Catalyst phase (analysis, optimization, planning) of a query. */
  final case class Phase(name: String, startMs: Long, endMs: Long)
}

/** Assigns events timed by the scheduler clock to the client lines that
  * caused them. With one client, lines never overlap: a line is sent at
  * `send` and its status arrives at `done`, and every Spark job it causes
  * starts and ends inside [send, done]. Neighbouring lines can share an
  * endpoint millisecond; an event that fits both is given to the earlier
  * line, because a job that ends as its line completes is far likelier
  * than one that starts the instant the next line is sent (the server
  * must first read, parse and plan it).
  */
object Attribution {

  /** Index of the line (sorted by send, non-overlapping) containing
    * [start, end], or -1 when none does.
    */
  def lineOf(lines: IndexedSeq[(Long, Long)], start: Long, end: Long): Int = {
    // last line with send <= start
    var lo = 0; var hi = lines.size - 1; var found = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (lines(mid)._1 <= start) { found = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (found < 0) -1
    else {
      val prev = found - 1
      if (prev >= 0 && lines(prev)._2 >= end && lines(prev)._1 <= start) prev
      else if (lines(found)._2 >= end) found
      else -1
    }
  }

  /** Phases are single instants for attribution: the line whose interval
    * holds the phase start.
    */
  def lineAt(lines: IndexedSeq[(Long, Long)], t: Long): Int = lineOf(lines, t, t)
}
