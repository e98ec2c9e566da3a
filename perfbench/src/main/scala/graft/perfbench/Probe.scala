package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of Spark work charged to one key: a benchmark op phase (the
  * job group the benchmark set before the call) or a streaming query. */
final class Work {
  var jobs, stages, skippedStages, tasks, failedTasks = 0L
  var cpuNs, runMs, gcMs, schedWaitMs = 0L
  var shuffleRead, shuffleWrite, spill, bytesRead, rowsRead, resultBytes = 0L

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; skippedStages += o.skippedStages
    tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    bytesRead += o.bytesRead; rowsRead += o.rowsRead; resultBytes += o.resultBytes
  }
}

/** Job and stage intervals for the span tree. */
final case class JobRec(id: Int, key: String, batchId: Long, start: Long, end: Long,
                        stages: Seq[(Int, Long, Long)])

/** The benchmark's SparkListener: counts jobs, stages and task metrics per
  * key, and keeps job and stage intervals for the span tree. The listener bus is a
  * single thread, so the mutable state is only touched there; readers call
  * [[Probe.drain]] first. */
final class JobProbe extends SparkListener {
  private val work = mutable.HashMap.empty[String, Work]
  private val stageKey = mutable.HashMap.empty[Int, String]
  private val stageSubmit = mutable.HashMap.empty[(Int, Int), Long]
  private val stageDone = mutable.HashMap.empty[Int, (Long, Long)]
  private val submitted = mutable.HashSet.empty[Int]
  private val open = mutable.HashMap.empty[Int, (String, Long, Long, Seq[Int])]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  private def w(key: String): Work = work.getOrElseUpdate(key, new Work)

  /** The key a job is charged to: streaming jobs by query id, the rest by
    * job group. */
  private def keyOf(props: java.util.Properties): (String, Long) = {
    def p(k: String) = Option(props).flatMap(x => Option(x.getProperty(k)))
    p("sql.streaming.queryId") match {
      case Some(q) => (s"stream:$q", p("streaming.sql.batchId").map(_.toLong).getOrElse(-1L))
      case None => (p("spark.jobGroup.id").getOrElse("none"), -1L)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (key, batch) = keyOf(e.properties)
    w(key).jobs += 1
    e.stageIds.foreach(s => stageKey(s) = key)
    open(e.jobId) = (key, batch, e.time, e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    submitted += si.stageId
    stageSubmit((si.stageId, si.attemptNumber())) = si.submissionTime.getOrElse(0L)
    w(stageKey.getOrElse(si.stageId, "none")).stages += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (a <- si.submissionTime; b <- si.completionTime) stageDone(si.stageId) = (a, b)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val x = w(stageKey.getOrElse(e.stageId, "none"))
    x.tasks += 1
    // a task killed because its query stopped is not a retry
    e.reason match {
      case org.apache.spark.Success | _: org.apache.spark.TaskKilled => ()
      case _ => x.failedTasks += 1
    }
    val sub = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
    x.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
    Option(e.taskMetrics).foreach { m =>
      x.cpuNs += m.executorCpuTime
      x.runMs += m.executorRunTime
      x.gcMs += m.jvmGCTime
      x.resultBytes += m.resultSize
      x.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      x.bytesRead += m.inputMetrics.bytesRead
      x.rowsRead += m.inputMetrics.recordsRead
      x.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (key, batch, start, stageIds) =>
      w(key).skippedStages += stageIds.count(s => !submitted.contains(s))
      done += JobRec(e.jobId, key, batch, start, e.time,
          stageIds.flatMap(s => stageDone.get(s).map { case (a, b) => (s, a, b) }))
    }
  }

  def snapshot(): Map[String, Work] = synchronized {
    work.map { case (k, v) => val c = new Work; c += v; k -> c }.toMap
  }
  def jobs(): Seq[JobRec] = synchronized(done.toList)
}

/** One finished planning phase of a QueryExecution. */
final case class PlanPhase(phase: String, start: Long, end: Long)

/** Collects the QueryPlanningTracker phases of every finished action. */
final class PlanProbe extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[PlanPhase]()
  def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      phases.add(PlanPhase(name, s.startTimeMs, s.endTimeMs))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Keeps every streaming progress report, per query id. */
final class ProgressProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
}

object Probe {
  /** Waits until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
}
