package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans and Spark/streaming counters recorded from outside the engine.
  *
  * Spans are kept in memory and written once at exit. Spark jobs are
  * attributed afterwards by time: a job belongs to the span (row or op)
  * whose interval contains the job's start. The harness drives one row or
  * op at a time while tracing, so that attribution is exact.
  */
object Trace {
  final case class Span(name: String, id: String, parent: String,
      startMs: Long, endMs: Long)

  final case class Job(startMs: Long, streaming: Boolean, var endMs: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0L,
      var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
      var input: Long = 0L)

  final case class Batch(owner: String, atMs: Long, durations: Map[String, Long],
      inputRows: Long, stateRows: Long, stateCommitMs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val batches = new ConcurrentLinkedQueue[Batch]()

  /** Owner (row or op) of the streaming queries this thread starts. A
    * query's execution thread is created by the starting thread and
    * inherits it, and `onQueryStarted` runs there, so concurrent rows keep
    * their own batches.
    */
  val owner: InheritableThreadLocal[String] = new InheritableThreadLocal[String] {
    override def initialValue(): String = ""
  }

  @volatile var enabled = false

  def span[A](name: String, id: String, parent: String = "")(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f
    finally if (enabled) spans.add(Span(name, id, parent, t0, System.currentTimeMillis()))
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[Job] = jobs.synchronized(jobs.values.toList)

  /** Jobs whose start falls in [from, to]. */
  def jobsIn(from: Long, to: Long): Seq[Job] =
    allJobs.filter(j => j.startMs >= from && j.startMs <= to)

  /** Length of the union of [start, end] intervals. */
  def unionMs(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      (acc + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
    }._1

  object SparkProbe extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      jobs(e.jobId) = Job(e.time,
        props.exists(_.getProperty("sql.streaming.queryId") != null))
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val m = e.taskMetrics
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid) if m != null) {
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Registered through `spark.sql.streaming.streamingQueryListeners`, so
    * every session, including the clones streams start on, gets one.
    */
  class StreamProbe extends StreamingQueryListener {
    private val owners = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      owners.put(e.runId, owner.get()); ()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      batches.add(Batch(owners.getOrDefault(p.runId, ""), System.currentTimeMillis(),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum))
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
