package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-task figures kept from successful task ends (a failed or
  * speculative attempt's metrics would double-count retried work).
 */
final case class TaskRec(runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleWriteNs: Long,
    shuffleReadBytes: Long, shuffleReadRecords: Long, fetchWaitMs: Long,
    memSpill: Long, diskSpill: Long, peakExecMem: Long, outputBytes: Long)

final case class StageRec(stageId: Int, attempt: Int, jobId: Int,
    submitMs: Long, completeMs: Long, tasks: Seq[TaskRec]) {
  def sum(f: TaskRec => Long): Long = tasks.iterator.map(f).sum
  def max(f: TaskRec => Long): Long = if (tasks.isEmpty) 0L else tasks.iterator.map(f).max
}

final case class JobRec(jobId: Int, parentSpan: Long, batchId: Option[Long], startMs: Long, endMs: Long)

/** Benchmark-owned Spark listener: records every job, stage and
  * successful task of the session. A job is parented to the call span the
  * benchmark set in the [[SpanProp]] local property before calling into
  * the program; a streaming job also carries its micro-batch id.
  */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val tasks = new ConcurrentHashMap[(Int, Int), java.util.concurrent.ConcurrentLinkedQueue[TaskRec]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(JobListener.SpanProp))).map(_.toLong).getOrElse(0L)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, parent, batch, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (e.taskInfo.successful && m != null) {
      val rec = TaskRec(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleWriteMetrics.writeTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory, m.outputMetrics.bytesWritten)
      tasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()).add(rec)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val ts = Option(tasks.get((i.stageId, i.attemptNumber()))).map(_.asScala.toVector).getOrElse(Vector.empty)
    stages.put((i.stageId, i.attemptNumber()), StageRec(i.stageId, i.attemptNumber(),
      stageJob.getOrDefault(i.stageId, -1), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), ts))
  }

  def allJobs: Seq[JobRec] = jobs.values().asScala.toVector.sortBy(_.jobId)
  def allStages: Seq[StageRec] = stages.values().asScala.toVector.sortBy(s => (s.stageId, s.attempt))
}

object JobListener {
  /** Local property naming the benchmark span that encloses a job. */
  val SpanProp = "perfbench.span"
}

/** Micro-batch progress as the streaming engine reports it. */
final case class BatchRec(batchId: Long, startMs: Long, durations: Map[String, Long], rows: Long)

final class BatchListener extends StreamingQueryListener {
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    // a trigger that found no new data reports no batch work
    if (p.numInputRows > 0 || d.contains("addBatch"))
      batches.add(BatchRec(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, d, p.numInputRows))
  }
  def all: Seq[BatchRec] = batches.asScala.toVector.sortBy(_.batchId)
}

/** Converts listener records into spans under the benchmark's call spans. */
object ListenerSpans {
  private def nsOf(ms: Long, offsetNs: Long): Long = ms * 1000000L + offsetNs

  /** `offsetNs` maps epoch milliseconds onto the tracer's nanoTime axis. */
  def emit(tracer: Tracer, jobs: Seq[JobRec], stages: Seq[StageRec], batches: Seq[BatchRec],
      streamSpan: Long, offsetNs: Long): Unit = {
    val batchSpan = mutable.Map.empty[Long, Long]
    batches.foreach { b =>
      val id = tracer.nextId()
      batchSpan(b.batchId) = id
      val start = nsOf(b.startMs, offsetNs)
      tracer.record(Span(id, streamSpan, tracer.runId, s"micro_batch ${b.batchId}", "streaming",
        start, start + b.durations.getOrElse("triggerExecution", 0L) * 1000000L))
    }
    val jobSpan = mutable.Map.empty[Int, Long]
    jobs.filter(_.endMs >= 0).foreach { j =>
      val id = tracer.nextId()
      jobSpan(j.jobId) = id
      val parent = j.batchId.flatMap(batchSpan.get).getOrElse(j.parentSpan)
      tracer.record(Span(id, parent, tracer.runId, s"job ${j.jobId}", "job",
        nsOf(j.startMs, offsetNs), nsOf(j.endMs, offsetNs)))
    }
    stages.filter(s => s.completeMs > 0 && jobSpan.contains(s.jobId)).foreach { s =>
      tracer.record(Span(tracer.nextId(), jobSpan(s.jobId), tracer.runId, s"stage ${s.stageId}", "stage",
        nsOf(s.submitMs, offsetNs), nsOf(s.completeMs, offsetNs)))
    }
  }
}
