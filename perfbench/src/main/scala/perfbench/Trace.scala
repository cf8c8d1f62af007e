package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution: one
  * currentTimeMillis anchor, advanced by nanoTime, so span boundaries are
  * comparable with the epoch-ms times Spark stamps on its listener events. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def ms(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** A named interval in the span tree: run -> setup -> layout:<entry>, and
  * pass -> op:<name> -> build/force -> job -> stage (streaming micro-batches
  * hang under the build/force phase that ran them). `pass` is -1 outside
  * passes. */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, pass: Int)

final class Spans {
  private val buf = scala.collection.mutable.ArrayBuffer[Span]()
  def add(name: String, start: Double, end: Double, parent: Int, pass: Int): Int =
    synchronized { buf += Span(buf.size, name, start, end, parent, pass); buf.size - 1 }
  def open(name: String, parent: Int, pass: Int): Int =
    add(name, Clock.ms(), Double.NaN, parent, pass)
  /** Ends the span now; returns its duration in seconds. */
  def close(id: Int): Double = synchronized {
    val t = Clock.ms(); buf(id) = buf(id).copy(end = t); (t - buf(id).start) / 1e3
  }
  def apply(id: Int): Span = synchronized(buf(id))
  def all: Seq[Span] = synchronized(buf.toSeq)
}

/** Stage totals from the StageCompleted event (the stage's own task-metric
  * sums), so nothing is recorded per task. */
final case class StageRec(stageId: Int, attempt: Int, submit: Double, end: Double,
    tasks: Int, runMs: Long, cpuNs: Long, inBytes: Long, inRecords: Long,
    shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long, gcMs: Long)

final case class JobRec(jobId: Int, submit: Double, stageIds: Seq[Int])

final case class BatchRec(start: Double, triggerMs: Long, addBatchMs: Long,
    walCommitMs: Long, queryId: String, stateRows: Long, stateMem: Long,
    stateCommitMs: Long)

/** The traced run's event sink: a SparkListener for jobs, stages and SQL
  * executions plus a StreamingQueryListener for micro-batch progress.
  * Events are buffered with their own timestamps and attributed to ops by
  * time window afterwards, which is exact because ops run one at a time. */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val sqlStarts = new ConcurrentLinkedQueue[java.lang.Double]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(JobRec(e.jobId, e.time.toDouble, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    if (tm != null) stages.add(StageRec(si.stageId, si.attemptNumber(),
      si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
      si.numTasks, tm.executorRunTime, tm.executorCpuTime,
      tm.inputMetrics.bytesRead, tm.inputMetrics.recordsRead,
      tm.shuffleWriteMetrics.bytesWritten, tm.shuffleReadMetrics.totalBytesRead,
      tm.shuffleReadMetrics.fetchWaitTime,
      tm.memoryBytesSpilled + tm.diskBytesSpilled, tm.jvmGCTime))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => sqlStarts.add(x.time.toDouble)
    case _ =>
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators
      batches.add(BatchRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
        d.getOrElse("walCommit", 0L), p.id.toString,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }
}

object Recorder {
  /** Block until every posted listener event has been delivered. The bus
    * accessor is Spark-internal, so it is reached reflectively. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
