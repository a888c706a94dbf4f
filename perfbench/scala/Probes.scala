package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's listener timestamps. */
object Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epochMs + (System.nanoTime() - nano0) / 1e6
}

/** Local property naming the benchmark call a Spark job belongs to. */
object CallTag {
  val Key = "graftbench.call"
  val BatchKey = "streaming.sql.batchId"
}

/** Row counts of [[CountSink]] writes, read from the write node's SQL
  * metric after each query execution. */
class RowCounter extends QueryExecutionListener {
  private val counts = new ConcurrentLinkedQueue[java.lang.Long]()
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit =
    qe.executedPlan.metrics.get(CountSink.Metric)
      .foreach(m => counts.add(m.value))
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
  /** Counts recorded since the previous call (drain the listener bus
    * first: listeners run on its thread). */
  def take(): Seq[Long] =
    Iterator.continually(counts.poll()).takeWhile(_ != null)
      .map(_.longValue).toSeq
}

/** Spark job/stage/task record for the traced run, for one Spark
  * application. Every job carries the [[CallTag]] of the call that
  * spawned it (micro-batch jobs also their batch id); stages belong to
  * the job that lists them. Job and stage ids are offset by `idBase`,
  * so that the records of several applications in one run stay
  * distinct. Events arrive on the listener bus thread only, so the
  * plain collections need no locking as long as they are read after
  * the bus is drained. */
class TraceListener(idBase: Int) extends SparkListener {
  final class StageRec(val id: Int, val attempt: Int, val submitMs: Double) {
    var completeMs = 0.0
    var tasks, failedTasks = 0L
    var runMs, gcMs, waitMs = 0.0
    var shuffleRead, shuffleWrite, spill, inputBytes = 0L
    def toMap: Map[String, Any] = Map("id" -> (idBase + id), "attempt" -> attempt,
      "submit_ms" -> submitMs,
      "complete_ms" -> completeMs, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "run_ms" -> runMs, "gc_ms" -> gcMs,
      "wait_ms" -> waitMs, "shuffle_read" -> shuffleRead,
      "shuffle_write" -> shuffleWrite, "spill" -> spill,
      "input_bytes" -> inputBytes)
  }
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs(e.jobId) = mutable.Map("id" -> (idBase + e.jobId),
      "call" -> prop(e.properties, CallTag.Key),
      "batch" -> prop(e.properties, CallTag.BatchKey),
      "stage_ids" -> e.stageIds.map(idBase + _),
      "start_ms" -> e.time.toDouble, "end_ms" -> e.time.toDouble)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_("end_ms") = e.time.toDouble)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new StageRec(i.stageId,
      i.attemptNumber(),
      i.submissionTime.getOrElse(System.currentTimeMillis()).toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.completeMs = i.completionTime.getOrElse(System.currentTimeMillis())
        .toDouble
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failedTasks += 1
      s.waitMs += math.max(0.0, e.taskInfo.launchTime - s.submitMs)
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
    }

  def jobRecords: Seq[Map[String, Any]] = jobs.values.map(_.toMap).toSeq
  def stageRecords: Seq[Map[String, Any]] = stages.values.map(_.toMap).toSeq
}

object TraceListener {
  val IdsPerApp = 1000000
}

/** Progress of the benchmark's streaming query, one record per
  * committed micro-batch. */
class StreamProbe extends StreamingQueryListener {
  val committedRows = new AtomicLong(0)
  private val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var failure: String = null

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => failure = x)

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val state = p.stateOperators.headOption
      batches.add(Map(
        "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap,
        "input_rows" -> p.numInputRows,
        "state_rows_total" -> state.map(_.numRowsTotal).getOrElse(0L),
        "state_rows_updated" -> state.map(_.numRowsUpdated).getOrElse(0L),
        "state_commit_ms" -> state.map(_.commitTimeMs).getOrElse(0L),
        "state_update_ms" -> state.map(_.allUpdatesTimeMs).getOrElse(0L),
        "state_memory_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L)))
      committedRows.addAndGet(p.numInputRows)
    }
  }

  def records: Seq[Map[String, Any]] = batches.asScala.toSeq
}
