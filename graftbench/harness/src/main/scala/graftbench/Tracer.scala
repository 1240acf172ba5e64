package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the traced run learns about one operation (one DistMain
  * task or one query). Times are epoch milliseconds. */
final class OpTrace(val name: String, val kind: String, val direction: String, val start: Long) {
  var end = 0L
  /** Start of the operation's write (or, for a query, its timed action);
    * everything before it is construction. */
  var execStart = Long.MaxValue
  var execEnd = 0L
  val jobs = mutable.ArrayBuffer.empty[Array[Long]] // (jobId, start, end)
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val tables = mutable.LinkedHashSet.empty[String]
  val streams = mutable.Map.empty[java.util.UUID, StreamTrace]

  def mark(t: Long): Unit = execStart = math.min(execStart, t)
  def opMs: Double = (end - start).toDouble
  def buildMs: Double = if (execStart == Long.MaxValue) opMs else (execStart - start).toDouble
  def execMs: Double =
    if (execStart == Long.MaxValue) 0.0
    else ((if (execEnd > 0) execEnd else end) - execStart).toDouble
  def eagerJobs: Int = jobs.count(j => j(2) > 0 && j(2) <= execStart)
}

final class StreamTrace {
  var start = 0L
  var end = 0L
  val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var stateRows = 0.0
  var stateMem = 0.0
}

/** External tracer: Spark, SQL, streaming and query-execution listeners
  * attached from outside the program. Events are attributed to the
  * operation that is current when the bus delivers them; [[end]] drains
  * the bus before the next operation begins, so nothing leaks across. */
final class Tracer(spark: SparkSession) {
  val ops = mutable.ArrayBuffer.empty[OpTrace]
  @volatile private var current: OpTrace = _
  private val stageOp = mutable.Map.empty[Int, OpTrace]
  private val writeExecs = mutable.Map.empty[Long, OpTrace]

  def begin(name: String, kind: String, direction: String): OpTrace = {
    val op = new OpTrace(name, kind, direction, System.currentTimeMillis())
    ops.synchronized(ops += op)
    current = op
    spark.sparkContext.setJobGroup(s"graftbench/${ops.size - 1}", name)
    op
  }

  def end(op: OpTrace): Unit = {
    op.end = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    current = null
  }

  /** AQE wraps a write whose input has an exchange, so look through it. */
  private def isWrite(p: SparkPlanInfo): Boolean =
    Seq("InsertInto", "SaveIntoDataSource", "CreateDataSourceTable", "WriteFiles",
      "WriteToDataSourceV2", "AppendData").exists(p.nodeName.contains) ||
      (p.nodeName == "AdaptiveSparkPlan" && p.children.exists(isWrite))

  private def scannedTables(p: SparkPlanInfo): Seq[String] =
    p.metadata.get("Location").toSeq.flatMap(l =>
      """([A-Za-z0-9_]+)\.parquet""".r.findAllMatchIn(l).map(_.group(1))) ++
      p.children.flatMap(scannedTables)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Option(current).foreach { op =>
      op.jobs += Array(e.jobId.toLong, e.time, 0L)
      e.stageIds.foreach(stageOp(_) = op)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ops.synchronized {
      ops.reverseIterator.flatMap(_.jobs).find(_(0) == e.jobId).foreach(_(2) = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageOp.get(e.stageInfo.stageId).foreach { op =>
        op.c("spark.stages") += 1
        if (e.stageInfo.numTasks == 1) op.c("spark.single_task_stages") += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageOp.get(e.stageId).foreach { op =>
        op.c("spark.tasks") += 1
        if (!e.taskInfo.successful) op.c("spark.failed_tasks") += 1
        Option(e.taskMetrics).foreach { m =>
          op.c("spark.task_run_ms") += m.executorRunTime
          op.c("spark.task_cpu_ms") += m.executorCpuTime / 1e6
          op.c("spark.gc_ms") += m.jvmGCTime
          op.c("spark.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
          op.c("spark.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          op.c("spark.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
          op.c("spark.peak_exec_mem_bytes") =
            math.max(op.c("spark.peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
          op.c("rows_read") += m.inputMetrics.recordsRead
          op.c("bytes_read") += m.inputMetrics.bytesRead
          op.c("rows_written") += m.outputMetrics.recordsWritten
          op.c("bytes_written") += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Option(current).foreach { op =>
        op.tables ++= scannedTables(s.sparkPlanInfo)
        if (isWrite(s.sparkPlanInfo)) { op.mark(s.time); writeExecs(s.executionId) = op }
      }
      case s: SparkListenerSQLExecutionEnd =>
        writeExecs.remove(s.executionId).foreach(op => op.execEnd = math.max(op.execEnd, s.time))
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(current).foreach { op =>
        Tracer.Plans.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
          .foreach(w => w.cmd.metrics.get("numFiles").foreach(m => op.c("files_out") += m.value))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Option(current).foreach { op =>
        val st = op.streams.getOrElseUpdate(e.runId, new StreamTrace)
        st.start = epochMs(e.timestamp)
        op.mark(st.start)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(current).foreach { op =>
        val p = e.progress
        val st = op.streams.getOrElseUpdate(p.runId, new StreamTrace)
        st.c("batches") += 1
        st.c("rows_in") += p.numInputRows
        def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        st.c("trigger_ms") += d("triggerExecution")
        st.c("add_batch_ms") += d("addBatch")
        st.c("planning_ms") += d("queryPlanning")
        st.c("commit_ms") += d("walCommit") + d("commitOffsets")
        // state operators report totals, so the latest progress is the state size
        st.stateRows = p.stateOperators.map(_.numRowsTotal.toDouble).sum
        st.stateMem = p.stateOperators.map(_.memoryUsedBytes.toDouble).sum
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(current).foreach(op => op.streams.get(e.runId).foreach(_.end = System.currentTimeMillis()))
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Length of the union of the job intervals inside [from, to]. */
  def jobUnionMs(op: OpTrace, from: Long, to: Long): Double = {
    val iv = op.jobs.filter(_(2) > 0).map(j => (math.max(j(1), from), math.min(j(2), to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total.toDouble
  }
}

object Tracer {
  object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}
