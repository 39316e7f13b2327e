package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span at a layer boundary: times in epoch milliseconds (fractional),
  * `parent` 0 for an op's root span, `op` the op id it belongs to. */
final case class Span(id: Long, name: String, startMs: Double,
    endMs: Double, parent: Long, op: Long) {
  def ms: Double = endMs - startMs
  def toJson: Map[String, Any] = Map("id" -> id, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "parent" -> parent, "op" -> op)
}

/** Spark job counters, summed over the job's tasks. */
final class JobStat(val jobId: Int, val startMs: Long, val span: Long,
    val op: Long, val batch: Long, val execId: Long) {
  @volatile var endMs: Long = -1L
  var stages, tasks = 0L
  var runMs, cpuNs, schedDelayMs, shuffleRead, shuffleWrite, spill = 0L
  var bytesRead, rowsRead, bytesWritten, rowsWritten = 0L
  def durMs: Long = if (endMs < 0) 0L else endMs - startMs
}

/** One finished SQL execution, as the QueryExecutionListener saw it. */
final case class ExecStat(qe: QueryExecution, write: Boolean, ms: Double,
    commitMs: Double)

/** One micro-batch, as the StreamingQueryListener saw it. */
final case class Trigger(queryId: String, batchId: Long, startMs: Long,
    inputRows: Long, durations: Map[String, Long]) {
  def ms: Long = durations.getOrElse("triggerExecution", 0L)
}

/** Micro-batch progress. Registered on every run of a streaming workload:
  * the trigger durations are its per-op latencies, traced or not. */
final class StreamProgress extends StreamingQueryListener {
  import StreamingQueryListener._
  val triggers = new ConcurrentLinkedQueue[Trigger]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    triggers.add(Trigger(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** In-memory tracing. Off: `op`/`span` only run their body. On: each
  * span is kept with its parent and op id, and the span and op ids ride
  * on Spark job-local properties so the listeners below attribute every
  * job, task and SQL execution to the span that caused it. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  import Trace._

  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  // spans use the monotonic clock, listener events the wall clock
  private val wallOffsetMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  def wallMs(ns: Long): Double = ns / 1e6 + wallOffsetMs

  val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, JobStat]()
  val execs = new ConcurrentLinkedQueue[ExecStat]()
  private val execEnds = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[QueryExecution, Long]())

  /** When a finished query execution ended (epoch ms). A write command
    * runs its jobs in nested executions (a JDBC write's foreachPartition),
    * so writes are attributed to the op whose window holds their end, not
    * through job properties. */
  def execEndMs(e: ExecStat): Option[Long] =
    Option(execEnds.get(e.qe)).map(_.longValue)

  def op[A](opId: Long, kind: String)(body: => A): A =
    within(s"op.$kind", Some(opId))(body)
  def span[A](name: String)(body: => A): A = within(name, None)(body)

  private def within[A](name: String, op: Option[Long])(body: => A): A =
    if (!enabled) body
    else {
      val outer = stack.get
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val opId = op.orElse(outer.headOption.map(_._2)).getOrElse(-1L)
      val id = ids.incrementAndGet()
      val prev = (sc.getLocalProperty(SpanKey), sc.getLocalProperty(OpKey))
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(OpKey, opId.toString)
      stack.set((id, opId) :: outer)
      val t0 = System.nanoTime
      try body
      finally {
        spans.add(Span(id, name, wallMs(t0), wallMs(System.nanoTime),
          parent, opId))
        stack.set(outer)
        sc.setLocalProperty(SpanKey, prev._1)
        sc.setLocalProperty(OpKey, prev._2)
      }
    }

  /** The job/task listener: jobs, stages, tasks, scheduler delay, GC,
    * shuffle, spill, input and output, each summed per job. */
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def num(k: String): Long = p.flatMap(x => Option(x.getProperty(k)))
        .flatMap(_.toLongOption).getOrElse(-1L)
      val j = new JobStat(e.jobId, e.time, num(SpanKey), num(OpKey),
        num(BatchKey), num(ExecKey))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Option(org.apache.spark.sql.PerfbenchSql.queryExecution(end))
          .foreach(qe => execEnds.put(qe, end.time))
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        j.synchronized(j.stages += 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        val i = e.taskInfo
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime)
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.bytesRead += m.inputMetrics.bytesRead
            j.rowsRead += m.inputMetrics.recordsRead
            j.bytesWritten += m.outputMetrics.bytesWritten
            j.rowsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
  }

  /** SQL-execution durations, and for writes the commit time the write
    * command's SQL metrics report. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val write = WriteNodes.exists(qe.analyzed.nodeName.contains)
      var commitMs = 0.0
      qe.executedPlan.foreach { p =>
        Seq("taskCommitTime", "jobCommitTime").foreach { k =>
          p.metrics.get(k).foreach(m => commitMs += m.value.toDouble) }
      }
      execs.add(ExecStat(qe, write, durationNs / 1e6, commitMs))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val OpKey = "perfbench.op"
  val BatchKey = "streaming.sql.batchId"
  val ExecKey = "spark.sql.execution.id"
  private val WriteNodes = Seq("InsertInto", "SaveIntoDataSource",
    "CreateDataSourceTableAsSelect", "WriteFiles", "AppendData",
    "CreateTableAsSelect")
}
