package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{ChainRecord, TableGraph, TableNode}
import graft.sources.{Fetcher, FileFetcher}

/** Epoch milliseconds with sub-millisecond resolution. Spark listener
  * events carry epoch-millisecond stamps, so driver-side spans use the
  * same axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Span store. A span belongs to one op; spans are kept in memory and
  * written once at exit. Recording is on only while [[op]] is positive,
  * which the harness sets for the ops of traced passes. */
object Trace {
  /** Spark local property carrying the op id to jobs, stages and tasks. */
  val OpProperty = "perfbench.op"

  @volatile var op: Long = 0L
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  def add(op: Long, kind: String, t0: Double, t1: Double, extra: Map[String, Any] = Map.empty): Unit =
    spans.add(Map("op" -> op, "kind" -> kind, "t0" -> t0, "t1" -> t1) ++ extra)

  def span[T](kind: String, name: String = "")(body: => T): T = {
    val id = op
    if (id <= 0) body
    else {
      val t0 = Clock.nowMs
      try body finally add(id, kind, t0, Clock.nowMs, Map("name" -> name))
    }
  }

  /** Op id of the task running on this thread (0 outside traced ops). */
  def taskOp: Long =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty(OpProperty)))
      .map(_.toLong).getOrElse(0L)
}

/** The program's [[FileFetcher]] plus a fixed simulated round trip; in a
  * traced op each fetch is a span. */
class SimulatedFetcher(root: String, rttMs: Long) extends Fetcher {
  private val files = new FileFetcher(root)

  override def fetchRaw(url: String): Either[Int, String] = {
    val t0 = Clock.nowMs
    try {
      Thread.sleep(rttMs)
      files.fetchRaw(url)
    } finally {
      val id = Trace.taskOp
      if (id > 0) Trace.add(id, "fetch", t0, Clock.nowMs, Map("stage" -> TaskContext.get().stageId()))
    }
  }
}

/** The program's lineage graph with each public call timed as a span. */
class TracedGraph(dir: String) extends TableGraph(dir) {
  val freshCalls = new AtomicLong()
  val freshHits = new AtomicLong()

  override def addTable(name: String, df: DataFrame, sourceInfo: Seq[Map[String, Any]],
      metadata: Map[String, String]): TableNode =
    Trace.span("tablegraph", "addTable")(super.addTable(name, df, sourceInfo, metadata))

  override def getTable(spark: SparkSession, name: String): Option[DataFrame] =
    Trace.span("tablegraph", "getTable")(super.getTable(spark, name))

  override def addChain(c: ChainRecord): Unit =
    Trace.span("tablegraph", "addChain")(super.addChain(c))

  override def putTransformation(key: String, describe: String): Unit =
    Trace.span("tablegraph", "putTransformation")(super.putTransformation(key, describe))

  override def isFresh(name: String): Boolean = {
    val fresh = super.isFresh(name)
    if (Trace.op > 0) {
      freshCalls.incrementAndGet()
      if (fresh) freshHits.incrementAndGet()
    }
    fresh
  }
}

/** Jobs, stages (with their tasks folded in), query executions and
  * micro-batch progress, from Spark's public listener interfaces. Events
  * whose job carries no op property keep op 0; they are matched to ops by
  * time afterwards (streaming jobs run on the query's own thread). */
class Recorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val executions = new ConcurrentLinkedQueue[Map[String, Any]]()
  val batches = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val jobStart = TrieMap.empty[Int, (Long, Long)]
  private val stageOp = TrieMap.empty[Int, Long]
  private final class TaskAgg {
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var maxTaskMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }
  private val taskAgg = TrieMap.empty[(Int, Int), TaskAgg]

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Trace.OpProperty))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, (opOf(e.properties), e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      jobs.add(Map("op" -> op, "t0" -> t0, "t1" -> e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageOp.put(e.stageInfo.stageId, opOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val agg = taskAgg.getOrElseUpdate((e.stageId, e.stageAttemptId), new TaskAgg)
    agg.synchronized {
      agg.tasks += 1
      agg.maxTaskMs = math.max(agg.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.spill += m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val agg = taskAgg.remove((info.stageId, info.attemptNumber())).getOrElse(new TaskAgg)
    val t0 = info.submissionTime.getOrElse(0L)
    stages.add(Map(
      "op" -> stageOp.getOrElse(info.stageId, 0L), "stage" -> info.stageId,
      "t0" -> t0, "t1" -> info.completionTime.getOrElse(t0),
      "tasks" -> agg.tasks, "run_ms" -> agg.runMs, "cpu_ns" -> agg.cpuNs,
      "max_task_ms" -> agg.maxTaskMs, "shuffle_write" -> agg.shuffleWrite,
      "shuffle_read" -> agg.shuffleRead, "spill" -> agg.spill))
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val plan = qe.executedPlan
      executions.add(Map(
        "t0" -> phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis()),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"),
        "plan_nodes" -> collect(plan) { case p => p }.size,
        "exchanges" -> collect(plan) { case x: Exchange => x }.size))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(Map(
        "batch" -> p.batchId, "t0" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "query_planning_ms" -> ms("queryPlanning"), "wal_commit_ms" -> ms("walCommit"),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted event reached the listeners, then detaches. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def dump: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "executions" -> executions.asScala.toSeq, "batches" -> batches.asScala.toSeq)
}
