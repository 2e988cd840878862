package graft

import java.util.concurrent.{ConcurrentLinkedDeque, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine telemetry — the observability layer a 100 TB deployment runs on.
  *
  * At 1000 executors "the job is slow" is diagnosed from METRICS, not
  * logs: which query shuffled how much, what spilled, what a micro-batch
  * is doing to state size. Spark already measures all of it per-operator
  * (`SQLMetrics`) and per-batch (`StreamingQueryProgress`); this class
  * collects both into bounded in-memory ledgers queryable AS DATAFRAMES,
  * so the engine can analyze its own behavior with its own operators —
  * and a production deployment would point the same hooks at its metrics
  * store instead.
  *
  * Batch: a [[QueryExecutionListener]] walks the EXECUTED plan (through
  * AQE's final plan — the pre-execution plan lies about what actually
  * ran) and sums the load-bearing metrics: output rows, shuffle bytes
  * written, spill. Streaming: a [[StreamingQueryListener]] captures per-
  * batch input rows, duration, and state-store totals. Jobs: a
  * [[SparkListener]] (one per SparkContext) keeps each ended job's
  * stages, tasks and bytes — the ledger Bench reads its layers from.
  *
  * All ledgers are fixed-capacity (256 entries) — telemetry must never
  * become the memory leak it exists to catch.
  */
object Telemetry {
  val Capacity = 256

  final case class QueryStat(
      name: String,
      durationMs: Long,
      outputRows: Long,
      shuffleBytesWritten: Long,
      shuffleRecordsWritten: Long,
      spillBytes: Long)

  final case class BatchStat(
      queryName: String,
      batchId: Long,
      numInputRows: Long,
      batchDurationMs: Long,
      stateRows: Long,
      stateBytes: Long)

  /** One ended job; times are driver epoch ms, `stages` the ones that ran. */
  final case class JobStat(jobId: Int, group: String, description: String,
      startMs: Long, endMs: Long, stages: Int, tasks: Int, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  private val queries = new ConcurrentLinkedDeque[QueryStat]()
  private val batches = new ConcurrentLinkedDeque[BatchStat]()

  private def bounded[A](dq: ConcurrentLinkedDeque[A], a: A): Unit = {
    dq.addLast(a)
    while (dq.size() > Capacity) dq.pollFirst()
  }

  /** Final physical plan: AQE's executed plan where present, else as-is. */
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Sum a metric (by its SQLMetric name) over the whole executed tree,
    * descending into AQE subtrees and reused subtrees alike. */
  private def sumMetric(root: SparkPlan, metricNames: Set[String]): Long = {
    var total = 0L
    def walk(p: SparkPlan): Unit = {
      val node = finalPlan(p)
      node.metrics.foreach { case (_, m) =>
        if (metricNames.contains(m.name.getOrElse(""))) total += math.max(0L, m.value)
      }
      node match {
        // AQE hides the materialized exchange inside the stage wrapper —
        // it is NOT in `children`, which is why naive walks read 0 shuffle
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case other => other.children.foreach(walk)
      }
    }
    walk(root)
    total
  }

  private object Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val plan = finalPlan(qe.executedPlan)
      val top = plan.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
      bounded(queries, QueryStat(
        funcName,
        durationNs / 1000000L,
        top,
        sumMetric(plan, Set("shuffle bytes written")),
        sumMetric(plan, Set("records written", "shuffle records written")),
        sumMetric(plan, Set("spill size"))))
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (rows, bytes) = p.stateOperators.foldLeft((0L, 0L)) { (acc, s) =>
        (acc._1 + s.numRowsTotal, acc._2 + s.memoryUsedBytes)
      }
      bounded(batches, BatchStat(
        Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
        p.batchDuration, rows, bytes))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Running jobs, their stages and the ended jobs, guarded by this
    * object's lock. `droppedFromMs` is the latest start of a job the
    * bound evicted: a window starting at or before it has lost a job.
    */
  private object JobListener extends SparkListener {
    private val running = mutable.Map.empty[Int, JobStat]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val ended = new java.util.ArrayDeque[JobStat]()
    private var droppedFromMs = Long.MinValue

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(key: String) =
        Option(e.properties).map(_.getProperty(key, "")).getOrElse("")
      running(e.jobId) = JobStat(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.job.description"), e.time, -1L, 0, 0, 0L, 0L, 0L, 0L)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      for (id <- stageJob.get(si.stageId); j <- running.get(id);
           m <- Option(si.taskMetrics)) {
        val rd = m.shuffleReadMetrics
        running(id) = j.copy(stages = j.stages + 1, tasks = j.tasks + si.numTasks,
          inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
          shuffleReadBytes = j.shuffleReadBytes + rd.remoteBytesRead + rd.localBytesRead,
          shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = j.spillBytes + m.diskBytesSpilled)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId).foreach { j =>
        stageJob.filterInPlace((_, id) => id != e.jobId)
        ended.addLast(j.copy(endMs = e.time))
        while (ended.size > Capacity)
          droppedFromMs = math.max(droppedFromMs, ended.pollFirst().startMs)
      }
    }

    def window(fromMs: Long, toMs: Long): Option[Seq[JobStat]] = synchronized {
      if (droppedFromMs >= fromMs) None
      else Some(ended.asScala.filter(j => j.startMs >= fromMs &&
        j.startMs <= toMs).toSeq.sortBy(_.jobId))
    }
    def all: Seq[JobStat] = synchronized(ended.asScala.toSeq)
    def clear(): Unit = synchronized { ended.clear(); droppedFromMs = Long.MinValue }
  }

  /** Sessions and SparkContexts with their hooks installed. WEAK keys,
    * as in `Caches.autoInstalled`: the hooks are held by the session's
    * listener manager and stream manager and the context's listener bus,
    * so this set must never pin either. Guarded by this object's lock.
    */
  private val installed =
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean]()

  /** Idempotent install: both session hooks per session, the job
    * listener once per SparkContext.
    */
  def install(s: SparkSession): Unit = synchronized {
    if (installed.put(s, java.lang.Boolean.TRUE) == null) {
      s.listenerManager.register(Listener)
      s.streams.addListener(StreamListener)
    }
    if (installed.put(s.sparkContext, java.lang.Boolean.TRUE) == null)
      s.sparkContext.addSparkListener(JobListener)
  }

  def clear(): Unit = { queries.clear(); batches.clear(); JobListener.clear() }

  /** Ended jobs that started in `[fromMs, toMs]` (driver epoch ms), once
    * the listener bus has delivered what was posted. None when the bound
    * dropped one or the bus did not drain in 30 s: never a short list.
    */
  def jobsIn(s: SparkSession, fromMs: Long, toMs: Long): Option[Seq[JobStat]] =
    try {
      ListenerBusDrain(s.sparkContext, 30000L)
      JobListener.window(fromMs, toMs)
    } catch { case _: TimeoutException => None }

  /** The ledgers as DataFrames — telemetry analyzed by the engine itself
    * (top shuffles, spill offenders, duration percentiles, long jobs). */
  def queryStats(s: SparkSession): DataFrame =
    s.createDataFrame(queries.asScala.toSeq)

  def jobStats(s: SparkSession): DataFrame = s.createDataFrame(JobListener.all)

  def batchStats(s: SparkSession): DataFrame =
    s.createDataFrame(batches.asScala.toSeq)
}
