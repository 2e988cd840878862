package graft

import java.util.concurrent.ConcurrentLinkedDeque

import scala.jdk.CollectionConverters._

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
  * batch input rows, duration, and state-store totals.
  *
  * Both ledgers are fixed-capacity deques (default 256) — telemetry must
  * never become the memory leak it exists to catch.
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

  /** Sessions with both hooks installed. WEAK keys, as in
    * `Caches.autoInstalled`: the hooks are held by the session's own
    * listener manager and stream manager, so this set must never pin a
    * session. Guarded by this object's lock.
    */
  private val installed =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Idempotent per-session install of both hooks. */
  def install(s: SparkSession): Unit = synchronized {
    if (!installed.containsKey(s)) {
      s.listenerManager.register(Listener)
      s.streams.addListener(StreamListener)
      installed.put(s, java.lang.Boolean.TRUE)
    }
  }

  def clear(): Unit = { queries.clear(); batches.clear() }

  /** The batch ledger as a DataFrame — telemetry analyzed by the engine
    * itself (top shuffles, spill offenders, duration percentiles). */
  def queryStats(s: SparkSession): DataFrame = {
    import s.implicits._
    queries.iterator().asScala.toSeq.toDF()
  }

  def batchStats(s: SparkSession): DataFrame = {
    import s.implicits._
    batches.iterator().asScala.toSeq.toDF()
  }
}
