package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and event recorder, written out once when the run ends.
  *
  * The benchmark's own spans (set-up, passes, queries, build, exec) are
  * always recorded: they are a handful of clock reads per query and they are
  * where the end-to-end times come from. With `on` set, [[attach]] also
  * installs the listeners that record what the engine does inside those
  * spans: Spark jobs and stages, planning phases of every query execution,
  * RDD storage, and micro-batches (as spans of kind "batch"). Times are
  * epoch seconds.
  */
final class Trace(val on: Boolean) {
  private val baseMicros = System.currentTimeMillis() * 1000L
  private val baseNanos = System.nanoTime()

  def now(): Double =
    (baseMicros + (System.nanoTime() - baseNanos) / 1000L) / 1e6

  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobEnds = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val plans = ArrayBuffer.empty[Map[String, Any]]
  private val storage = ArrayBuffer.empty[Seq[Double]]
  private var nextId = 0
  private def newId(): Int = synchronized { nextId += 1; nextId }

  /** Records a `kind`/`name` span around `body`, which gets the span's id. */
  def span[A](kind: String, name: String, parent: Int = -1)(body: Int => A): A = {
    val id = newId()
    val t0 = now()
    try body(id)
    finally record(id, parent, kind, name, t0, now())
  }

  private def record(id: Int, parent: Int, kind: String, name: String,
      start: Double, end: Double): Unit =
    add(spans, Map("id" -> id, "parent" -> parent, "kind" -> kind,
      "name" -> name, "start" -> start, "end" -> end))

  /** Listener callbacks arrive on Spark's bus threads; every buffer is
    * guarded by this recorder's lock. */
  private def add[A](buf: ArrayBuffer[A], a: A): Unit = synchronized { buf += a }

  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(batchListener)
  }

  def detach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(batchListener)
  }

  private val rddBytes = new java.util.HashMap[String, java.lang.Long]()
  private var rddTotal = 0L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(jobs, Map("job" -> e.jobId, "start" -> e.time / 1e3, "stages" -> e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(jobEnds, Map("job" -> e.jobId, "end" -> e.time / 1e3))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val rec = Map[String, Any](
        "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start" -> s.submissionTime.map(_ / 1e3),
        "end" -> s.completionTime.map(_ / 1e3),
        "tasks" -> s.numTasks,
        "run_s" -> (if (m == null) 0.0 else m.executorRunTime / 1e3),
        "cpu_s" -> (if (m == null) 0.0 else m.executorCpuTime / 1e9),
        "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1e3),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "shuffle_read_bytes" ->
          (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" ->
          (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" ->
          (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
      add(stages, rec)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) Trace.this.synchronized {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        val old = Option(rddBytes.put(b.blockId.name, size)).map(_.longValue).getOrElse(0L)
        if (size == 0L) rddBytes.remove(b.blockId.name)
        rddTotal += size - old
        storage += Seq(now(), rddTotal.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start" -> p.startTimeMs / 1e3, "end" -> p.endTimeMs / 1e3)
      }
      add(plans, Map("func" -> funcName, "phases" -> phases))
    }
  }

  private val batchListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
      val ms = p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
      record(newId(), -1, "batch", p.name, start, start + ms / 1e3)
    }
  }

  def toMap: Map[String, Any] = synchronized {
    Map("spans" -> spans.toList, "jobs" -> jobs.toList, "job_ends" -> jobEnds.toList,
      "stages" -> stages.toList, "plans" -> plans.toList,
      "storage" -> storage.toList)
  }
}
