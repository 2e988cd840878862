package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.StreamPipeline

/** A stress load on the reference stream pipeline: an open-loop generator
  * writes a JSON file of [[PerFile]] events every [[FileMs]] ms on average
  * ([[RatePerSec]] events/s) into the directory read by
  * `StreamPipeline.fileSource`. Two queries run side by side on it, each
  * triggering as soon as its last micro-batch ends: the stateless parse →
  * derive → foreachBatch sink, and the stateful windowed counts on the
  * RocksDB state store with changelog checkpointing (a commit writes the
  * batch's changes, not a snapshot of the store). The reference runs at about 1.8 events/s with 5 s
  * micro-batches (BASELINE.md), where latency would measure the trigger
  * interval rather than the engine.
  *
  * Each event carries the time its file was due, so a generator stall
  * counts against latency. Latency is measured from that stamp to the
  * moment the sink's writer receives the event. The files of the first
  * [[WarmupS]] seconds (on average) are delivered and checked but not timed.
  */
object FraudStream {
  val RatePerSec = 2000
  /** All events of a file share one stamp, so a run has one latency
    * sample cluster per file; small files make the p99 a rank among many
    * files rather than the slowest one. */
  val FileMs = 50
  val PerFile: Int = RatePerSec * FileMs / 1000
  val WarmupS = 8
  val DrainTimeoutMs = 60000L

  /** Delivery record of the sink's writer, indexed by event id. */
  object Received {
    @volatile var counts = new AtomicIntegerArray(0)
    @volatile var latencyUs = new AtomicLongArray(0)
    val total = new AtomicLong
    val stray = new AtomicLong

    def reset(n: Int): Unit = {
      counts = new AtomicIntegerArray(n)
      latencyUs = new AtomicLongArray(n)
      total.set(0); stray.set(0)
    }

    def apply(line: String, nowUs: Long): Unit = {
      val i = line.indexOf("event_id=") + 9
      val id = line.substring(i, line.indexOf('i', i)).toLong
      val tsUs = line.substring(line.lastIndexOf(' ') + 1).toLong / 1000L
      if (id >= 0 && id < counts.length) {
        counts.incrementAndGet(id.toInt)
        latencyUs.set(id.toInt, nowUs - tsUs)
      } else stray.incrementAndGet()
      total.incrementAndGet()
    }
  }

  private def nowUs(): Long = {
    val t = Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  val writer: Iterator[String] => Unit = lines => {
    val t = nowUs()
    lines.foreach(l => Received(l, t))
  }

  private val EventTypes = Array("purchase", "purchase", "view", "view", "view",
    "click", "click", "login", "error")

  /** Writes file `k` (events `k*PerFile` until `(k+1)*PerFile`) stamped
    * with its due time; contents are drawn from `rnd`.
    */
  private def writeFile(k: Int, dueMs: Long, rnd: scala.util.Random,
      tmp: File, in: File): Unit = {
    val ts = Instant.ofEpochMilli(dueMs).toString
    val sb = new StringBuilder(PerFile * 110)
    var i = 0
    while (i < PerFile) {
      val id = k.toLong * PerFile + i
      val value =
        if (rnd.nextInt(25) == 0) "null"
        else (math.round(rnd.nextDouble() * 50000) / 100.0).toString
      sb.append("{\"event_id\":").append(id)
        .append(",\"user_id\":").append(rnd.nextInt(5000))
        .append(",\"event_type\":\"").append(EventTypes(rnd.nextInt(EventTypes.length)))
        .append("\",\"value\":").append(value)
        .append(",\"ts\":\"").append(ts).append("\"}\n")
      i += 1
    }
    val name = f"events-$k%06d.json"
    val t = new File(tmp, name)
    Files.write(t.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(t.toPath, new File(in, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, work: File,
      trace: Trace): Map[String, Any] = {
    val in = new File(work, "stream-in"); val tmp = new File(work, "stream-tmp")
    Seq(in, tmp).foreach(_.mkdirs())
    val files = ((WarmupS + seconds) * 1000 / FileMs).ceil.toInt
    val warmFiles = WarmupS * 1000 / FileMs
    Received.reset(files * PerFile)

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val derived = StreamPipeline.derive(StreamPipeline.parse(
      StreamPipeline.fileSource(spark, in.getPath)))
    val asap = Trigger.ProcessingTime(0L)
    val queries: Seq[StreamingQuery] = trace.span("stream", "start") { _ =>
      Seq(
        StreamPipeline.foreachBatchSink(derived, writer,
          new ConcurrentLinkedQueue[Long](), asap)
          .queryName("stateless")
          .option("checkpointLocation", new File(work, "ck-stateless").getPath)
          .start(),
        StreamPipeline.windowedCounts(derived).writeStream
          .queryName("windowed")
          .format("noop").outputMode("update").trigger(asap)
          .option("checkpointLocation", new File(work, "ck-windowed").getPath)
          .start())
    }

    val rnd = new scala.util.Random(seed)
    val late = ArrayBuffer.empty[Seq[Double]]
    val backlog = ArrayBuffer.empty[Seq[Double]]
    // File k is due at due(k); the gaps are drawn uniformly from
    // [FileMs/2, 3*FileMs/2), so that files do not arrive in a fixed phase
    // against the micro-batches and each run samples every phase.
    val due = Array.fill(files)(FileMs / 2 + rnd.nextInt(FileMs))
      .scanLeft(System.currentTimeMillis() + 500)(_ + _)
    val warmEnd = due(warmFiles) / 1e3
    val gen = new Thread(() => {
      var k = 0
      while (k < files) {
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeFile(k, due(k), rnd, tmp, in)
        val t = System.currentTimeMillis()
        late += Seq(due(k) / 1e3, (t - due(k)).toDouble)
        backlog += Seq(t / 1e3, ((k + 1).toLong * PerFile - Received.total.get).toDouble)
        k += 1
      }
    }, "perfbench-generator")
    trace.span("stream", "generate") { _ => gen.start(); gen.join() }
    val generated = files.toLong * PerFile
    trace.span("stream", "drain") { _ =>
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      while (Received.total.get < generated && System.currentTimeMillis() < deadline &&
          queries.forall(_.isActive)) Thread.sleep(20)
    }
    val failures = queries.flatMap(_.exception).map(_.getMessage)
    queries.foreach(_.stop())

    var missing = 0L; var duplicated = 0L
    (0 until generated.toInt).foreach { i =>
      val c = Received.counts.get(i)
      if (c == 0) missing += 1 else if (c > 1) duplicated += 1
    }
    val latencies = (warmFiles * PerFile until generated.toInt)
      .filter(i => Received.counts.get(i) > 0)
      .map(i => Seq(due(i / PerFile) / 1e3, Received.latencyUs.get(i) / 1e3))
    Map(
      "rate_per_s" -> RatePerSec, "file_ms" -> FileMs,
      "window" -> Seq(warmEnd, due(files) / 1e3),
      "generated" -> generated, "missing" -> missing,
      "duplicated" -> duplicated, "stray" -> Received.stray.get,
      "query_errors" -> failures,
      "latency_ms" -> latencies, "gen_late_ms" -> late.toList,
      "backlog" -> backlog.toList,
      "progress" -> queries.map(q =>
        q.name -> q.recentProgress.map(p => Json.Raw(p.json)).toSeq).toMap)
  }
}
