package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate singleton). */
trait SparkTestSession {
  val Sf: String = "/root/testdata/sf0.001"
  val SfMid: String = "/root/testdata/sf0.01"
  /** Built by [[GraftSession.builder]]: the suite certifies the exact
    * engine config (Kryo included) that Bench measures.
    */
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .getOrCreate()

  /** Jobs started while `body` runs on this thread, read from
    * [[Telemetry]]'s job ledger by a job group, so no other thread's jobs
    * are included.
    */
  def jobsOf(body: => Any): Int = {
    Telemetry.install(spark)
    val group = s"jobs-of-${System.nanoTime}"
    val sc = spark.sparkContext
    val fromMs = System.currentTimeMillis
    sc.setJobGroup(group, "counted")
    try {
      body
      Telemetry.jobsIn(spark, fromMs, System.currentTimeMillis)
        .getOrElse(throw new AssertionError("the job ledger dropped jobs"))
        .count(_.group == group)
    } finally sc.clearJobGroup()
  }

  /** Run `body` with the streaming state-store provider pinned (e.g. to
    * RocksDB, which transformWithState requires), restoring the previous
    * setting — ONE definition of the save/set/restore dance for every
    * suite that needs a specific backend.
    */
  def withStateProvider[A](provider: String)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The RocksDB provider class name (required by transformWithState). */
  val RocksDbProvider: String = "org.apache.spark.sql.execution.streaming." +
    "state.RocksDBStateStoreProvider"

  /** Listener-backed batch clock for the TTL-eviction specs: records the
    * (trigger-epoch-ms, input-rows) of every completed batch of ONE query,
    * so waits derive from the STREAM'S OWN clock instead of wall-clock
    * sleeps scaled off the TTL (the round-8 flake class). The TTL write
    * clock IS the trigger timestamp of the batch that wrote the state, so
    * "state has expired" ≡ "a later batch's trigger timestamp passed
    * writeTs + ttl" — both ends observed, nothing assumed about runner
    * speed. Register BEFORE the query starts work; always [[close]].
    */
  final class BatchClock(
      query: org.apache.spark.sql.streaming.StreamingQuery) {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    private val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    private val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == query.runId) batches.add((
          java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
          e.progress.numInputRows))
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    import scala.jdk.CollectionConverters._

    /** Trigger timestamp of the latest input-bearing batch (the TTL write
      * clock), polling until one exists.
      */
    def awaitWriteTs(timeoutMs: Long = 30000): Long = {
      val deadline = System.currentTimeMillis + timeoutMs
      while (System.currentTimeMillis < deadline) {
        val ts = batches.asScala.filter(_._2 > 0).map(_._1)
        if (ts.nonEmpty) return ts.max
        Thread.sleep(50)
      }
      fail("no input-bearing batch observed within the timeout")
    }

    /** Poll until some batch's trigger timestamp passes `epochMs` —
      * i.e. the stream's own clock certifies the instant has been
      * processed past.
      */
    def awaitClockPast(epochMs: Long, timeoutMs: Long = 60000): Unit = {
      val deadline = System.currentTimeMillis + timeoutMs
      while (System.currentTimeMillis < deadline) {
        if (batches.asScala.exists(_._1 > epochMs)) return
        Thread.sleep(50)
      }
      fail(s"stream clock never passed $epochMs within the timeout")
    }

    def close(): Unit = spark.streams.removeListener(listener)

    private def fail(msg: String): Nothing =
      throw new AssertionError(s"BatchClock: $msg")
  }
}
