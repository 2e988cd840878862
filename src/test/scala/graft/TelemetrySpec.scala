package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PageRankOps

/** The observability hooks (`graft.Telemetry`): executed-plan metrics for
  * batch queries (through AQE's final plan), per-batch streaming
  * progress with state-store totals, and the bounded job ledger, all
  * queryable as DataFrames.
  */
class TelemetrySpec extends AnyFunSuite with SparkTestSession {

  test("batch ledger: shuffle query reports positive shuffle/output metrics") {
    Telemetry.install(spark)
    Telemetry.clear()
    import spark.implicits._
    // a genuine shuffle: 10k rows aggregated to 100 groups
    val out = spark.range(10000)
      .select((col("id") % 100).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
      .collect()
    assert(out.length == 100)
    // listener fires asynchronously post-completion: poll
    def fetch() = Telemetry.queryStats(spark)
      .filter(col("shuffleBytesWritten") > 0).as[Telemetry.QueryStat].collect()
    var tries = 0
    var stats = fetch()
    while (stats.isEmpty && tries < 50) { Thread.sleep(100); tries += 1; stats = fetch() }
    assert(stats.nonEmpty, "the groupBy must appear with shuffle bytes > 0")
    val s = stats.last
    assert(s.durationMs >= 0)
    assert(s.shuffleRecordsWritten > 0,
      "map-side combine still writes one record per (partition, group)")
  }

  test("install is per session: a second session gets its own hooks") {
    Telemetry.install(spark)
    val s2 = spark.newSession()
    Telemetry.install(s2)
    Telemetry.clear()
    import spark.implicits._
    // a shuffle run in the NEW session only
    val out = s2.range(10000)
      .select((col("id") % 100).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
      .collect()
    assert(out.length == 100)
    def fetch() = Telemetry.queryStats(spark)
      .filter(col("shuffleBytesWritten") > 0).as[Telemetry.QueryStat].collect()
    var tries = 0
    var stats = fetch()
    while (stats.isEmpty && tries < 50) { Thread.sleep(100); tries += 1; stats = fetch() }
    assert(stats.nonEmpty, "the second session's shuffle must reach the ledger")
  }

  test("streaming ledger: stateful query reports state rows per batch") {
    Telemetry.install(spark)
    Telemetry.clear()
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Long]
    val q = ms.toDF().select(col("value") % 10 as "k")
      .groupBy("k").count()
      .writeStream.format("memory").queryName("telemetry_t")
      .outputMode("complete").start()
    try {
      ms.addData(1L to 100L: _*)
      q.processAllAvailable()
      // progress events are delivered async on the streams bus
      var tries = 0
      var stats = Telemetry.batchStats(spark).as[Telemetry.BatchStat].collect()
      while (stats.isEmpty && tries < 50) {
        Thread.sleep(100); tries += 1
        stats = Telemetry.batchStats(spark).as[Telemetry.BatchStat].collect()
      }
      assert(stats.nonEmpty, "at least one batch progress must be captured")
      assert(stats.map(_.numInputRows).sum == 100L)
      assert(stats.last.stateRows == 10L,
        "10 distinct keys live in the state store")
    } finally q.stop()
  }

  test("job ledger: a shuffle query's jobs carry stages, tasks and shuffle bytes") {
    Telemetry.install(spark)
    val fromMs = System.currentTimeMillis
    val out = spark.range(10000)
      .select((col("id") % 100).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
      .collect()
    assert(out.length == 100)
    val jobs = Telemetry.jobsIn(spark, fromMs, System.currentTimeMillis)
      .getOrElse(fail("the ledger dropped jobs"))
    assert(jobs.nonEmpty)
    assert(jobs.forall(j => j.endMs >= j.startMs && j.startMs >= fromMs))
    assert(jobs.map(_.stages).sum > 0 && jobs.map(_.tasks).sum > 0)
    assert(jobs.map(_.shuffleWriteBytes).sum > 0, jobs)
    assert(jobs.map(_.shuffleReadBytes).sum > 0, jobs)
    // the same rows, read as a DataFrame
    val ids = jobs.map(_.jobId)
    assert(Telemetry.jobStats(spark).filter(col("jobId").isin(ids: _*))
      .agg(sum("shuffleWriteBytes")).head().getLong(0) ==
      jobs.map(_.shuffleWriteBytes).sum)
  }

  test("job ledger: g06 (sf0.001) runs exactly one job labelled as its vertex count") {
    Telemetry.install(spark)
    val fromMs = System.currentTimeMillis
    PageRankOps.q(spark, Sf).write.mode("overwrite").format("noop").save()
    val jobs = Telemetry.jobsIn(spark, fromMs, System.currentTimeMillis)
      .getOrElse(fail("the ledger dropped jobs"))
    assert(jobs.count(_.description == "PageRank vertex count N") == 1,
      jobs.map(_.description))
  }

  test("job ledger: a window the bound overflowed reports it, never a short count") {
    Telemetry.install(spark)
    val sc = spark.sparkContext
    val group = s"overflow-${System.nanoTime}"
    sc.setJobGroup(group, "overflow")
    try {
      val fromMs = System.currentTimeMillis
      def job(): Unit = assert(sc.parallelize(Seq(1), 1).count() == 1L)
      (1 to 10).foreach(_ => job())
      Thread.sleep(5)
      val midMs = System.currentTimeMillis
      (1 to Telemetry.Capacity - 5).foreach(_ => job())
      val toMs = System.currentTimeMillis
      // Capacity + 5 jobs since fromMs: the first five were dropped
      assert(Telemetry.jobsIn(spark, fromMs, toMs).isEmpty)
      // every job since midMs is still held
      assert(Telemetry.jobsIn(spark, midMs, toMs)
        .map(_.count(_.group == group)).contains(Telemetry.Capacity - 5))
    } finally sc.clearJobGroup()
  }
}
