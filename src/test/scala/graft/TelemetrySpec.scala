package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The observability hooks (`graft.Telemetry`): executed-plan metrics for
  * batch queries (through AQE's final plan) and per-batch streaming
  * progress with state-store totals, both queryable as DataFrames.
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
}
