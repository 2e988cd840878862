package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-executor drill for the STREAMING LSH dedup: runs
  * [[streaming.DedupStream.lshVerdicts]] as a real file-source stream on
  * whatever master `SPARK_GRAFT_MASTER` names (e.g.
  * `local-cluster[4,8,4096]` via spark-submit — the certification that the
  * StatefulProcessor, its case-class encoders, and the per-executor
  * RocksDB state stores survive real JVM boundaries, which local[n] never
  * exercises), then cross-checks the streamed decision set against the
  * batch d12 operator computed in the same session.
  *
  * Usage: spark-submit --class graft.StreamDrill <jar> [sfDir]
  * Exits 0 and prints `DRILL PASS` on agreement; exits 1 otherwise.
  */
object StreamDrill {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]")
    implicit val spark: SparkSession = GraftSession.builder(master, 4)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stage the corpus as a json-lines file source (a REAL streaming
    // source that works across executor JVMs, unlike MemoryStream)
    val stage = Files.createTempDirectory("streamdrill").toString
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .coalesce(2).write.mode("overwrite").json(s"$stage/in")
    val stagedRows = spark.read.schema("doc_id LONG, text STRING")
      .json(s"$stage/in").count()
    // PRECONDITION for the equality below: the batch reference decides in
    // doc_id order, and the stream only matches it when every staged file
    // landed in ONE micro-batch (file-source arrival order between
    // batches is path-order, not doc_id-order). Count data-bearing
    // batches with a LISTENER, not q.recentProgress — that is a bounded
    // ring buffer (default 100 entries) which idle/no-data batches can
    // evict the data-bearing entry from, turning a passed drill into a
    // misleading "split across 0 micro-batches" failure.
    val dataBatches = new java.util.concurrent.atomic.AtomicLong(0)
    val rowsSeen = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) {
          dataBatches.incrementAndGet()
          rowsSeen.addAndGet(e.progress.numInputRows)
        }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING")
      .json(s"$stage/in")
    val q = streaming.DedupStream.lshVerdicts(docs).toDF()
      .writeStream.format("parquet")
      .option("path", s"$stage/out")
      .option("checkpointLocation", s"$stage/ckpt")
      .outputMode("append").start()
    q.processAllAvailable()
    // listener events are delivered asynchronously — wait until every
    // staged row has been accounted for before judging the batch count
    var waits = 0
    while (waits < 100 && rowsSeen.get() < stagedRows) {
      Thread.sleep(100); waits += 1
    }
    q.stop()
    spark.streams.removeListener(listener)
    require(rowsSeen.get() == stagedRows,
      s"drill saw ${rowsSeen.get()} of $stagedRows staged rows — " +
        "input lost or listener never delivered the data batch's progress")
    require(dataBatches.get() == 1,
      s"drill precondition violated: staged files split across " +
        s"${dataBatches.get()} data-bearing micro-batches; " +
        "stage fewer/larger files")

    val streamed = streaming.DedupStream.dupDocs(
        spark.read.parquet(s"$stage/out"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = operators.Dedup.d12ArrivalDedup(spark, sfDir)
      .filter(!col("is_kept")).select("doc_id", "dup_of")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // NOTE: a file-source stream has no arrival-order guarantee BETWEEN
    // files, but all docs land in one micro-batch here and the processor
    // orders within a batch by doc_id — so the decision set must equal
    // the batch keep-first decision exactly (the uncapped-vs-capped sid
    // delta does not bind at these SFs, proven by DedupStreamSpec)
    val diff = (streamed.toSet diff batch.toSet) ++ (batch.toSet diff streamed.toSet)
    if (diff.isEmpty && streamed.nonEmpty) {
      println(s"DRILL PASS master=$master dups=${streamed.size}")
      spark.stop()
    } else {
      println(s"DRILL FAIL master=$master streamed=${streamed.size} " +
        s"batch=${batch.size} diff=${diff.take(10)}")
      spark.stop()
      sys.exit(1)
    }
  }
}
