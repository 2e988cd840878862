package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executor-kill fault drill for the STATEFUL streams (VERDICT r11 item
  * 5): [[streaming.EdgeStream]] (event-time timers, append) and
  * [[streaming.KmvStream]] (TimeMode.None, update) on a REAL
  * multi-executor master with RocksDB state, with one executor JVM
  * force-killed mid-run. [[FaultDrill]] proves the BATCH registry
  * recovers through lineage/checkpoint; this proves the
  * `transformWithState` twins recover through the state store — the
  * replacement executor must reload RocksDB state from the checkpoint
  * and the re-planned micro-batches must reach the byte-identical
  * finalized output.
  *
  * Protocol per stream: stage the corpus as ordered json files, one
  * micro-batch per file (`maxFilesPerTrigger 1`); run CLEAN to get the
  * reference output; re-run from a fresh checkpoint with a
  * [[LocalCluster.Killer]] murdering one CoarseGrainedExecutorBackend
  * 2 s in, whose receipt must show the kill landed before the stream
  * drained; assert the faulted finalized output equals the clean one AND
  * the batch twin's answer ([[graph.CoGraph.cappedEdges]] /
  * [[operators.Corpus.c15bCorpusOverlapKmv]]' shared estimate stage /
  * d12 for DedupStream's fold) — the same stream≡batch contract the
  * specs pin, now under executor loss.
  *
  * Usage: spark-submit --class graft.StreamFaultDrill <jar> [sfDir]
  * (SPARK_GRAFT_MASTER defaults to local-cluster[3,4,4096]).
  * Prints one `[streamdrill] <name>: …` line per drill and
  * `STREAM DRILL PASS`/`FAIL`; exit 1 on any mismatch.
  */
object StreamFaultDrill {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER",
      "local-cluster[3,4,4096]")
    implicit val spark: SparkSession = GraftSession.builder(master, 12)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val work = Files.createTempDirectory("streamfaultdrill").toString
    var failures = List.empty[String]

    /** Run `out` into a memory table named `tag` and drain it; on a
      * faulted run (`kill`), under a killer 2 s in whose kill must land
      * before the stream drained. Returns the table and the input rows
      * the query's progress reports.
      */
    def runMemory(tag: String, out: DataFrame, mode: String,
        kill: Boolean): (DataFrame, Long) = {
      val q = out.writeStream.format("memory").queryName(tag)
        .outputMode(mode).option("checkpointLocation", s"$work/ckpt_$tag")
        .start()
      val k = if (kill) Some(new LocalCluster.Killer(tag, 2000)) else None
      q.processAllAvailable()
      val endMs = System.currentTimeMillis()
      q.stop()
      k.flatMap(_.receipt(endMs)).foreach(f => failures ::= f)
      (spark.table(tag), q.recentProgress.map(_.numInputRows).sum)
    }

    /** One micro-batch per staged file. */
    def source(schema: String, dir: String): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(dir)

    /** FileStreamSource orders files by MODIFICATION TIME, and the parts
      * of one write land together and can tie or shuffle. Stamp an
      * explicit mtime staircase over `dir`'s parts in path order, then
      * over `last`, so arrival order IS path order.
      */
    def staircase(dir: String, last: Seq[Path] = Nil): Unit = {
      val parts = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      val t0 = System.currentTimeMillis()
      (parts ++ last).zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + 2000L * i))
      }
    }

    // ---- EdgeStream ------------------------------------------------------

    val edgeIn = s"$work/edge_in"
    Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").json(edgeIn)
    // Parts are ts-ranges: an out-of-range-order file would advance the
    // watermark past earlier hours and late-drop them (the first drill
    // run measured exactly that: 8 of 48 edges). Two far-future sentinel
    // files get the top steps, so they are the final two micro-batches:
    // they advance the watermark past every real bucket's close and fire
    // the timers (the EdgeStreamSpec finalize pattern, in files).
    val sentinel =
      """{"ts":"2099-01-01T00:00:00.000Z","user_id":999999999,"event_type":"error"}"""
    val sentinels = Seq(1, 2).map(i => Paths.get(s"$edgeIn/zz-sentinel-$i.json"))
    sentinels.foreach(Files.writeString(_, sentinel + "\n"))
    staircase(edgeIn, sentinels)

    def runEdge(tag: String, kill: Boolean): Seq[(Long, Long, Long)] = {
      val in = source("ts TIMESTAMP, user_id LONG, event_type STRING", edgeIn)
      // lateness covers the corpus's full time span: no row can EVER be
      // late-dropped, buckets accumulate state across the whole run
      // (maximum surviving RocksDB state for the kill to threaten), and
      // every timer fires in the sentinel batches — arrival-order-immune
      // by construction, like the batch self-join it must equal
      val out = streaming.EdgeStream.bucketEdges(in, lateness = "3650 days")
      runMemory(s"edge_$tag", out.toDF(), "append", kill)._1
        .select("hour_epoch", "src", "dst")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    }

    val edgeClean = runEdge("clean", kill = false)
    val edgeFault = runEdge("fault", kill = true)
    val edgeBatch = graph.CoGraph.cappedEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val edgeStreamSet = edgeClean.map(e => (e._2, e._3)).toSet
    if (edgeFault != edgeClean)
      failures ::= s"EdgeStream: faulted ${edgeFault.size} rows != clean ${edgeClean.size}"
    if (edgeStreamSet != edgeBatch)
      failures ::= s"EdgeStream: stream edge set ${edgeStreamSet.size} != batch ${edgeBatch.size}"
    println(s"[streamdrill] EdgeStream: clean=${edgeClean.size} rows, " +
      s"faulted=${if (edgeFault == edgeClean) "bit-equal" else "DIVERGED"}, " +
      s"batch-distinct=${edgeBatch.size} " +
      s"(${if (edgeStreamSet == edgeBatch) "match" else "MISMATCH"})")

    // ---- KmvStream -------------------------------------------------------

    val kmvIn = s"$work/kmv_in"
    Tables.documents(spark, sfDir)
      .select(col("source"), col("text"))
      .repartition(6)
      .write.mode("overwrite").json(kmvIn)

    def runKmv(tag: String, kill: Boolean): Seq[String] = {
      val out = streaming.KmvStream.sketches(
        source("source STRING, text STRING", kmvIn))
      val (table, _) = runMemory(s"kmv_$tag", out.toDF(), "update", kill)
      streaming.KmvStream.overlapEstimates(streaming.KmvStream.latest(table))
        .collect().map(_.toString).toSeq.sorted
    }

    val kmvClean = runKmv("clean", kill = false)
    val kmvFault = runKmv("fault", kill = true)
    val kmvBatch = operators.Corpus.c15bCorpusOverlapKmv(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    if (kmvFault != kmvClean)
      failures ::= s"KmvStream: faulted estimates != clean"
    if (kmvClean != kmvBatch)
      failures ::= s"KmvStream: stream estimates != batch c15b (${kmvClean.size} vs ${kmvBatch.size})"
    println(s"[streamdrill] KmvStream: ${kmvClean.size} pair estimates, " +
      s"faulted=${if (kmvFault == kmvClean) "bit-equal" else "DIVERGED"}, " +
      s"batch=${if (kmvClean == kmvBatch) "match" else "MISMATCH"}")

    // ---- generic TimeMode.None append twins (Dedup / Embed / Phash) ----

    /** Stage a frame as ordered json files: range-partitioned + sorted on
      * its FIRST column (the arrival id) with the mtime staircase, so
      * file-source arrival order is id order — the precondition for the
      * arrival-ordered twins to equal their batch siblings across
      * micro-batches.
      */
    def stageOrdered(df: DataFrame, dir: String, parts: Int): Unit = {
      val idCol = col(df.columns.head)
      df.repartitionByRange(parts, idCol).sortWithinPartitions(idCol)
        .write.mode("overwrite").json(dir)
      staircase(dir)
    }

    def drillAppend(name: String, inDir: String, schema: String,
        mk: DataFrame => DataFrame): Seq[String] = {
      // every staged row must reach the clean stream: a lost input row
      // can be invisible to the verdicts (a doc that is neither dup nor
      // owner). Only the clean run's count is exact: under a kill, a
      // recomputed stage reads its rows again and its scan counts them
      // twice (EmbedStream's faulted run reported 600 of 500). The faulted
      // run is held to bit-equality with the clean one instead.
      val staged = spark.read.schema(schema).json(inDir).count()
      def run(tag: String, kill: Boolean): (Seq[String], Long) = {
        val (table, seen) =
          runMemory(tag, mk(source(schema, inDir)), "append", kill)
        (table.collect().map(_.toString).toSeq.sorted, seen)
      }
      val (clean, seen) = run(s"${name}_clean", kill = false)
      val (fault, _) = run(s"${name}_fault", kill = true)
      if (fault != clean)
        failures ::= s"$name: faulted ${fault.size} rows != clean ${clean.size}"
      if (seen != staged)
        failures ::= s"$name: clean run saw $seen of $staged staged rows; input lost"
      println(s"[streamdrill] $name: clean=${clean.size} verdict rows " +
        s"from $seen of $staged staged rows, " +
        s"faulted=${if (fault == clean) "bit-equal" else "DIVERGED"}")
      clean
    }

    // DedupStream — text LSH verdicts through a real file source across
    // executor JVMs with RocksDB state; ordered arrival over 6
    // micro-batches ⇒ the clean run's dupDocs fold must ALSO equal the
    // batch d12 decision, and be non-empty (an empty fold equals an empty
    // d12 while proving nothing)
    val dedupIn = s"$work/dedup_in"
    stageOrdered(Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")), dedupIn, 6)
    drillAppend("DedupStream", dedupIn, "doc_id LONG, text STRING",
      df => streaming.DedupStream.lshVerdicts(df).toDF())
    val dedupStreamDups = streaming.DedupStream.dupDocs(
        spark.table("DedupStream_clean"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dedupBatch = operators.Dedup.d12ArrivalDedup(spark, sfDir)
      .filter(!col("is_kept")).select("doc_id", "dup_of")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (dedupStreamDups != dedupBatch)
      failures ::= s"DedupStream: decision fold ${dedupStreamDups.size} != batch d12 ${dedupBatch.size}"
    if (dedupStreamDups.isEmpty)
      failures ::= "DedupStream: decision fold is empty; nothing compared"
    println(s"[streamdrill] DedupStream fold: ${dedupStreamDups.size} dups, " +
      s"batch d12=${if (dedupStreamDups == dedupBatch) "match" else "MISMATCH"}")

    // EmbedStream — embedding near-dup verdicts (d05d's twin)
    val embIn = s"$work/emb_in"
    stageOrdered(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")), embIn, 5)
    val dEmb = operators.Similarity.maxDim(spark, sfDir)
    drillAppend("EmbedStream", embIn, "vec_id LONG, embedding ARRAY<FLOAT>",
      df => streaming.EmbedStream.embVerdicts(df, dEmb).toDF())

    // PhashStream — perceptual near-dup verdicts (mm04b's twin); payload
    // round-trips json as base64 under the BINARY schema
    val phIn = s"$work/ph_in"
    stageOrdered(operators.Multimodal.mediaTable(spark, sfDir), phIn, 5)
    drillAppend("PhashStream", phIn,
      "doc_id LONG, media_type STRING, payload BINARY, width INT, " +
        "height INT, sample_rate INT",
      df => streaming.PhashStream.phVerdicts(df).toDF())

    if (failures.isEmpty) {
      println(s"STREAM DRILL PASS master=$master")
      spark.stop()
    } else {
      failures.foreach(f => println(s"STREAM DRILL FAIL: $f"))
      spark.stop()
      sys.exit(1)
    }
  }
}
