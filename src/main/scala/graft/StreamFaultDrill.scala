package graft

import java.nio.file.{Files, Paths}

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
  * reference output; re-run from a fresh checkpoint with a killer
  * thread murdering one CoarseGrainedExecutorBackend mid-stream; assert
  * the faulted finalized output equals the clean one AND the batch
  * twin's answer ([[graph.CoGraph.cappedEdges]] /
  * [[operators.Corpus.c15bCorpusOverlapKmv]]' shared estimate stage) —
  * the same stream≡batch contract the specs pin, now under executor
  * loss.
  *
  * EdgeStream staging detail: files are RANGE-partitioned and sorted on
  * `ts` so arrival order is time order (a file source has no other
  * order guarantee), the watermark uses 1 h lateness so a same-hour
  * bucket split across a file boundary cannot be late-dropped, and two
  * far-future sentinel files (written last → latest mtime → final two
  * micro-batches) advance the watermark past every real bucket's close
  * and fire the timers — the EdgeStreamSpec finalize pattern expressed
  * in files.
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

    /** Killer with a landing receipt (ADVICE r12): records WHEN the kill
      * fired (-1 pending, -2 no executor found) so the drill can assert
      * the executor died while the faulted query was still running — a
      * stream that finishes before `delayMs` would otherwise silently
      * test nothing, and an unjoined killer could murder an executor
      * during a LATER clean run, making reference runs depend on fault
      * recovery. `assertFiredBefore` joins the thread (no stray kills
      * survive past it) and returns the failure, if any.
      */
    final class Killer(tag: String, delayMs: Long) {
      private val killedAt = new java.util.concurrent.atomic.AtomicLong(-1L)
      private val t = new Thread(() => {
        Thread.sleep(delayMs)
        LocalCluster.ownExecutors().headOption match {
          case Some(p) =>
            System.err.println(s"[streamdrill] $tag: killing executor pid ${p.pid()}")
            p.destroyForcibly()
            killedAt.set(System.currentTimeMillis())
          case None =>
            System.err.println(s"[streamdrill] $tag: no executor JVM found")
            killedAt.set(-2L)
        }
      })
      t.setDaemon(true); t.start()

      /** Join the killer, then fail unless the kill landed while the
        * query was still running (`queryEndMs` = right after
        * processAllAvailable returned).
        */
      def assertFiredBefore(queryEndMs: Long): Option[String] = {
        t.join(delayMs + 60000)
        // ADVICE r13: a killer still alive past the join bound is correctly
        // reported as a failure below, but left running it could fire into
        // a LATER clean arm — the exact hazard this receipt closes. Its
        // only blocking point is the interruptible Thread.sleep, so
        // interrupt() retires it before we return.
        if (t.isAlive) t.interrupt()
        killedAt.get() match {
          case -1L => Some(s"$tag: killer thread never completed")
          case -2L => Some(s"$tag: no executor JVM found — fault arm tested nothing")
          case k if k > queryEndMs =>
            Some(s"$tag: kill landed ${k - queryEndMs} ms AFTER query end — fault arm tested nothing")
          case _ => None
        }
      }
    }

    val work = Files.createTempDirectory("streamfaultdrill").toString
    var failures = List.empty[String]

    // ---- EdgeStream ------------------------------------------------------

    val edgeIn = s"$work/edge_in"
    Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_type"))
      .repartitionByRange(8, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").json(edgeIn)
    // FileStreamSource orders files by MODIFICATION TIME; the parts all
    // land within the same write and can tie/shuffle, and an
    // out-of-range-order file would advance the watermark past earlier
    // hours and late-drop them (the first drill run measured exactly
    // that: 8 of 48 edges). Stamp an explicit mtime staircase in path
    // (= ts-range) order so arrival order IS time order; the two
    // sentinel files get the top steps — advance the watermark, then
    // fire the timers.
    val parts = Files.list(Paths.get(edgeIn)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 2000L * i))
    }
    val sentinel =
      """{"ts":"2099-01-01T00:00:00.000Z","user_id":999999999,"event_type":"error"}"""
    val s1 = Paths.get(s"$edgeIn/zz-sentinel-1.json")
    val s2 = Paths.get(s"$edgeIn/zz-sentinel-2.json")
    Files.writeString(s1, sentinel + "\n")
    Files.writeString(s2, sentinel + "\n")
    Files.setLastModifiedTime(s1, java.nio.file.attribute.FileTime
      .fromMillis(t0 + 2000L * (parts.size + 1)))
    Files.setLastModifiedTime(s2, java.nio.file.attribute.FileTime
      .fromMillis(t0 + 2000L * (parts.size + 2)))

    def runEdge(tag: String, kill: Boolean): Seq[(Long, Long, Long)] = {
      val in = spark.readStream
        .schema("ts TIMESTAMP, user_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .json(edgeIn)
      // lateness covers the corpus's full time span: no row can EVER be
      // late-dropped, buckets accumulate state across the whole run
      // (maximum surviving RocksDB state for the kill to threaten), and
      // every timer fires in the sentinel batches — arrival-order-immune
      // by construction, like the batch self-join it must equal
      val q = streaming.EdgeStream.bucketEdges(in, lateness = "3650 days")
        .toDF()
        .writeStream.format("memory").queryName(s"edge_$tag")
        .outputMode("append")
        .option("checkpointLocation", s"$work/edge_ckpt_$tag")
        .start()
      val k = if (kill) Some(new Killer(s"edge_$tag", 2000)) else None
      q.processAllAvailable()
      val endMs = System.currentTimeMillis()
      q.stop()
      k.flatMap(_.assertFiredBefore(endMs)).foreach(f => failures ::= f)
      spark.table(s"edge_$tag")
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
      val in = spark.readStream
        .schema("source STRING, text STRING")
        .option("maxFilesPerTrigger", "1")
        .json(kmvIn)
      val q = streaming.KmvStream.sketches(in)
        .toDF()
        .writeStream.format("memory").queryName(s"kmv_$tag")
        .outputMode("update")
        .option("checkpointLocation", s"$work/kmv_ckpt_$tag")
        .start()
      val k = if (kill) Some(new Killer(s"kmv_$tag", 2000)) else None
      q.processAllAvailable()
      val endMs = System.currentTimeMillis()
      q.stop()
      k.flatMap(_.assertFiredBefore(endMs)).foreach(f => failures ::= f)
      streaming.KmvStream.overlapEstimates(
          streaming.KmvStream.latest(spark.table(s"kmv_$tag")))
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
      val fs = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      val t = System.currentTimeMillis()
      fs.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(t + 2000L * i))
      }
    }

    def runAppend(tag: String, inDir: String, schema: String,
        mk: DataFrame => DataFrame, kill: Boolean): Seq[String] = {
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").json(inDir)
      val q = mk(in).writeStream.format("memory").queryName(tag)
        .outputMode("append")
        .option("checkpointLocation", s"$work/ckpt_$tag")
        .start()
      val k = if (kill) Some(new Killer(tag, 2000)) else None
      q.processAllAvailable()
      val endMs = System.currentTimeMillis()
      q.stop()
      k.flatMap(_.assertFiredBefore(endMs)).foreach(f => failures ::= f)
      spark.table(tag).collect().map(_.toString).toSeq.sorted
    }

    def drillAppend(name: String, inDir: String, schema: String,
        mk: DataFrame => DataFrame): Seq[String] = {
      val clean = runAppend(s"${name}_clean", inDir, schema, mk, kill = false)
      val fault = runAppend(s"${name}_fault", inDir, schema, mk, kill = true)
      if (fault != clean)
        failures ::= s"$name: faulted ${fault.size} rows != clean ${clean.size}"
      println(s"[streamdrill] $name: clean=${clean.size} verdict rows, " +
        s"faulted=${if (fault == clean) "bit-equal" else "DIVERGED"}")
      clean
    }

    // DedupStream — text LSH verdicts; ordered arrival ⇒ the dupDocs
    // fold must ALSO equal the batch d12 decision (the StreamDrill
    // contract, now certified under executor loss)
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
