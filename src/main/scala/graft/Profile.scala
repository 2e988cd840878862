package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-query optimization profiler (guide §1: measure first).
  *
  * Runs the named queries under the Bench session
  * ([[GraftSession.fromEnv]], same `SPARK_GRAFT_MASTER`/`SPARK_GRAFT_CPUS`)
  * and sink (noop), but additionally attaches a SparkListener that prints,
  * per Spark job inside the query: wall duration, stage count, task count,
  * input bytes, shuffle read/write bytes, and spill — the stage-level
  * evidence the Spark UI would show, in a headless-friendly form. This is
  * how a round decides whether a slow query is shuffle-bound, job-count
  * bound (iterative loops paying per-action scheduling), or compute-bound
  * before touching its plan.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=… SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.Profile g06_pagerank_loop g30_ktruss"
  * A conf A/B goes through Spark's own channels (`-Dspark.<key>=<v>` or
  * `spark-submit --conf`) for any key the session config does not pin.
  *
  * Diagnostic tool only — never part of the driver contract; the bench
  * artifact stays graft.Bench's.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRow(jobId: Int, desc: String, started: Long,
        var ended: Long = -1L, var nStages: Int = 0, var nTasks: Int = 0,
        var inputBytes: Long = 0, var shReadB: Long = 0, var shWriteB: Long = 0,
        var spillB: Long = 0, var rows: Long = 0,
        var names: List[String] = Nil)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRow]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRow(e.jobId, desc, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.ended = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.nStages += 1
            j.nTasks += si.numTasks
            val m = si.taskMetrics
            j.inputBytes += m.inputMetrics.bytesRead
            j.shReadB += m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead
            j.shWriteB += m.shuffleWriteMetrics.bytesWritten
            j.spillB += m.diskBytesSpilled
            j.rows += m.outputMetrics.recordsWritten
            j.names ::= si.name.take(90)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // identical warm-up to Bench so numbers compare
    Tables.byName.values.foreach(load => load(spark, sfDir).count())

    val names =
      if (args.nonEmpty) args.toSeq.filter(SparkEntry.queries.contains)
      else Seq("g06_pagerank_loop")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    // SPARK_GRAFT_EXPLAIN_DIR: also write <dir>/<query>.txt with the
    // formatted physical plan — the plans/r14 before/after evidence.
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      explainDir.foreach { d =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        try {
          val txt = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/$name.txt"),
            txt.getBytes("UTF-8"))
        } catch { case e: Throwable =>
          System.err.println(s"[profile] explain $name failed: ${e.getMessage}")
        }
        Caches.releaseAll(spark)
      }
      (1 to runs).foreach { r =>
        Caches.releaseAll(spark)
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        spark.sparkContext.setJobDescription(s"$name run$r")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val secs = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        // give the listener bus a moment to drain the final job's events
        Thread.sleep(200)
        println(f"== $name run$r: $secs%.3f s, ${jobs.size} jobs ==")
        if (r == runs) { // print the warm run's breakdown only
          def mb(b: Long) = f"${b / 1048576.0}%.1f"
          jobs.values.foreach { j =>
            val dur = if (j.ended > 0) (j.ended - j.started) / 1000.0 else -1.0
            println(f"  job ${j.jobId}%3d ${dur}%7.3f s stages=${j.nStages}%2d " +
              f"tasks=${j.nTasks}%4d in=${mb(j.inputBytes)}%8s MB " +
              f"shR=${mb(j.shReadB)}%8s MB shW=${mb(j.shWriteB)}%8s MB " +
              f"spill=${mb(j.spillB)}%6s MB | ${j.names.reverse.mkString("; ")}")
          }
        }
      }
    }
    spark.stop()
  }
}
