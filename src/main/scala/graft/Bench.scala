package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * A warm-up action runs first so JVM/classloader/codegen startup cost is
  * not attributed to the first query. Query failures print to stderr and
  * report -1 — never silently counted as a timing.
  * The file artifact adds per-query `layers` from [[Telemetry]]'s jobs in
  * the fastest run's window (not by job group: v14's `Future` cuts run on
  * pool threads with stale local properties).
  */
object Bench {
  /** The r15 pin of g06 at sf0.1 (s) that `anchor_norm_total` rescales
    * to. The co-partitioned PageRank kernel made g06 itself faster after
    * r15, so normalized totals from later code are NOT comparable with
    * r15 artifacts (the anchor shrank, inflating the rescale); the raw
    * `value` is unaffected. Artifacts record `anchor_ref_s`.
    */
  val AnchorRefR15 = 1.43

  /** A query's run times (s; -1 failed) and its fastest run's jobs. */
  final case class Result(name: String, times: Seq[Double],
      jobs: Option[Seq[Telemetry.JobStat]]) {
    def best: Double = times.filter(_ >= 0).minOption.getOrElse(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER: e.g. "local-cluster[4,8,4096]" to run every query
    // across SEPARATE executor JVMs — the certification that closures,
    // broadcasts and Kryo-serialized task state survive a real cluster
    // boundary, which local[n] never exercises (see SCALE.md).
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: touch EVERY table once so OS page cache + Spark codegen are
    // hot before timing (mirrors a long-lived cluster, not a cold JVM).
    // Warming only some tables let round-2 record a 5-10x cold-read tax on
    // the first documents/embeddings queries (j01 7.4 s vs 0.4 s steady).
    Tables.byName.values.foreach(load => load(spark, sfDir).count())
    // SPARK_GRAFT_QUERIES: comma-separated subset for controlled re-measures
    // (driver runs the full headline list). SPARK_GRAFT_RUNS: best-of-N.
    val names = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(csv) => csv.split(',').map(_.trim).filter(SparkEntry.queries.contains).toSeq
      case None      => SparkEntry.headline
    }
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    // SPARK_GRAFT_DRILL_KILL_MS (drill-only, with a local-cluster master):
    // force-kill one executor JVM that many ms into the timed loop — the
    // bench-under-fault certification (SCALE.md round 13). The audit line
    // below reports when the kill landed against the loop's end.
    val killer = sys.env.get("SPARK_GRAFT_DRILL_KILL_MS")
      .map(ms => new LocalCluster.Killer("bench", ms.toLong))
    val results = run(spark, sfDir, names, runs)
    // Drill audit line: whether the kill landed inside the timed loop and
    // whether the per-query release sweep left anything behind (tracked
    // registry entries, SQL cache, non-checkpointed persistent RDDs) —
    // the two properties the bench-under-fault drill asserts.
    killer.foreach { k =>
      val loopEndMs = System.currentTimeMillis()
      k.receipt(loopEndMs).foreach(f => System.err.println(s"[bench] drill: $f"))
      // rdds_pending is the state the FINAL query left (bounded — one
      // query's own caches); accumulation across queries would show up
      // here as a large count, because the per-run sweep above is the
      // only thing that drains it mid-loop.
      val pending = spark.sparkContext.getPersistentRDDs.values
        .count(!_.isCheckpointed)
      val drained = Caches.releaseAll(spark)
      System.err.println(s"[bench] drill: killedAtMs=${k.killedAtMs} " +
        s"loopEndMs=$loopEndMs rdds_pending=$pending " +
        s"tracked_drained=$drained failures=${results.count(_.best < 0)}")
    }
    // Persist the COMPLETE per-query JSON to a file: the driver captures a
    // bounded 2000-char stdout tail, which head-truncated the full map once
    // the headline grew past ~60 queries (r05 and r08 gate artifacts had
    // parsed:null). The file is the complete artifact regardless of how much
    // stdout survives.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    val (fileLine, stdoutLine) = render(results, runs, sfDir, outPath)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fileLine + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    // stop() BEFORE the headline print: Spark's shutdown can log to the
    // console appender, and the driver's tail parser wants the JSON as
    // the absolute last line of output (build.sbt strips sbt's own
    // decoration around it — see `run / outputStrategy`). A shutdown
    // hiccup must not eat the headline line — the measurements are
    // already complete at this point — so stop() failures go to stderr
    // and the JSON prints regardless.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop() failed: ${e.getMessage}")
    }
    println(stdoutLine)
  }

  /** The timed loop; each run's jobs are read after its timed region. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      runs: Int): Seq[Result] = {
    Telemetry.install(spark)
    // best of N runs per query (default 3): the first run carries
    // codegen-compile and JIT cost plus container noise (measured variance
    // up to 3x on the iterative queries, and round-2 showed container-wide
    // I/O noise can hit BOTH of 2 runs); the min is the steady-state number
    // a warm long-lived cluster sees.
    names.map { name =>
      val fn = SparkEntry.queries(name)
      val timed = (1 to runs).map { _ =>
        // drop operator-internal InMemoryRelations between runs: without
        // this, run 2 of a caching query (d03, g06, ...) measures a
        // cache hit while non-caching queries measure real recompute —
        // incomparable numbers. JIT/page-cache warmth is what min() keeps.
        // releaseAll also unpersists leaked RDD blocks (GraphX Graph()
        // persists MEMORY_ONLY outside the SQL cache): accumulated storage
        // blocks steal unified-memory execution room from later queries,
        // which an r4 bench sample showed as a diffuse slowdown on the
        // events/documents/embeddings queries that follow the graph ones.
        Caches.releaseAll(spark)
        val fromMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        // noop sink, NOT count(): count() lets Catalyst rewrite the plan
        // under Aggregate[count(1)] — outer joins against unique keys are
        // ELIMINATED (measured: d12's whole LSH chain vanished from its
        // count plan — 0.56 s at sf1 for a query whose digest runs ~18 s)
        // and projected-but-unreferenced expensive columns are pruned.
        // The noop sink evaluates every output row in full, which is what
        // a consumer of the query would pay.
        val secs = try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
        }
        secs -> Telemetry.jobsIn(spark, fromMs, System.currentTimeMillis())
      }
      Result(name, timed.map(_._1),
        timed.filter(_._1 >= 0).minByOption(_._1).flatMap(_._2))
    }
  }

  /** The artifact's `layers` object for one query (see the object doc). */
  private def layers(r: Result): String = {
    val times = r.times.mkString(""""runs_s":[""", ",", "]")
    r.jobs match {
      case Some(js) =>
        def sum(f: Telemetry.JobStat => Long) = js.map(f).sum
        // union of the job intervals: by start, each job adds the part of
        // its interval past the latest end so far
        val (inJobsMs, _) = js.sortBy(_.startMs).foldLeft((0L, 0L)) {
          case ((in, end), j) =>
            (in + math.max(0L, j.endMs - math.max(j.startMs, end)), end max j.endMs)
        }
        s"""{$times,"jobs":${js.size},"stages":${sum(_.stages)},""" +
          s""""tasks":${sum(_.tasks)},"input_bytes":${sum(_.inputBytes)},""" +
          s""""shuffle_read_bytes":${sum(_.shuffleReadBytes)},""" +
          s""""shuffle_write_bytes":${sum(_.shuffleWriteBytes)},""" +
          s""""spill_bytes":${sum(_.spillBytes)},"in_jobs_s":${inJobsMs / 1000.0}}"""
      case None if r.best >= 0 => s"""{$times,"ledger_complete":false}"""
      case None => s"{$times}"
    }
  }

  /** (file line, stdout line); the stdout line carries no layers. */
  def render(results: Seq[Result], runs: Int, sfDir: String,
      outPath: String): (String, String) = {
    val best = results.map(r => r.name -> r.best)
    val qs = best.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = best.map(_._2).filter(_ >= 0).sum
    // Protocol fields (VERDICT r10 item 2): every artifact records its
    // best-of-N and, when the g06 anchor ran in the same window, the
    // anchor time — so a cross-window diff can tell container-I/O drift
    // from a real regression without a separate calibration run.
    // anchor_norm_total (VERDICT r13 item 6): totals rescaled to a PINNED
    // reference anchor (g06 at sf0.1 in a calm window) so round-over-round
    // totals compare meaningfully even when one side was recorded in a hot
    // container window. Only emitted when the anchor ran in the same
    // window AND the run is at the anchor's own SF (sf0.1) — rescaling an
    // sf1/sf10 total by an sf0.1 anchor would assume the noise is
    // SF-independent, which container I/O spikes are not.
    // RE-PINNED r15 (VERDICT r14 item 6, a measurement-bug fix): the r13
    // pin of 4.50 s predates the r14 PageRank optimizations — g06 now
    // lands at ~1.43 s in a calm window (the committed r14 artifact), so
    // the stale pin inflated normalized totals ~40% against raw. The raw
    // `value` field is unchanged and stays the primary number; old
    // artifacts keep their old pin (the field records anchor_ref_s
    // precisely so cross-pin artifacts remain interpretable).
    val anchor = best.collectFirst {
      case ("g06_pagerank_loop", v) if v >= 0 =>
        val norm =
          if (sfDir.contains("sf0.1")) {
            val nt = best.map(_._2).filter(_ >= 0).sum * AnchorRefR15 / v
            s""","anchor_ref_s":$AnchorRefR15,"anchor_norm_total":$nt"""
          } else ""
        s""","anchor_s":$v$norm"""
    }.getOrElse("")
    val head =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs$anchor,""" +
        s""""queries":$qs,"sf":"$sfDir""""
    val line = head + "}"
    // The stdout line the driver actually parses must SURVIVE the 2000-char
    // tail (minus sbt's trailing "[success] Total time" line, ~70 chars). If
    // the full line fits, print it verbatim; otherwise print a compact line
    // with the slowest queries only, plus the count and file pointer — the
    // headline total is what BASELINE comparisons read, never the long tail
    // of sub-second entries this drops.
    val budget = 1800
    // paths come from env vars — escape them so a quote/backslash cannot
    // make the headline line invalid JSON (the exact failure this
    // fallback exists to prevent), and drop the file pointer rather than
    // blow the budget if someone supplies a pathological path
    def esc(v: String): String =
      v.replace("\\", "\\\\").replace("\"", "\\\"")
    val stdoutLine =
      if (line.length <= budget) line
      else {
        val fullPtr = {
          val p = s""""queries_full":"${esc(outPath)}","""
          if (p.length <= 300) p else ""
        }
        val fixed = s"""{"metric":"total","value":$total,"unit":"sec",""" +
          s""""runs":$runs$anchor,"queries_total":${best.size},$fullPtr""" +
          s""""sf":"${esc(sfDir)}","queries":{"""
        // slowest first, each entry kept while it still fits (the
        // first has no comma, hence the extra 1 of room)
        var room = budget - fixed.length - "}}".length + 1
        best.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + v }
          .filter { e =>
            val fits = e.length + 1 <= room
            if (fits) room -= e.length + 1
            fits
          }.mkString(fixed, ",", "}}")
      }
    val fileLine = results.map(r => s"\"${r.name}\":${layers(r)}")
      .mkString(s"""$head,"layers":{""", ",", "}}")
    (fileLine, stdoutLine)
  }
}
