package graft

/** Executor-loss recovery drill (SCALE.md evidence): on a 1000-executor
  * cluster, executor death is routine — Spark's contract is that lost
  * shuffle/task state is recomputed from lineage and the job still
  * produces the SAME result. `local[n]` can never exercise this (one JVM,
  * nothing to lose), so this main runs selected queries on a
  * `local-cluster` master, force-kills one executor JVM mid-query (at
  * half the clean run's wall time, with a [[LocalCluster.Killer]]
  * receipt), and compares the faulted result against a clean run of the
  * same query in the same session.
  *
  * Usage (via spark-submit from the packaged jar — sbt's layered
  * classloader cannot serialize lambdas for foreign executor JVMs, and a
  * raw `java -cp` + executor extraClassPath launch intermittently fails
  * deserializing cached/RDD plans with duplicate scala-library loaders;
  * `spark.jars` distribution is the reliable shape):
  * {{{
  * SPARK_SCALA_VERSION=2.13 /opt/spark/bin/spark-submit \
  *   --master 'local-cluster[3,4,4096]' --class graft.FaultDrill \
  *   <graft.jar> /root/testdata/sf0.01 q10_join_revenue_per_nation,d03_minhash_lsh
  * }}}
  *
  * Scope: queries whose state is lineage-recomputable. The iterative
  * graph loops use eager `localCheckpoint` (truncated lineage living ON
  * the executors) — surviving executor loss there requires reliable
  * `checkpoint()` to shared storage, the documented switch in SCALE.md;
  * they are deliberately not in the default drill list.
  */
object FaultDrill {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    // SPARK_GRAFT_RELIABLE_CKPT=<shared dir>: flips every Cut.cut in the
    // library from localCheckpoint to reliable checkpoint() — under it the
    // ITERATIVE loops become drillable too, so g06 joins the default list.
    val reliableDir = sys.env.get("SPARK_GRAFT_RELIABLE_CKPT")
    val names: Seq[String] =
      if (args.length > 1) args(1).split(',').toSeq.filter(SparkEntry.queries.contains)
      else Seq("q10_join_revenue_per_nation", "d03_minhash_lsh",
        "e12_heavy_hitters", "w13_grouped_topk", "t12_tfidf",
        "mm04_perceptual_neardup", "g23_scc",
        // round-5 session-3 paths: centroid-cell semantic dedup (cached
        // assignment + within-cell join) and the two-frame as-of window
        "d11_semdedup", "w18_asof_nearest") ++
        (if (reliableDir.isDefined) Seq("g06_pagerank_loop", "g14_label_propagation",
          // round-9 iterative additions: sketch-state HyperBall and the
          // landmark BFS — both Cut-per-round loops whose truncated
          // lineage only survives executor loss under reliable checkpoint
          "g27b_hyperball", "g28_landmark_harmonic",
          // round-10 iterative twins: capped k-core peeling and capped
          // Bellman-Ford — the same Cut-per-round shape
          "g15b_kcore_capped", "g17b_cost_distance_capped",
          // round-10 second wave: k-truss edge peeling, both arms
          "g30_ktruss", "g30b_ktruss_fanout",
          // round-11: hop-bounded Brandes — forward sigma levels and
          // backward delta levels are both Cut-per-round state
          "g31_landmark_betweenness", "g31b_betweenness_fanout",
          // round-11 second wave: hash-walk frontier is Cut-per-step;
          // the skip-gram fold rides the same walk levels — both arms
          // (uncapped g32 and fan-out g32b) drilled, like the g31 pair
          "g32_hash_walks", "g32b_hash_walks_fanout", "g33_skipgram_pairs")
         else Nil)
    val master =
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[3,4,4096]")
    val builder = GraftSession.builder(master, 12)
    reliableDir.foreach(d =>
      builder.config("spark.graft.reliableCheckpointDir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Order-free result digest: count + sum of per-row string hashes. */
    def digest(name: String): (Long, Long) = {
      val rows = SparkEntry.queries(name)(spark, sfDir).collect()
      (rows.length.toLong,
        rows.map(r => r.toString.hashCode.toLong).sum)
    }
    /** The registered executors (and the driver), by host:port. */
    def executors: Set[String] = spark.sparkContext.statusTracker
      .getExecutorInfos.map(i => s"${i.host}:${i.port}").toSet

    // Per query: a clean reference run, timed; then a faulted run whose
    // killer fires at half the clean run's wall time. The kill must land
    // before the faulted run ends (the receipt): a query that finishes
    // first would otherwise report a match that tested nothing. The timed
    // clean run must be as warm as the faulted one. So it is the query's
    // second: its first pays codegen and JIT (measured at 2-8x the warm
    // run on local-cluster[2,1,1024], enough for half of it to land after
    // the faulted run had ended). A warm clean run can still be slow (w18
    // measured 1794 ms clean, 544 ms faulted). A faulted run that ends
    // before its kill was itself a clean run, since the receipt stops the
    // killer. So its wall time re-times the kill, for at most 3 attempts.
    // And each query starts only once the killed executor's replacement
    // has registered: the killed one gone from the driver's list and the
    // count back (bounded wait, which fails the query if it runs out).
    val results = names.map { name =>
      Caches.releaseAll(spark)
      digest(name)
      Caches.releaseAll(spark)
      val t0 = System.currentTimeMillis()
      val clean = digest(name)
      val cleanMs = System.currentTimeMillis() - t0

      def faultedRun(attempt: Int, runMs: Long): Boolean = {
        Caches.releaseAll(spark)
        val before = executors
        val killer = new LocalCluster.Killer(name, runMs / 2)
        val f0 = System.currentTimeMillis()
        val faulted =
          try digest(name)
          catch { case e: Throwable =>
            System.err.println(s"[drill] $name FAILED after kill: ${e.getMessage}")
            (-1L, 0L)
          }
        val endMs = System.currentTimeMillis()
        val receipt = killer.receipt(endMs)
        if (killer.killedAtMs == -1L && faulted == clean && attempt < 3) {
          System.err.println(s"[drill] $name: run ended at +${endMs - f0} ms, " +
            s"before its kill at +${runMs / 2} ms; re-timed")
          faultedRun(attempt + 1, endMs - f0)
        } else {
          def replaced = {
            val now = executors
            !before.subsetOf(now) && now.size >= before.size
          }
          val deadline = System.currentTimeMillis() + 60000
          while (killer.killedAtMs > 0 && !replaced &&
              System.currentTimeMillis() < deadline) Thread.sleep(100)
          val recovered = killer.killedAtMs <= 0 || replaced
          if (!recovered) System.err.println(
            s"[drill] $name: killed executor not replaced within 60 s " +
              s"(before=${before.size} now=${executors.size}, driver included)")
          System.err.println(
            s"[drill] $name clean=$clean ($cleanMs ms) faulted=$faulted " +
              s"(${endMs - f0} ms, kill due at +${runMs / 2} ms) " +
              s"match=${clean == faulted} receipt=" +
              receipt.getOrElse(s"kill landed at +${killer.killedAtMs - f0} ms"))
          clean == faulted && clean._1 >= 0 && receipt.isEmpty && recovered
        }
      }
      name -> faultedRun(1, cleanMs)
    }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"fault_drill","survived":${results.count(_._2)},"of":${results.size},"queries":$qs}""")
    spark.stop()
    // worker/executor shutdown can leave non-daemon threads; be decisive
    sys.exit(if (results.forall(_._2)) 0 else 1)
  }
}
