package graft.graph

import graft.Caches.Tracked
import org.apache.spark.HashPartitioner
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import scala.reflect.ClassTag

/** G6/G7 — PageRank (reference `notebooks/4_graphx.ipynb:836-908`,
  * SURVEY §2.10 G6).
  *
  * The reference hand-rolls PageRank as a driver-side loop of
  * join→aggregate→left-join→project with amount-normalized edge weights:
  * `PR_new = (1-α)·Σ(PR_src·w) + α/N`, α = 0.15, 5 iterations, dangling
  * vertices kept at the α/N floor via left_outer + coalesce(0)
  * (`4_graphx.ipynb:873-882`). That formulation is deterministic and
  * oracle-checkable, so it is the primary implementation here;
  * GraphX's `staticPageRank` is offered alongside ([[graphxPageRank]])
  * but is NOT numerically identical (out-degree normalization, different
  * dangling-mass handling — SURVEY §2.10).
  *
  * Every loop of the family (g06/g06b/g07/g11 global, g16/g16b
  * personalized) runs on ONE kernel, [[rankRdd]], over pair RDDs under a
  * single `HashPartitioner` sized by `spark.sql.shuffle.partitions`. The
  * static sides are partitioned once and persisted: the weight table as
  * an adjacency RDD `(src, Array[(dst, weight)])`, the vertex side as
  * `(id, (reset, pr₀))`. An iteration is `rank ⋈ adj` (narrow: both sides
  * carry the partitioner), one `reduceByKey` shuffle of the
  * contributions, and `vertices ⟕ contribs` (narrow again), ended by an
  * eager [[graft.Cut.cutRdd]] — one shuffle, one job per iteration.
  *
  * The global loops' vertex side is lazy: the distinct `user_id`s come
  * from the bare events scan (no exchange, so AQE runs no stage job while
  * the query is built) through one `reduceByKey` straight into the
  * kernel's partitioner, persisted. N is one labelled `count()` of that
  * RDD — the only action before the iterations — and it also fills the
  * cache every iteration reads. reset = α/N and pr₀ = 1/N are mapped onto
  * the cached ids, the same doubles as `lit(α) / col("n")` gave.
  *
  * Why RDDs, not DataFrames: on Spark 4.1 a `Dataset.localCheckpoint`
  * plan reports unknown partitioning, so a DataFrame loop that cuts every
  * iteration is re-planned every iteration — AQE broadcasts the weight
  * table and the contributions afresh, 4 jobs per iteration. The RDD cut
  * keeps the RDD and with it the partitioner, so the static sides never
  * move again.
  *
  * Cuts: each iteration's eager cut materializes the rank and truncates
  * its lineage, so the next iteration reads it straight from the blocks
  * and the driver's lineage stays one iteration deep. Superseded
  * checkpoint blocks are freed by the ContextCleaner as the old RDDs are
  * GC'd, so memory is bounded by GC cadence; the adjacency and vertex
  * RDDs are unpersisted as soon as the last iteration is cut, so a
  * consumer that only calls `Caches.release` keeps nothing behind. Set
  * `spark.graft.reliableCheckpointDir` and every iteration checkpoints
  * to SHARED storage instead — the executor-loss switch, drilled
  * end-to-end by [[graft.FaultDrill]] (kill an executor mid-loop,
  * digest-identical result).
  */
object PageRankOps {
  val Alpha = 0.15
  val Iterations = 5

  /** The deterministic loop. Returns (id, pagerank) unrounded. */
  def pageRankLoop(s: SparkSession, dir: String,
      iterations: Int = Iterations): DataFrame =
    pageRankLoopWith(s, dir, iterations, CoGraph.normalizedWeights(s, dir))

  /** Global PageRank over a caller-supplied (src, dst, weight) table:
    * reset α/N and pr₀ = 1/N on every vertex, over the lazy vertex side
    * of the object doc — no driver collect, one labelled count.
    */
  def pageRankLoopWith(s: SparkSession, dir: String,
      iterations: Int, w: DataFrame): DataFrame = {
    val ids = Tables.events(s, dir).select(col("user_id")).rdd
      .map(r => (r.getLong(0), ()))
      .reduceByKey(partitioner(s), (a, _) => a)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n =
      try labelledCount(ids, "PageRank vertex count N")
      catch { case e: Throwable => ids.unpersist(blocking = false); throw e }
    toFrame(s, rankRdd(w, ids, iterations)(_ => (Alpha / n, 1.0 / n)))
  }

  /** `rdd.count()` as a job described by `label` (Spark's job-description
    * property, restored afterwards), so the builder's one eager action is
    * named in listeners and traces.
    */
  private def labelledCount(rdd: RDD[_], label: String): Long = {
    val sc = rdd.sparkContext
    val key = "spark.job.description"
    val prev = sc.getLocalProperty(key)
    sc.setJobDescription(label)
    try rdd.count() finally sc.setLocalProperty(key, prev)
  }

  private def toFrame(s: SparkSession, rank: RDD[(Long, Double)]): DataFrame = {
    import s.implicits._
    rank.toDF("id", "pagerank")
  }

  /** The kernel's one partitioner, sized like a SQL shuffle. */
  private def partitioner(s: SparkSession) =
    new HashPartitioner(s.sessionState.conf.numShufflePartitions)

  /** The co-partitioned kernel (see object doc): `w` is (src, dst,
    * weight); `base` is the persisted vertex side under [[partitioner]],
    * and `init` maps its value to (reset, pagerank₀). Iterates
    * `pr ← (1-α)·Σ(pr_src·w) + reset` and returns the cut final rank,
    * partitioned like the adjacency. `base` is unpersisted on the way out.
    */
  private[graft] def rankRdd[V: ClassTag](w: DataFrame, base: RDD[(Long, V)],
      iterations: Int)(init: V => (Double, Double)): RDD[(Long, Double)] = {
    val s = w.sparkSession
    try {
      require(iterations >= 1, s"iterations must be >= 1, got $iterations")
      val adj = w.select(col("src"), col("dst"), col("weight")).rdd
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupByKey(partitioner(s)).mapValues(_.toArray)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val vertices = base.mapValues(init)
        var pr = vertices.mapValues(_._2)
        for (_ <- 1 to iterations)
          pr = graft.Cut.cutRdd(step(pr, adj, vertices), s)
        pr
      } finally adj.unpersist(blocking = false)
    } finally {
      // the cut final rank no longer reads either static side
      base.unpersist(blocking = false)
    }
  }

  /** One iteration before its cut. With `pr`, `adj` and `vertices` under
    * one partitioner, both joins are narrow and the contributions'
    * `reduceByKey` is the only shuffle; the result keeps the partitioner.
    */
  private[graft] def step(pr: RDD[(Long, Double)],
      adj: RDD[(Long, Array[(Long, Double)])],
      vertices: RDD[(Long, (Double, Double))]): RDD[(Long, Double)] = {
    val part = adj.partitioner.get
    val contribs = pr.join(adj, part)
      .flatMap { case (_, (p, out)) =>
        out.iterator.map { case (dst, weight) => (dst, p * weight) }
      }
      .reduceByKey(part, _ + _)
    vertices.leftOuterJoin(contribs, part).mapValues {
      case ((reset, _), c) => (1.0 - Alpha) * c.getOrElse(0.0) + reset
    }
  }

  /** g06 query — PR scores rounded to 10 dp (float-drift-proof vs the
    * unrolled DuckDB oracle), ordered by id.
    */
  def q(s: SparkSession, dir: String): DataFrame =
    pageRankLoop(s, dir)
      .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
      .orderBy(col("id"))

  /** g06b — g06 on the bucket-capped edge build
    * ([[CoGraph.cappedNormalizedWeights]]): the g-family's scale twin.
    * The loop, vertex set, damping, and dangling handling are IDENTICAL
    * to g06 — only the weight build caps each hour bucket at `cap`
    * smallest co-active users (g22's proven GroupedTopK guard) before
    * its self-join, so per-iteration cost is bounded by buckets·cap²
    * edges a priori. Where no bucket exceeds `cap`, g06b ≡ g06
    * bit-for-bit (Round9OpsSpec pins it; true at every gate SF). The sf1
    * scale-up is the motivating case: its replication densifies buckets
    * to 450 users (edge set ×103, the entire g-family sf1 slope), which
    * the cap turns back into a linear scan + bounded join.
    */
  def cappedQ(s: SparkSession, dir: String,
      cap: Int = NeighborAgg.BucketCap): DataFrame =
    pageRankLoopWith(s, dir, Iterations,
      CoGraph.cappedNormalizedWeights(s, dir, cap))
      .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
      .orderBy(col("id"))

  /** g07 — rank analytics (`4_graphx.ipynb:1059-1104`): top-10 by PR. */
  def topQ(s: SparkSession, dir: String): DataFrame =
    pageRankLoop(s, dir)
      .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
      .orderBy(col("pagerank").desc, col("id"))
      .limit(10)

  /** Unrolled DuckDB oracle: pr0..prN as chained CTEs over the weight CTE
    * (DuckDB's recursive CTEs can't aggregate over the recursive
    * reference, so the fixed iteration count is unrolled — it IS fixed in
    * the reference too).
    */
  private def prCtes(iterations: Int,
      weightsCte: String = CoGraph.weightsCte): String = {
    val n = "(SELECT count(*) FROM vertices)"
    val levels = (1 to iterations).map { k =>
      s"""pr$k AS (
         |  SELECT v.id,
         |         0.85 * coalesce(c.contrib, 0) + 0.15 / $n AS pagerank
         |  FROM vertices v LEFT JOIN (
         |    SELECT w.dst AS id, sum(p.pagerank * w.weight) AS contrib
         |    FROM pr${k - 1} p JOIN weights w ON p.id = w.src
         |    GROUP BY 1) c ON v.id = c.id)""".stripMargin
    }
    s"""$weightsCte,
       |vertices AS (SELECT DISTINCT user_id AS id FROM events),
       |pr0 AS (SELECT id, 1.0 / $n AS pagerank FROM vertices),
       |${levels.mkString(",\n")}""".stripMargin
  }

  def qSql(iterations: Int = Iterations): String =
    s"""WITH ${prCtes(iterations)}
       |SELECT id, round(pagerank, 10) AS pagerank
       |FROM pr$iterations ORDER BY id""".stripMargin

  /** [[cappedQ]]'s oracle: identical unrolled loop over the capped
    * weights mirror.
    */
  def cappedQSql(iterations: Int = Iterations): String =
    s"""WITH ${prCtes(iterations, CoGraph.cappedWeightsCte())}
       |SELECT id, round(pagerank, 10) AS pagerank
       |FROM pr$iterations ORDER BY id""".stripMargin

  def topQSql(iterations: Int = Iterations): String =
    s"""WITH ${prCtes(iterations)}
       |SELECT id, round(pagerank, 10) AS pagerank
       |FROM pr$iterations ORDER BY pagerank DESC, id LIMIT 10""".stripMargin

  /** "Confirmed fraud" threshold: error-event count at/above this marks a
    * confirmed offender; below it (but in the graph) is mule territory.
    */
  val ConfirmedErrT = 13

  /** THE confirmed-offender seed set — single definition shared by mules
    * (exclusion), fraudDistance (BFS seeds) and personalized PageRank
    * (teleport targets), with [[confirmedSeedsSql]] as its one SQL mirror.
    */
  def confirmedOffenders(s: SparkSession, dir: String): DataFrame =
    graft.Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).as("n_err"))
      .filter(col("n_err") >= ConfirmedErrT)
      .select("id")

  /** DuckDB fragment: the seed-set subquery body (`SELECT … id`). */
  val confirmedSeedsSql: String =
    s"""SELECT user_id AS id FROM events
       |          WHERE event_type = 'error'
       |          GROUP BY 1 HAVING count(*) >= $ConfirmedErrT""".stripMargin

  /** g11 — "mules" (reference `4_graphx.ipynb:1059-1104`, SURVEY §2.10 G7):
    * entities connected to the fraud graph but BELOW the confirmed-offender
    * threshold, ranked by PageRank — high centrality without heavy direct
    * activity is the money-mule heuristic. (Exclusion must use a DIFFERENT
    * signal than edge construction: excluding every error-event user — the
    * graph's entire vertex support — would leave only the α/N floor and an
    * id sort. The threshold split keeps the centrality ranking meaningful.)
    */
  def mules(s: SparkSession, dir: String): DataFrame = {
    val confirmed = confirmedOffenders(s, dir)
    // In-graph membership is STRUCTURAL — a semi-join against the edge
    // set's distinct sources (the directed edge set carries both
    // orientations, so src ∪ dst = src) — not an epsilon over the α/N
    // PageRank floor, which would silently break the moment α, N, or
    // iteration count changes. The ONE cached weight table feeds both the
    // membership set and the PR loop (rebuilding it is g06's single most
    // expensive stage).
    val w = CoGraph.normalizedWeights(s, dir)
      .repartition(col("src")).tracked
    val inGraph = w.select(col("src").as("id")).distinct()
    pageRankLoopWith(s, dir, Iterations, w)
      .join(inGraph, Seq("id"), "left_semi")
      .join(confirmed, Seq("id"), "left_anti")
      .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
      .orderBy(col("pagerank").desc, col("id"))
      .limit(10)
  }

  def mulesSql(iterations: Int = Iterations): String =
    s"""WITH ${prCtes(iterations)}
       |SELECT id, round(pagerank, 10) AS pagerank
       |FROM pr$iterations
       |WHERE id IN (SELECT DISTINCT src FROM edge_amount)
       |  AND id NOT IN ($confirmedSeedsSql)
       |ORDER BY pagerank DESC, id LIMIT 10""".stripMargin

  /** Result size for [[personalizedPageRank]]. */
  val PprTopK = 20

  /** g16 — PERSONALIZED PageRank from the confirmed-offender seed set:
    * the teleport lands only on seeds (α/|S| each, zero elsewhere), so a
    * vertex's score is its stationary probability of a random walk that
    * always restarts AT KNOWN FRAUD — "guilt by association", the ranking
    * a fraud analyst wants where global PageRank measures mere
    * centrality. Complements g13's hop distance with a weighted,
    * decay-aware version of the same question.
    *
    * Same kernel as g06 ([[rankRdd]]: one shuffle and one job per
    * iteration), with a different vertex side: the reset is α/|S| on
    * seeds and 0 elsewhere (pr₀ = 1/|S| on seeds), |S| arriving by
    * broadcasting the 1-row seed count — no driver collect. Unreached
    * vertices stay at exactly 0.0 and are filtered; output is the
    * top-[[PprTopK]].
    */
  def personalizedPageRank(s: SparkSession, dir: String,
      iterations: Int = Iterations): DataFrame =
    pprOn(s, dir, iterations, CoGraph.normalizedWeights(s, dir))

  /** g16b — g16 on the bucket-capped edge build: same twin relation as
    * [[cappedQ]]/g06b (identical loop, seeds, reset mass, and top-k; only
    * the weight build caps storm buckets via GroupedTopK), closing the
    * LAST member of the iterative family still bound to the uncapped sf1
    * edge densification. Equal to g16 bit-for-bit where no bucket
    * exceeds the cap — every gate SF (Round9OpsSpec).
    */
  def g16bCappedPpr(s: SparkSession, dir: String,
      cap: Int = NeighborAgg.BucketCap): DataFrame =
    pprOn(s, dir, Iterations, CoGraph.cappedNormalizedWeights(s, dir, cap))

  private def pprOn(s: SparkSession, dir: String,
      iterations: Int, w: DataFrame): DataFrame = {
    val seeds = confirmedOffenders(s, dir)
    val nSeeds = seeds.agg(count(lit(1)).as("ns"))
    // (id, reset, pr0): reset = α/|S| on seeds else 0
    val base = Components.vertices(s, dir)
      .join(seeds.withColumn("is_seed", lit(1)), Seq("id"), "left_outer")
      .crossJoin(broadcast(nSeeds))
      .select(col("id"),
        when(col("is_seed").isNotNull, lit(Alpha) / col("ns"))
          .otherwise(lit(0.0)).as("reset"),
        when(col("is_seed").isNotNull, lit(1.0) / col("ns"))
          .otherwise(lit(0.0)).as("pagerank"))
      .rdd.map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2))))
      .partitionBy(partitioner(s))
      .persist(StorageLevel.MEMORY_AND_DISK)
    toFrame(s, rankRdd(w, base, iterations)(identity))
      .filter(col("pagerank") > 0)
      .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
      .orderBy(col("pagerank").desc, col("id"))
      .limit(PprTopK)
  }

  def pprSql(iterations: Int = Iterations,
      weightsCte: String = CoGraph.weightsCte): String = {
    val ns = "(SELECT count(*) FROM seeds)"
    val levels = (1 to iterations).map { k =>
      s"""ppr$k AS (
         |  SELECT b.id,
         |         0.85 * coalesce(c.contrib, 0) + b.reset AS pagerank
         |  FROM base b LEFT JOIN (
         |    SELECT w.dst AS id, sum(p.pagerank * w.weight) AS contrib
         |    FROM ppr${k - 1} p JOIN weights w ON p.id = w.src
         |    GROUP BY 1) c ON b.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $weightsCte,
       |vertices AS (SELECT DISTINCT user_id AS id FROM events),
       |seeds AS ($confirmedSeedsSql),
       |base AS (
       |  SELECT v.id,
       |    CASE WHEN s.id IS NOT NULL THEN 0.15 / $ns ELSE 0.0 END AS reset,
       |    CASE WHEN s.id IS NOT NULL THEN 1.0 / $ns ELSE 0.0 END AS pagerank
       |  FROM vertices v LEFT JOIN seeds s ON v.id = s.id),
       |ppr0 AS (SELECT id, pagerank FROM base),
       |$levels
       |SELECT id, round(pagerank, 10) AS pagerank
       |FROM ppr$iterations WHERE pagerank > 0
       |ORDER BY pagerank DESC, id LIMIT $PprTopK""".stripMargin
  }

  /** The idiomatic GraphX alternative (`staticPageRank`) — top-50 by
    * score, rounded to 10 dp like g06/g07 so the unrolled SQL oracle's
    * float-order drift is absorbed. Numerically DIFFERENT from g06 by
    * design (out-degree normalization instead of amount weights, init
    * rank 1.0 instead of 1/N, final sink-mass rescale), which is exactly
    * why it gets its own oracle: [[graphxSql]] mirrors the public GraphX
    * `PageRank.runWithOptions` op-for-op — edge weight `1/outDegree(src)`
    * (`mapTriplets(1.0 / e.srcAttr)`), per-iteration
    * `α + (1−α)·Σ incoming`, and the SPARK-18847 `normalizeRankSum`
    * correction (global rescale so ranks sum to |V|, compensating mass
    * lost to sink vertices).
    */
  def graphxPageRank(s: SparkSession, dir: String): DataFrame =
    graphxOn(s, dir, CoGraph.edges(s, dir))

  /** g08b — GraphX `staticPageRank` over the bucket-capped edge set
    * ([[CoGraph.cappedEdges]]): the native-GraphX member of the capped
    * iterative family (g06b/g16b's sibling). Same Pregel loop, vertex
    * universe, damping, and rescale — only the edge build caps storm
    * buckets, so edge-partition sizes are bounded a priori. Equal to g08
    * bit-for-bit where no bucket exceeds the cap (every gate SF,
    * Round9OpsSpec).
    */
  def g08bCappedGraphxPageRank(s: SparkSession, dir: String,
      cap: Int = NeighborAgg.BucketCap): DataFrame =
    graphxOn(s, dir, CoGraph.cappedEdges(s, dir, cap))

  private def graphxOn(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val session = s
    import session.implicits._
    val edgeRdd = edges
      .select(col("src"), col("dst")).as[(Long, Long)]
      .rdd.map { case (a, b) => Edge(a: VertexId, b: VertexId, 1.0) }
    val vtxRdd = Components.vertices(s, dir)
      .select(col("id")).as[Long].rdd.map(id => (id, 1.0))
    val g = Graph(vtxRdd, edgeRdd)
    g.staticPageRank(Iterations, Alpha).vertices
      .toDF("id", "pagerank")
      .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
      .orderBy(col("pagerank").desc, col("id"))
      .limit(50)
  }

  /** g08's unrolled DuckDB oracle — GraphX `staticPageRank` semantics
    * transcribed from the public Spark source (graphx/lib/PageRank.scala,
    * verified against the 4.1.2 bytecode): out-degree-normalized weights,
    * rank₀ = 1.0 everywhere, rankₖ = α + (1−α)·Σ(rankₖ₋₁/outdeg) over
    * in-edges, then one global rescale to make Σrank = |V|.
    */
  def graphxSql(iterations: Int = Iterations,
      edgesCte: String = CoGraph.edgesCte): String = {
    val levels = (1 to iterations).map { k =>
      s"""gpr$k AS (
         |  SELECT v.id, 0.15 + 0.85 * coalesce(c.s, 0) AS pagerank
         |  FROM vertices v LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.pagerank / o.d) AS s
         |    FROM gpr${k - 1} p JOIN edges e ON p.id = e.src
         |    JOIN outdeg o ON o.src = e.src
         |    GROUP BY 1) c ON v.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |vertices AS (SELECT DISTINCT user_id AS id FROM events),
       |outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
       |gpr0 AS (SELECT id, 1.0 AS pagerank FROM vertices),
       |$levels,
       |factor AS (SELECT (SELECT count(*) FROM vertices) / sum(pagerank)
       |           AS f FROM gpr$iterations)
       |SELECT id, round(pagerank * f, 10) AS pagerank
       |FROM gpr$iterations CROSS JOIN factor
       |ORDER BY round(pagerank * f, 10) DESC, id LIMIT 50""".stripMargin
  }

  /** Top-k per role for [[g18Hits]]. */
  val HitsTopK = 10

  /** g18 — HITS hub/authority scores (Kleinberg) over the customer →
    * supplier purchase bipartite (distinct `(o_custkey, l_suppkey)` pairs
    * from orders ⋈ lineitem): hubs are customers who buy from many
    * authoritative suppliers; authorities are suppliers bought from by
    * many strong hubs. The mutually-recursive complement of g06/g16's
    * single-score PageRank family — the right lens on BIPARTITE structure,
    * where PageRank's one score conflates the two roles.
    *
    * Two sweeps UNNORMALIZED with unit edge weights and hub₀ = 1, so every
    * score is an INTEGER path count (auth₁ = in-degree, hub₁ = Σ auth₁,
    * auth₂ = Σ hub₁, hub₂ = Σ auth₂): per-iteration normalization only
    * rescales the ranking, and dropping it makes the whole loop exact
    * BIGINT arithmetic — no float summation discipline needed, unlike the
    * PageRank oracles' round(…,10) envelope.
    *
    * Scale: the edge list is cached and pre-partitioned on `src` once;
    * each sweep is two shuffle aggregates over it (the g06 discipline);
    * the per-role top-k plans TakeOrderedAndProject, never a global sort.
    */
  def g18Hits(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
      .repartition(col("src")).tracked
    val auth1 = edges.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("a"))
    val hub1 = edges.join(auth1, col("dst") === col("id"))
      .groupBy("src").agg(sum(col("a")).as("h"))
    val auth2 = edges.join(hub1, Seq("src"))
      .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a"))
    val hub2 = edges.join(auth2, col("dst") === col("id"))
      .groupBy("src").agg(sum(col("a")).as("h"))
    val topHubs = hub2
      .select(lit("hub").as("role"), col("src").as("id"),
        col("h").cast("long").as("score"))
      .orderBy(col("score").desc, col("id")).limit(HitsTopK)
    val topAuths = auth2
      .select(lit("authority").as("role"), col("id"),
        col("a").cast("long").as("score"))
      .orderBy(col("score").desc, col("id")).limit(HitsTopK)
    topHubs.unionByName(topAuths)
      .orderBy(col("role"), col("score").desc, col("id"))
  }

  val g18Sql: String =
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |auth1 AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS a
       |          FROM edges GROUP BY 1),
       |hub1 AS (SELECT e.src, CAST(sum(a.a) AS BIGINT) AS h
       |         FROM edges e JOIN auth1 a ON e.dst = a.id GROUP BY 1),
       |auth2 AS (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
       |          FROM edges e JOIN hub1 h ON e.src = h.src GROUP BY 1),
       |hub2 AS (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
       |         FROM edges e JOIN auth2 a ON e.dst = a.id GROUP BY 1)
       |SELECT * FROM (
       |  SELECT 'hub' AS role, id, h AS score FROM (
       |    SELECT id, h FROM hub2 ORDER BY h DESC, id LIMIT $HitsTopK)
       |  UNION ALL
       |  SELECT 'authority' AS role, id, a AS score FROM (
       |    SELECT id, a FROM auth2 ORDER BY a DESC, id LIMIT $HitsTopK))
       |ORDER BY role, score DESC, id""".stripMargin
}
