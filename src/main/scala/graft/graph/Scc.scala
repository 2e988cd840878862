package graft.graph

import graft.Caches.Tracked
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** g23 — STRONGLY connected components over a directed fraud graph: the
  * directed sibling of g03's undirected CC (SURVEY §2.10 G3), detecting
  * mutual-reachability rings — "A's fraud activity leads to B and B's
  * leads back to A" — the cycle structure money-mule / collusion analysis
  * looks for, which undirected CC cannot see (any shared hour merges
  * components regardless of direction).
  *
  * The directed edge set is the ARRIVAL CHAIN: within each error-activity
  * hour bucket, one edge from the k-th to the (k+1)-th arriving user
  * (by first error ts in the bucket, ties by id). |bucket|−1 edges per
  * bucket instead of the co-activity clique's |bucket|² — time flows
  * FORWARD inside a bucket, so mutual reachability requires cycles across
  * buckets: exactly the repeated-co-arrival structure that distinguishes
  * an organized ring from coincidental co-activity.
  *
  * Engine: GraphX `stronglyConnectedComponents` (label = lowest vertex id
  * in the SCC — the same canonical label the oracle's min-over-mutual
  * closure computes, so the check is EXACT). Oracle: recursive
  * reachability closure + mutual intersection in DuckDB — feasible at the
  * gate SFs; at sf1-density the closure hits the same Σcomp² wall as
  * g03's (SCALE.md "oracle-side limits"), where the engine side keeps
  * running (Pregel peels phases in parallel per superstep).
  *
  * sf≥1 oracle (round 13): the SINGLE-PASS min-label spelling is not
  * SOUND for SCC — a label reaching a vertex proves one-directional
  * reachability only, and taking componentwise minima of (forward,
  * backward) labels merges vertices that merely share an ancestor and a
  * descendant without being mutually reachable (the DAG a→b, a→c, b→d,
  * c→d: b and c get identical (min-ancestor, min-descendant) = (a, d)
  * yet sit in different SCCs) — and the monolithic recursive `reach`
  * closure is Σ|SCC|² pairs (225M at sf1, where the chain graph is ONE
  * 15,000-vertex SCC). The SOUND staged mirror that replaced both is
  * the FB/coloring decomposition ([[StagedOracles]] g23Prog — nested
  * forward max-color fixpoint + backward within-class closure per peel
  * round, V-row state, never a reach-pair table), exact at sf0.01 and
  * sf1. Independent third spelling: Round5bOpsSpec's Floyd–Warshall
  * mutual-reachability check pinning labels, sizes, and the
  * several-components/nontrivial-ring shape.
  *
  * Scale: the chain build is one bounded per-bucket window (rank within
  * an hour's co-active users — bucket-bounded, never a global sort) and
  * one self-join on (bucket, rank+1). GraphX SCC is the heavy iterative
  * op here (forward+backward coloring phases); the numIter budget bounds
  * the outer peeling loop and is diameter-bounded in practice — the
  * fixpoint is oracle-asserted at the gate SFs.
  */
object Scc {

  /** Outer-phase budget for GraphX SCC (each phase peels the SCCs whose
    * colors converged; gate-SF graphs finish in far fewer).
    */
  private val SccIters = 50

  /** Directed arrival-chain edges (src arrived immediately before dst in
    * the bucket).
    */
  def chainEdges(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    val seq = act.withColumn("rk",
      row_number().over(Window.partitionBy("hour_epoch")
        .orderBy(col("first_ts"), col("user_id"))))
    seq.as("a").join(seq.as("b"),
        col("a.hour_epoch") === col("b.hour_epoch")
          && col("b.rk") === col("a.rk") + 1
          && col("a.user_id") =!= col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      .distinct()
  }

  /** [[q]]'s partition count: one per ~250k edges plus one, capped at
    * `maxParts`. The min is taken in Long so an edge count past
    * Int.MaxValue·250k (~5.4e14) caps instead of wrapping negative.
    */
  private[graft] def sccParts(edges: Long, maxParts: Int): Int =
    math.max(1L, math.min(edges / 250000L + 1, maxParts.toLong)).toInt

  /** g23 query — (id, scc, scc_size) for every chain-touched vertex;
    * scc = lowest member id.
    */
  def q(s: SparkSession, dir: String): DataFrame = {
    val session = s
    import session.implicits._
    val e = chainEdges(s, dir).tracked
    // r15 (guide §2.2): size the Pregel graph's partitions by EDGE
    // VOLUME, not by spark.sql.shuffle.partitions — SCC runs dozens of
    // supersteps (forward+backward coloring per peel round), and every
    // superstep pays per-partition scheduling/serialization on what are
    // byte-tiny frontiers for most of the run. Data-derived, so a
    // 100 TB chain graph still gets thousands of partitions while the
    // certification SFs stop paying 32-way overhead per superstep.
    // Row target: ~250k edges/partition (~4 MB packed; GraphX's in-mem
    // expansion keeps the working set per task in the tens of MB).
    val parts = sccParts(e.count(), s.sparkContext.defaultParallelism * 32)
    val edgeRdd = e.select(col("src"), col("dst")).as[(Long, Long)]
      .rdd.coalesce(parts)
      .map { case (a, b) => Edge(a: VertexId, b: VertexId, 1) }
    val vtxRdd = e.select(col("src")).unionAll(e.select(col("dst")))
      .distinct().as[Long].rdd.coalesce(parts).map(id => (id, ()))
    val labels = Graph(vtxRdd, edgeRdd)
      .stronglyConnectedComponents(SccIters)
      .vertices.toDF("id", "scc")
    val sizes = labels.groupBy(col("scc"))
      .agg(count(lit(1)).as("scc_size"))
    labels.join(sizes, Seq("scc"))
      .select(col("id"), col("scc"), col("scc_size"))
      .orderBy(col("id"))
  }

  /** Window for [[g24PingPong]]'s return leg (6 h in µs), also the grid
    * width — so a leg-1 edge covers exactly 2 candidate buckets (w07's
    * point-in-interval discipline).
    */
  private val PingWindowUs = 21600000000L

  /** Directed co-activity INSTANCES with event time: one row per
    * (bucket, earlier → later user pair), timed at the LATER user's first
    * arrival — g01's co-occurrence edge set given the direction time
    * already defines, plus the timestamp temporal motifs need. Bucket-
    * quadratic like g01 (the documented shape); at 100 TB the per-bucket
    * cap discipline is g22's, applied before this fan-out.
    */
  def chainInstances(s: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("user_id"))
      .agg(min(unix_micros(col("ts").cast("timestamp"))).as("first_us"))
    act.as("a").join(act.as("b"),
        col("a.hour_epoch") === col("b.hour_epoch")
          && col("a.user_id") =!= col("b.user_id")
          && (col("a.first_us") < col("b.first_us")
            || (col("a.first_us") === col("b.first_us")
              && col("a.user_id") < col("b.user_id"))))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"),
        col("b.first_us").as("t_us"))
  }

  /** g24 — TEMPORAL MOTIF: the a→b→a "ping-pong" (a hands off to b, b
    * hands back to a within [[PingWindowUs]]) — the round-trip pattern
    * money-mule detection keys on; a static motif find (the façade's
    * `(a)-[]->(b); (b)-[]->(a)`) cannot express the time constraint,
    * which is the whole signal: a reciprocal edge three weeks later is
    * noise, one within two hours is a loop.
    *
    * Scale: Spark plans the raw `t2 > t1 AND t2 <= t1 + W` self-join as
    * BNLJ; here leg 1 explodes onto the two [[PingWindowUs]] grid
    * buckets its window covers and leg 2 keys at its own bucket, so the
    * join is an equi-join on (pair, bucket) with the time test residual
    * (w07's bounded-bucket discipline — provably covers the window).
    */
  def g24PingPong(s: SparkSession, dir: String): DataFrame = {
    val inst = chainInstances(s, dir).tracked
    val leg1 = inst.select(col("src"), col("dst"), col("t_us").as("t1_us"),
      explode(sequence(expr(s"t_us div $PingWindowUs"),
        expr(s"t_us div $PingWindowUs") + 1)).as("bucket"))
    val leg2 = inst.select(col("src").as("r_src"), col("dst").as("r_dst"),
      col("t_us").as("t2_us"),
      expr(s"t_us div $PingWindowUs").as("r_bucket"))
    leg1.join(leg2,
        col("dst") === col("r_src") && col("src") === col("r_dst")
          && col("bucket") === col("r_bucket"))
      .filter(col("t2_us") > col("t1_us")
        && col("t2_us") <= col("t1_us") + PingWindowUs)
      .select(col("src").as("user_a"), col("dst").as("user_b"),
        col("t1_us"), col("t2_us"),
        (col("t2_us") - col("t1_us")).as("gap_us"))
      .distinct()
      .orderBy("user_a", "user_b", "t1_us", "t2_us")
  }

  private val instancesCte: String =
    """activity AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, user_id,
      |         min(epoch_ns(ts) // 1000) AS first_us
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
      |inst AS (
      |  SELECT a.user_id AS src, b.user_id AS dst, b.first_us AS t_us
      |  FROM activity a JOIN activity b
      |    ON a.h = b.h AND a.user_id <> b.user_id
      |   AND (a.first_us < b.first_us
      |        OR (a.first_us = b.first_us AND a.user_id < b.user_id)))""".stripMargin

  val g24Sql: String =
    s"""WITH $instancesCte
       |SELECT DISTINCT e1.src AS user_a, e1.dst AS user_b,
       |  e1.t_us AS t1_us, e2.t_us AS t2_us,
       |  e2.t_us - e1.t_us AS gap_us
       |FROM inst e1 JOIN inst e2
       |  ON e1.dst = e2.src AND e1.src = e2.dst
       | AND e2.t_us > e1.t_us AND e2.t_us <= e1.t_us + $PingWindowUs
       |ORDER BY user_a, user_b, t1_us, t2_us""".stripMargin

  /** g25 — edge reciprocity of the directed arrival-chain graph: the
    * fraction of edges whose reverse edge also exists. The standard
    * directed-network statistic (Newman): organic arrival orders are
    * mostly one-way (reciprocity near 0), while coordinated rings that
    * alternate arrival order — the g24 ping-pong structure, aggregated to
    * a single network-level number — push it up. The cheap screen run
    * BEFORE the expensive SCC/motif passes: one self-join on the distinct
    * edge list, exact integer counts, one rounded division.
    *
    * Scale: |E| is bounded by Σ(bucket size) (chain edges, not cliques);
    * the reverse-match is an equi-join on (dst, src) — same key width,
    * one shuffle, no BNLJ.
    */
  def g25Reciprocity(s: SparkSession, dir: String): DataFrame = {
    val e = chainEdges(s, dir).tracked
    val recip = e.as("a").join(e.as("b"),
      col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .select(col("a.src"), col("a.dst"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(recip.agg(count(lit(1)).as("n_reciprocal"))))
      .select(
        col("n_edges"), col("n_reciprocal"),
        expr("n_reciprocal div 2").as("n_mutual_pairs"),
        when(col("n_edges") > 0,
          graft.operators.Det.r(
            col("n_reciprocal").cast("double") / col("n_edges"), 6))
          .otherwise(lit(null).cast("double")).as("reciprocity"))
  }

  /** The chain-edge CTE chain (activity → seq → edges), shared verbatim
    * by the g25 mirror, the monolithic g23 gate mirror, and the staged
    * FB-coloring program — one spelling, no drift.
    */
  private[graph] val chainEdgesCte: String =
    """activity AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, user_id,
      |         min(ts) AS first_ts
      |  FROM events WHERE event_type = 'error' GROUP BY 1, 2),
      |seq AS (
      |  SELECT h, user_id,
      |         row_number() OVER (PARTITION BY h
      |           ORDER BY first_ts, user_id) AS rk
      |  FROM activity),
      |edges AS (
      |  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
      |  FROM seq a JOIN seq b
      |    ON a.h = b.h AND b.rk = a.rk + 1 AND a.user_id <> b.user_id)""".stripMargin

  val g25Sql: String =
    s"""WITH $chainEdgesCte,
       |counts AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       |    (SELECT CAST(count(*) AS BIGINT) FROM edges a
       |       JOIN edges b ON a.src = b.dst AND a.dst = b.src)
       |      AS n_reciprocal)
       |SELECT n_edges, n_reciprocal,
       |  n_reciprocal // 2 AS n_mutual_pairs,
       |  CASE WHEN n_edges > 0 THEN
       |    ${graft.operators.Det.sqlR(
           "CAST(n_reciprocal AS DOUBLE) / n_edges", 6)}
       |  ELSE CAST(NULL AS DOUBLE) END AS reciprocity
       |FROM counts""".stripMargin

  val qSql: String =
    s"""WITH RECURSIVE $chainEdgesCte,
      |verts AS (SELECT DISTINCT src AS v FROM edges
      |          UNION SELECT DISTINCT dst FROM edges),
      |reach(s, d) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.s, e.dst FROM reach r JOIN edges e ON r.d = e.src),
      |mutual AS (
      |  SELECT a.s AS u, a.d AS v FROM reach a
      |  JOIN reach b ON a.s = b.d AND a.d = b.s AND a.s <> a.d),
      |lab AS (
      |  SELECT verts.v AS id, least(verts.v, coalesce(min(mutual.u), verts.v))
      |           AS scc
      |  FROM verts LEFT JOIN mutual ON mutual.v = verts.v
      |  GROUP BY verts.v),
      |sizes AS (SELECT scc, CAST(count(*) AS BIGINT) AS scc_size
      |          FROM lab GROUP BY 1)
      |SELECT lab.id, lab.scc, sizes.scc_size
      |FROM lab JOIN sizes ON sizes.scc = lab.scc
      |ORDER BY lab.id""".stripMargin
}
