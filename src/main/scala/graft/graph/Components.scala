package graft.graph

import graft.Caches.Tracked
import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** G3/G4 — connected components + component analytics (reference
  * `notebooks/4_graphx.ipynb:504-577`, SURVEY §2.10).
  *
  * Uses native `org.apache.spark.graphx` (the reference uses GraphFrames,
  * a thin layer over the same Pregel machinery). `user_id` is already an
  * int64, so it IS the GraphX `VertexId` — no string↔Long dictionary
  * (the reference has to stringify ids, `4_graphx.ipynb:334-336`; we
  * don't). GraphX labels each component with its minimum VertexId, which
  * is also the canonical label the DuckDB oracle computes — so CC is
  * fully oracle-checkable here, unlike GraphFrames' opaque labels
  * (SURVEY §7.4 note).
  *
  * Scale: GraphX CC is iterative Pregel with edge-partition placement —
  * at 100 TB the vertex/edge RDDs partition by `PartitionStrategy` and
  * each superstep is a local join, no driver-side state. The isolated
  * vertices (the overwhelming majority in fraud graphs: 275,236 of
  * 275,663 in the reference) never enter the Pregel messages — only the
  * connected core iterates.
  */
object Components {

  /** All entity ids (analog of distinct V1, `4_graphx.ipynb:126`). */
  def vertices(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("user_id").as("id")).distinct()

  /** (id, component) over ALL vertices; component = min member id. */
  def connectedComponents(s: SparkSession, dir: String): DataFrame = {
    val session = s
    import session.implicits._
    val vtx = vertices(s, dir)
    // bare scan (spreadScan=false, r15): GraphX CC does a long-compare
    // per row — the r14 floor multiplied its per-iteration partition
    // count for no compute win (driver: g03 1.60→4.15 s, reverted here)
    val edgeRdd = CoGraph.edges(s, dir, spreadScan = false)
      .select(col("src"), col("dst")).as[(Long, Long)]
      .rdd.map { case (a, b) => Edge(a: VertexId, b: VertexId, 1) }
    val vtxRdd = vtx.select(col("id")).as[Long].rdd.map(id => (id, ()))
    // Graph() already persists its vertex/edge RDDs (MEMORY_ONLY default);
    // re-persisting throws "cannot change storage level".
    val g = Graph(vtxRdd, edgeRdd)
    g.connectedComponents().vertices.toDF("id", "component")
  }

  /** g03 query — deterministic (id, component) listing. */
  def q(s: SparkSession, dir: String): DataFrame =
    connectedComponents(s, dir).orderBy(col("id"))

  /** Shared DuckDB fragment: min-id reachability closure via recursive CTE
    * (the edge set is symmetric, so one-directional reachability
    * suffices) — the ONE copy all g03/g04/g09/g10 oracles build on.
    */
  private val ccCte: String =
    s"""${CoGraph.edgesCte},
       |vertices AS (SELECT DISTINCT user_id AS id FROM events),
       |reach(id, x) AS (
       |  SELECT id, id FROM vertices
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.x = e.src),
       |cc AS (SELECT id, min(x) AS component FROM reach GROUP BY 1)""".stripMargin

  val qSql: String =
    s"""WITH RECURSIVE $ccCte
       |SELECT id, component FROM cc ORDER BY id""".stripMargin

  /** g04 — component analytics (`4_graphx.ipynb:520-577`): size per
    * component (groupBy-count on the CC output joined back), medium-size
    * flag (reference: 5–50), ordered largest-first.
    */
  def componentStats(s: SparkSession, dir: String): DataFrame =
    connectedComponents(s, dir)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("component_size"))
      .withColumn("is_medium",
        col("component_size") >= 5 && col("component_size") <= 50)
      .orderBy(col("component_size").desc, col("component"))

  val componentStatsSql: String =
    s"""WITH RECURSIVE $ccCte
       |SELECT component, CAST(count(*) AS BIGINT) AS component_size,
       |       count(*) BETWEEN 5 AND 50 AS is_medium
       |FROM cc GROUP BY 1
       |ORDER BY component_size DESC, component""".stripMargin

  /** g09 — component fraud purity (reference `4_graphx.ipynb:520-577`,
    * SURVEY §2.10 G4): fraction of a component's members that carry the
    * fraud signal, for multi-member components, largest/purest first. The
    * reference's headline finding (its max component is 100% fraud) is this
    * exact query.
    */
  def componentPurity(s: SparkSession, dir: String): DataFrame = {
    val fraudUsers = graft.Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("user_id").as("id")).distinct()
      .withColumn("is_fraud", lit(1L))
    connectedComponents(s, dir)
      .join(fraudUsers, Seq("id"), "left_outer")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("component_size"),
        sum(coalesce(col("is_fraud"), lit(0L))).as("n_fraud"),
        graft.operators.Det.r(
          sum(coalesce(col("is_fraud"), lit(0L))).cast("double")
            / count(lit(1)), 4).as("purity"))
      .filter(col("component_size") >= 2)
      .orderBy(col("component_size").desc, col("purity").desc, col("component"))
  }

  val componentPuritySql: String =
    s"""WITH RECURSIVE $ccCte,
       |fraud AS (SELECT DISTINCT user_id AS id, 1 AS is_fraud
       |          FROM events WHERE event_type = 'error')
       |SELECT component, CAST(count(*) AS BIGINT) AS component_size,
       |       CAST(sum(coalesce(is_fraud, 0)) AS BIGINT) AS n_fraud,
       |       ${graft.operators.Det.sqlR(
          "CAST(sum(coalesce(is_fraud, 0)) AS DOUBLE) / count(*)", 4)} AS purity
       |FROM cc LEFT JOIN fraud USING (id)
       |GROUP BY component
       |HAVING count(*) >= 2
       |ORDER BY component_size DESC, purity DESC, component""".stripMargin

  /** g10 — isolation summary (G4's isolated-vertex count, one row):
    * singleton components vs connected vertices vs components.
    */
  def isolationSummary(s: SparkSession, dir: String): DataFrame = {
    val sizes = connectedComponents(s, dir)
      .groupBy("component").agg(count(lit(1)).as("n"))
    sizes.agg(
      count(lit(1)).as("n_components"),
      sum(when(col("n") === 1, 1).otherwise(0)).cast("long")
        .as("n_isolated"),
      sum(when(col("n") > 1, col("n")).otherwise(0)).cast("long")
        .as("n_connected_vertices"),
      max(col("n")).as("max_component_size"))
  }

  val isolationSummarySql: String =
    s"""WITH RECURSIVE $ccCte,
       |sizes AS (SELECT component, count(*) AS n FROM cc GROUP BY 1)
       |SELECT CAST(count(*) AS BIGINT) AS n_components,
       |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated,
       |       CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_connected_vertices,
       |       max(n) AS max_component_size
       |FROM sizes""".stripMargin

  /** g12 — per-vertex triangle count (collusion-ring density: a fraud pair
    * sharing many common neighbors is a ring, not a coincidence).
    * Native `GraphX triangleCount` — Pregel neighborhood-set intersection,
    * linear in Σ min(deg(u), deg(v)) per edge with edge-partition
    * placement; the DuckDB oracle enumerates triangles with a three-way
    * self-join over the canonical (src < dst) edge set, which is exact but
    * quadratic-ish — exactly the spelling the GraphX path replaces at
    * scale. Vertices in no triangle are omitted (count 0).
    */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val session = s
    import session.implicits._
    // canonical undirected edges: the co-occurrence set is symmetric, so
    // src < dst keeps each undirected edge exactly once (triangleCount
    // requires canonical orientation)
    val edgeRdd = CoGraph.edges(s, dir)
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst")).as[(Long, Long)]
      .rdd.map { case (a, b) => Edge(a: VertexId, b: VertexId, 1) }
    val vtxRdd = vertices(s, dir).select(col("id")).as[Long].rdd.map(id => (id, ()))
    Graph(vtxRdd, edgeRdd).triangleCount().vertices
      .toDF("id", "n_triangles")
      .filter(col("n_triangles") > 0)
      .orderBy(col("n_triangles").desc, col("id"))
  }

  val trianglesSql: String =
    s"""WITH ${CoGraph.edgesCte},
       |und AS (SELECT src, dst FROM edges WHERE src < dst),
       |tri AS (
       |  SELECT a.src AS x, a.dst AS y, b.dst AS z
       |  FROM und a
       |  JOIN und b ON b.src = a.dst
       |  JOIN und c ON c.src = a.src AND c.dst = b.dst)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
       |FROM (SELECT x AS id FROM tri
       |      UNION ALL SELECT y FROM tri
       |      UNION ALL SELECT z FROM tri)
       |GROUP BY 1
       |ORDER BY n_triangles DESC, id""".stripMargin

  /** BFS depth bound for [[fraudDistance]]. */
  val MaxHops = 3

  /** g13 — hop distance to confirmed fraud: BFS from the confirmed-
    * offender seed set (error count ≥ [[PageRankOps.ConfirmedErrT]]) over
    * the co-occurrence graph, bounded to [[MaxHops]] hops — the
    * "proximity to known bad" feature every fraud model wants next to
    * PageRank centrality. Seeds are hop 0; a vertex's value is its
    * MINIMUM hop count; vertices beyond the bound are excluded.
    *
    * Implementation is the iterative-DataFrame frontier loop (join the
    * current distance set to the edge list, take the per-vertex min,
    * lineage-cut per hop like the PR loop) — deterministic, so exactly
    * oracle-checked against a deduplicating recursive CTE (UNION, not
    * UNION ALL: the state space is (vertex, hops), never path
    * enumerations — path-counting recursion would explode on a dense
    * graph; the dedup keeps it |V|·hops).
    *
    * Scale: each hop is one shuffle keyed by vertex id against the
    * statically-partitioned edge cache; diameter-bounded iterations. At
    * extreme scale the same loop runs as GraphX Pregel (Components.q
    * shows the pattern) — the DataFrame spelling keeps Catalyst in
    * charge and the oracle exact.
    */
  def fraudDistance(s: SparkSession, dir: String): DataFrame = {
    // bare scan: the explicit repartition(src) right here is already the
    // parallelism floor — the r14 spread added a redundant exchange
    val edges = CoGraph.edges(s, dir, spreadScan = false)
      .repartition(col("src")).tracked
    var dist = PageRankOps.confirmedOffenders(s, dir)
      .select(col("id"), lit(0L).as("hops"))
    for (k <- 1 to MaxHops) {
      val frontier = dist.alias("d")
        .join(edges.alias("e"), col("d.id") === col("e.src"))
        .select(col("e.dst").as("id"), lit(k.toLong).as("hops"))
      dist = dist.union(frontier)
        .groupBy("id").agg(min(col("hops")).as("hops"))
        .transform(graft.Cut.cut)
    }
    dist.orderBy("hops", "id")
  }

  val fraudDistanceSql: String =
    s"""WITH RECURSIVE ${CoGraph.edgesCte},
       |seeds AS (${PageRankOps.confirmedSeedsSql}),
       |reach(id, hops) AS (
       |  SELECT id, 0 FROM seeds
       |  UNION
       |  SELECT e.dst, r.hops + 1
       |  FROM reach r JOIN edges e ON r.id = e.src
       |  WHERE r.hops < $MaxHops)
       |SELECT id, CAST(min(hops) AS BIGINT) AS hops
       |FROM reach GROUP BY 1 ORDER BY hops, id""".stripMargin

  /** Relaxation rounds (= max path edges) for [[fraudCostDistance]]. */
  val CostHops = 3

  /** g17 — min-COST distance to confirmed fraud: [[fraudDistance]]'s
    * weighted twin. Runs [[CostHops]] Bellman–Ford relaxation rounds over
    * the amount-weighted co-occurrence edges (g05), so a vertex's value
    * is the cheapest total edge amount over any path of ≤ 3 edges from a
    * seed — hop count says "how close to known bad", path cost says "how
    * much fraud value flows along the cheapest route there", the feature
    * pair a risk model wants together.
    *
    * Edge cost is INTEGER CENTS (`round(amount·100)` on g05's 2-dp
    * amounts): path costs are bigint sums, so min() comparisons are
    * exact in both engines — no float-accumulation drift along paths.
    * The oracle unrolls the same three rounds as chained CTEs (d1..d3),
    * each a min-merge of the previous round with one edge extension:
    * Bellman–Ford IS that recurrence, so the comparison is definitional.
    *
    * Scale: identical shape to [[fraudDistance]] — per round one shuffle
    * keyed by vertex id against the statically-partitioned edge cache,
    * per-vertex min with map-side partial aggregation, lineage cut per
    * round. Rounds are fixed, not data-dependent.
    */
  def fraudCostDistance(s: SparkSession, dir: String,
      capped: Boolean = false): DataFrame = {
    val wEdges = if (capped) CoGraph.cappedWeightedEdges(s, dir)
                 else CoGraph.weightedEdges(s, dir)
    val edges = wEdges
      .select(col("src"), col("dst"),
        round(col("amount") * 100).cast("long").as("cost"))
      .repartition(col("src")).tracked
    var dist = PageRankOps.confirmedOffenders(s, dir)
      .select(col("id"), lit(0L).as("cost"))
    for (_ <- 1 to CostHops) {
      val relaxed = dist.alias("d")
        .join(edges.alias("e"), col("d.id") === col("e.src"))
        .select(col("e.dst").as("id"), (col("d.cost") + col("e.cost")).as("cost"))
      dist = dist.union(relaxed)
        .groupBy("id").agg(min(col("cost")).as("cost"))
        .transform(graft.Cut.cut)
    }
    dist.orderBy("cost", "id")
  }

  /** g17b — [[fraudCostDistance]] over the bucket-capped weighted edges:
    * the Bellman–Ford loop's scale twin (g06b/g15b pattern). The cap
    * bounds the per-round relaxation join's edge side at
    * buckets·cap·(cap−1) rows a priori (uncapped g17 slope: 14.9×,
    * `BENCH_sf1_r9b.json`); where the cap does not bind the output is
    * bit-identical to g17 (Round10Spec).
    */
  def g17bCostDistanceCapped(s: SparkSession, dir: String): DataFrame =
    fraudCostDistance(s, dir, capped = true)

  /** g17's unrolled mirror; `weightsCte` parameterizes the weighted-edge
    * relation (g17b passes the bucket-capped build), the g16b pattern.
    */
  def fraudCostDistanceSqlOf(weightsCte: String): String = {
    val steps = (1 to CostHops).map { k =>
      s"""d$k AS (
         |  SELECT id, min(cost) AS cost FROM (
         |    SELECT id, cost FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS id, d.cost + e.cost AS cost
         |    FROM d${k - 1} d JOIN wedges e ON d.id = e.src)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $weightsCte,
       |wedges AS (
       |  SELECT src, dst,
       |         CAST(round(round(amount, 2) * 100) AS BIGINT) AS cost
       |  FROM weights),
       |seeds AS (${PageRankOps.confirmedSeedsSql}),
       |d0 AS (SELECT id, CAST(0 AS BIGINT) AS cost FROM seeds),
       |$steps
       |SELECT id, cost FROM d$CostHops ORDER BY cost, id""".stripMargin
  }

  val fraudCostDistanceSql: String =
    fraudCostDistanceSqlOf(CoGraph.weightsCte)

  /** g17b's mirror — the identical relaxation chain over the capped
    * weight CTE. */
  val g17bSql: String =
    fraudCostDistanceSqlOf(CoGraph.cappedWeightsCte())

  /** Fixed superstep count for [[labelPropagation]]. */
  val LpaIterations = 3

  /** g14 — synchronous label propagation (community detection): every
    * vertex starts labelled with its own id; each superstep it adopts the
    * most frequent label among its in-neighbors, ties broken by the
    * smallest label; vertices with no neighbors keep their label. Three
    * synchronous supersteps — the deterministic variant of Raghavan's LPA
    * (async LPA is order-dependent and unverifiable), which is also what
    * GraphX's `LabelPropagation` computes per superstep.
    *
    * Complements g03: CC merges everything reachable into one blob; LPA
    * splits a dense component into collusion communities by local label
    * majority, which is what a fraud analyst actually triages.
    *
    * Scale: each superstep is (edges ⋈ labels) → per-(vertex,label)
    * partial count → per-vertex arg-min — two shuffles keyed by vertex id
    * against the statically-cached edge set, with map-side partial
    * aggregation on both (the `min(struct(-cnt,label))` spelling keeps
    * the arg-min a hash aggregate, not a per-vertex sort window).
    * Superstep count is fixed, so the lineage is bounded; `localCheckpoint`
    * cuts it per step exactly like the PR loop.
    */
  def labelPropagation(s: SparkSession, dir: String,
      iterations: Int = LpaIterations, capped: Boolean = false): DataFrame = {
    val rawEdges =
      if (capped) CoGraph.cappedEdges(s, dir) else CoGraph.edges(s, dir)
    val edges = rawEdges.repartition(col("src")).tracked
    var labels = vertices(s, dir).select(col("id"), col("id").as("label"))
    for (_ <- 1 to iterations) {
      val counted = edges.alias("e")
        .join(labels.alias("l"), col("e.src") === col("l.id"))
        .groupBy(col("e.dst").as("id"), col("l.label"))
        .agg(count(lit(1)).as("cnt"))
      val picked = counted
        .groupBy(col("id"))
        .agg(min(struct((-col("cnt")).as("neg"), col("label"))).as("best"))
        .select(col("id"), col("best.label").as("new_label"))
      labels = labels.alias("l")
        .join(picked.alias("p"), col("l.id") === col("p.id"), "left_outer")
        .select(col("l.id").as("id"),
          coalesce(col("p.new_label"), col("l.label")).as("label"))
        .transform(graft.Cut.cut)
    }
    labels
  }

  /** g14 query — deterministic (id, label) listing. */
  def lpaQ(s: SparkSession, dir: String): DataFrame =
    labelPropagation(s, dir).orderBy(col("id"))

  /** g14b — [[lpaQ]] over the bucket-capped edge set: the iterative
    * family's last member gains its scale twin (g06b/g16b/g08b pattern).
    * Each superstep's join cost is bounded at buckets·cap·(cap−1) edges
    * a priori, so the ×103 sf1 edge densification cannot reach the loop;
    * where the cap does not bind the output is bit-identical to g14
    * (Round9bSpec).
    */
  def g14bLpaCapped(s: SparkSession, dir: String): DataFrame =
    labelPropagation(s, dir, capped = true).orderBy(col("id"))

  /** Core order for [[kcore]]. */
  val KcoreK = 2
  /** Fixed peeling rounds — extra rounds past the fixpoint are no-ops
    * (the alive set is already stable), so a fixed count keeps the Spark
    * loop and the unrolled oracle IDENTICAL without a convergence probe.
    */
  val KcoreRounds = 4

  /** g15 — k-core decomposition (fixed-round peeling): repeatedly delete
    * vertices whose degree within the surviving subgraph is < k; what
    * survives [[KcoreRounds]] rounds is (an over-approximation converging
    * to) the k-core — the maximal subgraph where everyone has ≥ k
    * neighbors. The densest-region extractor fraud triage runs after CC:
    * a CC blob says "reachable", the k-core says "mutually embedded" —
    * hub-and-spoke accidental links peel away, collusion cliques stay.
    *
    * Determinism: synchronous peeling has no tie order (the alive set is
    * a set), so the output is exactly oracle-checkable against the same
    * rounds unrolled as chained CTEs. KcoreSpec asserts the fixpoint is
    * reached within the round budget at test scale AND that every
    * reported core degree is ≥ k (the k-core invariant), so the fixed
    * count is verified sufficient, not assumed.
    *
    * Scale: the static edge cache is partitioned on SRC — the key the
    * per-round degree count groups on. While the alive set is broadcast-
    * sized (it usually is: |V| ≪ |E|), both semi-joins are map-side and
    * the whole round is exchange-free end-to-end: broadcast semis
    * preserve the cached src distribution, so the groupBy(src) needs no
    * shuffle at all (measured: the dst-partitioned alternative costs an
    * extra partial-agg exchange per round — 2.2× at sf0.1). If alive
    * outgrows broadcast, the dst-side semi shuffles the monotonically-
    * SHRINKING survivor subset once per round — the floor for a both-
    * endpoint filter, since the two keys cannot share one distribution.
    * `localCheckpoint` cuts lineage per round like the PR/LPA loops.
    * Rounds needed at 100 TB is the peeling depth (typically ≤ tens even
    * on web graphs); for full coreness numbers (not one k) run the same
    * loop per k or switch to the GraphX Pregel spelling.
    */
  def kcore(s: SparkSession, dir: String, k: Int = KcoreK,
      rounds: Int = KcoreRounds, capped: Boolean = false): DataFrame = {
    val rawEdges =
      if (capped) CoGraph.cappedEdges(s, dir) else CoGraph.edges(s, dir)
    val edges = rawEdges.repartition(col("src")).tracked
    def survivors(alive: DataFrame): DataFrame = edges
      .join(alive.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .join(alive.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
    var alive = vertices(s, dir)
    // r14 early exit, the ktruss argument on the vertex set: alive is
    // monotone decreasing, so an unchanged post-round count proves the
    // fixpoint and every remaining budgeted round would recompute a
    // bit-identical iterate — the checkpointed count is a cached-block
    // scan, far cheaper than the two semi-joins + degree count a no-op
    // round costs. Output unchanged at every SF (the same no-op
    // property that keeps the unrolled oracle definitionally equal).
    var prev = -1L
    var fixed = false
    for (_ <- 1 to rounds if !fixed) {
      alive = survivors(alive)
        .groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("id")
        .transform(graft.Cut.cut)
      val n = alive.count()
      if (n == prev) fixed = true else prev = n
    }
    // report survivors with their degree inside the final core
    survivors(alive)
      .groupBy(col("src").as("id")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("core_deg").desc, col("id"))
  }

  /** g15 query. */
  def kcoreQ(s: SparkSession, dir: String): DataFrame = kcore(s, dir)

  /** g15b — [[kcoreQ]] over the bucket-capped edge set: the synchronous
    * peeling loop's scale twin (g06b/g14b pattern). Each round's
    * degree-count input is bounded at buckets·cap·(cap−1) edges a priori,
    * so sf1's ~103× edge densification cannot reach the per-round joins
    * (uncapped g15 slope: 26.4×, `BENCH_sf1_r9b.json`); where the cap does
    * not bind the output is bit-identical to g15 (Round10Spec).
    */
  def g15bKcoreCapped(s: SparkSession, dir: String): DataFrame =
    kcore(s, dir, capped = true)

  /** Unrolled DuckDB oracle: alive0..aliveN chained CTEs mirroring the
    * synchronous peeling rounds op-for-op. `edgesCte` parameterizes the
    * edge relation (g15b passes the bucket-capped build), the g08b/g14b
    * mirror pattern. The vertex universe is all event users either way —
    * capping trims edges, never the alive0 seed set (a vertex outside
    * every surviving edge peels away in round 1 regardless).
    */
  def kcoreSql(edgesCte: String = CoGraph.edgesCte): String = {
    val steps = (1 to KcoreRounds).map { i =>
      s"""alive$i AS (
         |  SELECT e.src AS id FROM edges e
         |  JOIN alive${i - 1} a ON e.src = a.id
         |  JOIN alive${i - 1} b ON e.dst = b.id
         |  GROUP BY 1 HAVING count(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCte,
       |vertices AS (SELECT DISTINCT user_id AS id FROM events),
       |alive0 AS (SELECT id FROM vertices),
       |$steps
       |SELECT e.src AS id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM edges e
       |JOIN alive$KcoreRounds a ON e.src = a.id
       |JOIN alive$KcoreRounds b ON e.dst = b.id
       |GROUP BY 1
       |ORDER BY core_deg DESC, id""".stripMargin
  }

  val kcoreQSql: String = kcoreSql()

  /** g15b's mirror — the identical unrolled peeling over the capped edge
    * CTE. */
  val g15bSql: String = kcoreSql(CoGraph.cappedEdgesCte())

  /** Truss order for [[ktruss]]: every surviving edge must sit in
    * ≥ TrussK−2 triangles within the surviving subgraph. */
  val TrussK = 4
  /** Fixed peeling rounds — fixpoint is reached within 3 rounds at all
    * certification SFs (measured: 3/2/1 rounds at sf0.001/0.01/0.1);
    * extra rounds past the fixpoint are no-ops, keeping the Spark loop
    * and the unrolled oracle identical (the [[KcoreRounds]] discipline).
    */
  val TrussRounds = 3
  /** Round budget for the fan-out-capped arm (g30b): the sparser mutual
    * relation peels DEEPER — measured fixpoint at 5 rounds (incl. the
    * confirming no-op) at sf0.01/sf0.1/sf1, vs 3 on the bucket-capped
    * relation — so its budget is 6 (measured depth + one margin round).
    */
  val TrussFanoutRounds = 6

  /** g30 — k-truss decomposition (Cohen 2008, public formula): the
    * k-core's edge-centric, stricter sibling. Repeatedly delete edges
    * whose SUPPORT (triangles through the edge within the surviving
    * subgraph) is < k−2; what survives is the maximal subgraph where
    * every edge is embedded in ≥ k−2 mutual triangles. For fraud triage
    * this is the tightest structural screen in the family: a k-core
    * hub can be a star center with no mutual structure, but a truss
    * edge is two parties plus ≥ k−2 mutual counterparties — collusion
    * triangles, not incidental co-activity.
    *
    * Defined over the bucket-capped CANONICAL edge set (src < dst — the
    * undirected reading of the symmetric co-occurrence relation), the
    * g27/g28 convention: the capped build is the production object, so
    * the triangle enumeration's cost is bounded a priori by the capped
    * ceiling (buckets·cap·(cap−1)/2 canonical edges, frozen past
    * saturation). Determinism: synchronous peeling over a SET of edges
    * — no tie order exists, so the unrolled-CTE oracle is definitional.
    *
    * Scale: per round ONE triangle enumeration (two broadcast joins of
    * the surviving edge set — see the in-body plan notes) plus one
    * count-groupBy over the exploded triangle sides; the reported
    * support is the last round's (definitionally mirrored; equal to the
    * final-truss support at the fixpoint). `localCheckpoint` cuts
    * lineage per round. Round count is fixed; Round10Spec verifies the
    * fixpoint is reached within the budget at test scale AND every
    * reported support ≥ k−2.
    */
  def ktruss(s: SparkSession, dir: String, k: Int = TrussK,
      rounds: Int = TrussRounds, fanoutCapped: Boolean = false): DataFrame = {
    // inner-join threshold semantics below require t >= 1: a 2-truss
    // (t = 0) must KEEP triangle-free edges, which the support join drops
    require(k >= 3, s"ktruss requires k >= 3 (got $k): the support join " +
      "drops zero-support edges, which only matches 'support >= k-2' " +
      "when that threshold is >= 1")
    val t = k - 2
    val base =
      if (fanoutCapped) NeighborAgg.fanoutUnd(s, dir)
      else CoGraph.cappedEdges(s, dir)
        .filter(col("src") < col("dst")).select("src", "dst")
    var und = base.repartition(col("src")).tracked
    // r15 id-domain gate for the packed support round (guide §2.3): when
    // every endpoint id fits in 31 bits, each triangle side packs into
    // ONE long — the support shuffle's grouping key halves and the ac
    // probe's hashed relation keys on a single long. Checked on the
    // MATERIALIZED edge set (ids never grow inside the loop: each round's
    // edge set is a subset), falls back to the two-long spelling
    // out-of-envelope. The agg doubles as the cache materializer the
    // loop's first count() needed anyway.
    val packable = NeighborAgg.packable(und)
    var kept: DataFrame = null
    var prev = -1L
    var fixed = false
    for (_ <- 1 to rounds if !fixed) {
      // the iterate is materialized (tracked/cut), so this count is a
      // cheap cached-block scan; it feeds the broadcast gate, the
      // fixpoint audit below, AND (r14) the early exit: kept ⊆ und is
      // monotone, so an unchanged count means an unchanged SET, and
      // every remaining budgeted round would recompute a bit-identical
      // iterate (the same no-op property that keeps the fixed-budget
      // unrolled oracle definitionally equal) — skip them instead of
      // paying a full triangle enumeration to confirm a fixpoint the
      // count already proves. Saves one enumeration per confirming
      // round (~2 s of g30's 7.7 s at sf0.1); output unchanged at
      // every SF by the monotonicity argument.
      val n = und.count()
      if (n == prev) fixed = true
      else {
        prev = n
        // inner join drops zero-support edges (absent from the count) —
        // exactly the threshold semantics for t >= 1
        kept = und.join(trussSupport(und, hint = n <= TrussBroadcastMaxRows,
            packed = packable),
            Seq("src", "dst"))
          .filter(col("support") >= t)
          .transform(graft.Cut.cut)
        und = kept.select("src", "dst")
      }
    }
    // Fixpoint audit: the round budget is fixed so the unrolled oracle
    // stays definitionally identical, but the budget was MEASURED at the
    // certification SFs — at an out-of-envelope data shape the last round
    // may still be peeling, and the mirrored oracle could not catch it
    // (it mirrors the same budget). Warn rather than fail: the truncated
    // result is still the round-budgeted operator the oracle defines.
    if (prev >= 0 && kept.count() < prev)
      System.err.println(s"[graft] ktruss(k=$k, rounds=$rounds): last " +
        "round still peeled edges — fixpoint NOT reached within the round " +
        "budget; result is the budgeted iterate, not a proven k-truss")
    kept.orderBy(col("support").desc, col("src"), col("dst"))
  }

  /** Broadcast-hint ceiling for [[trussSupport]]'s probe sides, in rows
    * (~16 bytes/row canonical edge ⇒ ~320 MB at the ceiling — well under
    * executor/driver headroom on any cluster that would run this). The
    * construction ceilings (buckets·cap·(cap−1)/2 for the bucket-capped
    * relation, |V|·FanOut/2 for the fan-out arm) sit far below this at
    * every certified shape, but BOTH grow with the data — bucket count
    * with the time span, |V| with the graph — so the hint is gated on
    * the materialized count rather than assumed: an out-of-envelope
    * graph degrades to shuffle joins instead of OOMing the driver.
    */
  private[graft] val TrussBroadcastMaxRows: Long = 20L * 1000 * 1000

  /** One peeling round's per-edge support over a canonical (src < dst)
    * undirected relation. Two deliberate plan moves, both measured at
    * sf0.1 (PlanSpec pins them):
    * (1) The canonical capped edge set is ≤ buckets·cap·(cap−1)/2 rows
    *     BY CONSTRUCTION (1.45M ≈ 23 MB at the 720-bucket/64-cap
    *     defaults, frozen past saturation) — broadcasting the two probe
    *     sides of the triangle join is scale-safe while that ceiling
    *     holds, and necessary: the post-checkpoint relation carries no
    *     size statistics, so the planner would otherwise run three
    *     sort-merge cascades per round (37 s → 27 s for the query).
    *     `hint = false` (gated by [[TrussBroadcastMaxRows]] in the loop)
    *     drops to plain equi-joins for out-of-envelope relations.
    * (2) Each triangle is EXPLODED into its three member edges in one
    *     projection instead of a 3-branch unionAll — Spark does not
    *     share a subplan across union branches, so the union spelling
    *     re-ran the whole triangle join three times per round
    *     (measured: the union support pass cost 8.5 s vs 2.9 s for the
    *     enumeration itself; 27 s → 11 s for the query).
    */
  private[graft] def trussSupport(und: DataFrame,
      hint: Boolean = true, packed: Boolean = false): DataFrame = {
    def probe(d: DataFrame): DataFrame = if (hint) broadcast(d) else d
    if (packed) {
      // (3) r15 (§2.3): with both id domains gated to [0, 2^31) by the
      // caller, (src, dst) packs injectively into one long
      // (src << 32 | dst). The explode ships one long per triangle side
      // instead of a two-long struct (half the grouping-key bytes
      // through the support exchange) and the ac probe joins on the
      // packed key, so its broadcast hashed relation is a
      // LongHashedRelation (primitive-key probes, no row hashing).
      // Unpack (shift/mask) is exact on the gated domain, so the
      // (src, dst, support) rows are identical to the struct spelling.
      def pk(a: Column, b: Column): Column = shiftleft(a, 32).bitwiseOR(b)
      und.alias("ab")
        .join(probe(und.alias("bc")), col("ab.dst") === col("bc.src"))
        .join(probe(und.select(pk(col("src"), col("dst")).as("e")).alias("ac")),
          col("ac.e") === pk(col("ab.src"), col("bc.dst")))
        .select(explode(array(
          pk(col("ab.src"), col("ab.dst")),
          pk(col("ab.dst"), col("bc.dst")),
          pk(col("ab.src"), col("bc.dst")))).as("e"))
        .groupBy(col("e"))
        .agg(count(lit(1)).as("support"))
        .select(shiftright(col("e"), 32).as("src"),
          col("e").bitwiseAND(lit(0xFFFFFFFFL)).as("dst"), col("support"))
    } else {
      und.alias("ab")
        .join(probe(und.alias("bc")), col("ab.dst") === col("bc.src"))
        .join(probe(und.alias("ac")),
          col("ac.src") === col("ab.src") && col("ac.dst") === col("bc.dst"))
        .select(explode(array(
          struct(col("ab.src").as("src"), col("ab.dst").as("dst")),
          struct(col("ab.dst").as("src"), col("bc.dst").as("dst")),
          struct(col("ab.src").as("src"), col("bc.dst").as("dst")))).as("e"))
        .groupBy(col("e.src").as("src"), col("e.dst").as("dst"))
        .agg(count(lit(1)).as("support"))
    }
  }

  /** g30 query. */
  def ktrussQ(s: SparkSession, dir: String): DataFrame = ktruss(s, dir)

  /** g30b — [[ktruss]] over the fan-out-capped MUTUAL edge relation
    * ([[NeighborAgg.fanoutUnd]], the g20b discipline): max degree ≤
    * FanOut by construction, so each round's triangle enumeration is
    * ≤ |V|·FanOut² a priori — the production arm for graphs whose
    * capped co-occurrence relation densifies toward its ceiling (g30's
    * own triangle count is edge-set-frozen past bucket saturation but
    * the frozen absolute cost is a 74M-row enumeration per round at
    * sf1; g30b's is ~1/20 of that). The d10/d10b split: g30 is the
    * definitional answer, g30b is what the nightly pipeline runs.
    */
  def g30bKtrussFanout(s: SparkSession, dir: String): DataFrame =
    ktruss(s, dir, rounds = TrussFanoutRounds, fanoutCapped = true)

  /** Unrolled DuckDB mirror: und0..undN chained CTEs, each a triangle
    * enumeration + per-edge support count + threshold filter — the
    * synchronous peeling op-for-op.
    *
    * Every chained CTE is `AS MATERIALIZED`: DuckDB inlines plain CTEs
    * once PER REFERENCE, and each round references the previous und
    * level four times (three in the triangle join, one in the filter),
    * so a 3-round chain would expand the base `events` scan ~4^4 times —
    * measured as an fd-exhaustion "Too many open files" on the parquet
    * before any row moved. Materialization makes the oracle evaluate
    * each level once, like the engine does.
    */
  val ktrussQSql: String = ktrussSql(
    CoGraph.cappedEdgesCte(), "SELECT src, dst FROM edges WHERE src < dst",
    TrussRounds)

  /** g30b's mirror — the identical peeling chain over the fan-out-capped
    * mutual relation, at its own (deeper) round budget. */
  val g30bSql: String = ktrussSql(
    NeighborAgg.fanoutUndCte, "SELECT src, dst FROM und", TrussFanoutRounds)

  private def ktrussSql(baseCtes: String, und0Select: String,
      rounds: Int): String = {
    val t = TrussK - 2
    def supCte(i: Int): String =
      s"""tri$i AS MATERIALIZED (
         |  SELECT ab.src AS x, ab.dst AS y, bc.dst AS z
         |  FROM und${i - 1} ab
         |  JOIN und${i - 1} bc ON ab.dst = bc.src
         |  JOIN und${i - 1} ac ON ac.src = ab.src AND ac.dst = bc.dst),
         |sup$i AS MATERIALIZED (
         |  SELECT src, dst, count(*) AS support FROM (
         |    SELECT x AS src, y AS dst FROM tri$i
         |    UNION ALL SELECT y, z FROM tri$i
         |    UNION ALL SELECT x, z FROM tri$i)
         |  GROUP BY 1, 2)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""${supCte(i)},
         |und$i AS MATERIALIZED (
         |  SELECT u.src, u.dst, s.support FROM und${i - 1} u
         |  JOIN sup$i s ON u.src = s.src AND u.dst = s.dst
         |  WHERE s.support >= $t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $baseCtes,
       |und0 AS MATERIALIZED ($und0Select),
       |$steps
       |SELECT src, dst, CAST(support AS BIGINT) AS support
       |FROM und$rounds
       |ORDER BY support DESC, src, dst""".stripMargin
  }

  /** Unrolled DuckDB oracle: lab0..labN chained CTEs; the arg-min is the
    * window spelling (`ORDER BY c DESC, label`) — semantically identical
    * to the engine's `min(struct(-cnt, label))` hash aggregate.
    */
  val lpaQSql: String =
    s"WITH ${lpaCte()} SELECT id, label FROM labels ORDER BY id"

  /** g14b's mirror — the identical unrolled chain over the capped edge
    * CTE. */
  val g14bSql: String =
    s"WITH ${lpaCte(edgesCte = CoGraph.cappedEdgesCte())} " +
      "SELECT id, label FROM labels ORDER BY id"

  /** The g14 LPA unrolled-iteration CTE chain, reusable by downstream
    * oracles (g29 modularity composes it): ends in a `labels(id, label)`
    * CTE holding the round-`iterations` partition. `edgesCte`
    * parameterizes the edge relation (uncapped default; g14b/g29b pass
    * the bucket-capped build), mirroring how `graphxSql` handles g08b.
    */
  def lpaCte(iterations: Int = LpaIterations,
      edgesCte: String = CoGraph.edgesCte): String = {
    val steps = (1 to iterations).map { i =>
      s"""cnt$i AS (
         |  SELECT e.dst AS id, l.label, count(*) AS c
         |  FROM edges e JOIN lab${i - 1} l ON e.src = l.id GROUP BY 1, 2),
         |pick$i AS (
         |  SELECT id, label FROM (
         |    SELECT id, label,
         |      row_number() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn
         |    FROM cnt$i) WHERE rn = 1),
         |lab$i AS (
         |  SELECT l.id, coalesce(p.label, l.label) AS label
         |  FROM lab${i - 1} l LEFT JOIN pick$i p ON l.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""$edgesCte,
       |vertices AS (SELECT DISTINCT user_id AS id FROM events),
       |lab0 AS (SELECT id, id AS label FROM vertices),
       |$steps,
       |labels AS (SELECT id, label FROM lab$iterations)""".stripMargin
  }
}
