package graft.graph

import graft.Caches.Tracked
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Det

/** GNN-style neighborhood feature aggregation over the fraud
  * co-occurrence graph — the message-passing primitive (mean of neighbor
  * features at 1 and 2 hops) that graph-ML feature pipelines run before
  * any model sees a node. The reference stops at per-node analytics
  * (degrees, PageRank, components, `notebooks/4_graphx.ipynb`); risk
  * propagation FROM a node's neighborhood is the natural next feature a
  * fraud model consumes ("how much fraud volume surrounds this user?").
  *
  * Semantics: hop-1 = direct co-occurrence neighbors; hop-2 = nodes
  * reachable in EXACTLY two edge steps with self excluded (standard
  * message-passing reach, NOT shortest-path — a hop-1 neighbor reachable
  * again in 2 steps participates in both rounds, like a 2-layer GNN).
  *
  * Exactness: the per-node feature (total error-event value) is an exact
  * DECIMAL sum; neighbor means re-aggregate decimals and snap at 4 dp —
  * order-free, so both engines agree bit-for-bit.
  *
  * Scale: the feature table is bounded by VERTEX count (broadcastable at
  * any realistic fraud-graph size, and keyed the same as the edge list's
  * dst for a co-partitioned join otherwise). The 2-hop expansion is the
  * known quadratic hazard — same bound as the edge build itself
  * ([[CoGraph.edges]]): cap per-bucket cardinality / per-node degree
  * before expanding at 100 TB (the degree cap is the standard GNN
  * neighborhood-sampling move, e.g. GraphSAGE's fan-out limit).
  */
object NeighborAgg {

  /** Per-user exact fraud volume: Σ value over the user's error events. */
  private def feats(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .groupBy(col("user_id"))
      .agg(Det.dsumDec(col("value")).as("f"))

  /** g19 — per-node neighbor-feature aggregates at hop 1 and hop 2. */
  def g19NeighborFeatures(s: SparkSession, dir: String): DataFrame =
    hopAggs(CoGraph.edges(s, dir).tracked, feats(s, dir))

  /** Shared 1/2-hop aggregation body over an edge list + feature table. */
  private def hopAggs(e: DataFrame, ft: DataFrame): DataFrame = {
    val hop1 = e.join(ft, e("dst") === ft("user_id"))
      .groupBy(e("src"))
      .agg(count(lit(1)).as("h1_n"), sum(col("f")).as("h1_sum"))
    val hop2Pairs = e.as("e1").join(e.as("e2"),
        col("e1.dst") === col("e2.src") && col("e2.dst") =!= col("e1.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("dst2"))
      .distinct()
    val hop2 = hop2Pairs.join(ft, col("dst2") === ft("user_id"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("h2_n"), sum(col("f")).as("h2_sum"))
        .withColumnRenamed("src", "src2")
    hop1.join(hop2, col("src") === col("src2"), "left")
      .select(
        col("src").as("user_id"),
        col("h1_n"),
        Det.r(col("h1_sum").cast("double") / col("h1_n"), 4).as("h1_mean_fraud"),
        coalesce(col("h2_n"), lit(0L)).as("h2_n"),
        Det.r(col("h2_sum").cast("double") / col("h2_n"), 4).as("h2_mean_fraud"))
      .orderBy("user_id")
  }

  /** Per-hour-bucket co-activity cap for [[g22CappedNeighborFeatures]]. */
  val BucketCap = 64

  /** Per-node neighbor fan-out cap (GraphSAGE-style) for g22. */
  val FanOut = 32

  /** Deterministic keep-smallest-k per group, run through the repo's own
    * skew-safe heap operator ([[graft.plans.GroupedTopK]]): the partial
    * pass bounds both memory and shuffle at k rows per group per
    * partition, so ONE 10⁶-member bucket cannot single-task the window
    * the `row_number` spelling would need.
    */
  private[graph] def keepMinK(df: DataFrame, group: String, key: String,
      k: Int): DataFrame =
    graft.plans.GroupedTopK(
      df.withColumn("__v", col(key).cast("double")),
      Seq(group), "__v", key, k, descending = false).drop("__v")

  /** g22 — g19's neighbor features with the documented 100 TB guards
    * actually applied: (1) per-hour-bucket co-activity capped at
    * [[BucketCap]] smallest user_ids — the edge build's quadratic term
    * becomes ≤ cap² per bucket regardless of how dense an event-storm
    * hour gets; (2) per-node fan-out capped at [[FanOut]] smallest
    * neighbor ids (the GraphSAGE sampling move) — the 2-hop expansion
    * becomes ≤ |V|·FanOut² instead of Σ deg². Both caps are
    * deterministic (keep-smallest), so the DuckDB mirror is exact.
    *
    * Motivation measured on the sf1 scale-up: its verbatim 10×
    * replication densifies every hour bucket 10×, growing the raw edge
    * set ~103× (535 k → 55 M directed pairs) and the uncapped 2-hop
    * another ~100× on top — g19 there spilled >35 GB without finishing,
    * while this spelling is bounded a priori. At a real 100 TB the same
    * guard is what makes neighborhood features computable on
    * event-storm buckets.
    */
  def g22CappedNeighborFeatures(s: SparkSession, dir: String): DataFrame = {
    val capped = keepMinK(CoGraph.activity(s, dir), "hour_epoch", "user_id",
      BucketCap)
    val edges0 = capped.as("a").join(capped.as("b"),
        col("a.hour_epoch") === col("b.hour_epoch")
          && col("a.user_id") =!= col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      .distinct()
    val e = keepMinK(edges0, "src", "dst", FanOut).tracked
    hopAggs(e, feats(s, dir))
  }

  val g22Sql: String =
    s"""WITH activity AS (
       |  SELECT DISTINCT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       |         user_id
       |  FROM events WHERE event_type = 'error'),
       |act_capped AS (
       |  SELECT hour_epoch, user_id FROM (
       |    SELECT hour_epoch, user_id,
       |           row_number() OVER (PARTITION BY hour_epoch ORDER BY user_id) AS rn
       |    FROM activity) WHERE rn <= $BucketCap),
       |edges0 AS (
       |  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
       |  FROM act_capped a JOIN act_capped b
       |    ON a.hour_epoch = b.hour_epoch AND a.user_id <> b.user_id),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM edges0) WHERE rn <= $FanOut),
       |feats AS (
       |  SELECT user_id, ${graft.operators.Det.sqlDsumDec("value")} AS f
       |  FROM events WHERE event_type = 'error' GROUP BY 1),
       |hop1 AS (
       |  SELECT e.src, CAST(count(*) AS BIGINT) AS h1_n, sum(f.f) AS h1_sum
       |  FROM edges e JOIN feats f ON e.dst = f.user_id GROUP BY 1),
       |hop2_pairs AS (
       |  SELECT DISTINCT e1.src, e2.dst AS dst2
       |  FROM edges e1 JOIN edges e2
       |    ON e1.dst = e2.src AND e2.dst <> e1.src),
       |hop2 AS (
       |  SELECT p.src, CAST(count(*) AS BIGINT) AS h2_n, sum(f.f) AS h2_sum
       |  FROM hop2_pairs p JOIN feats f ON p.dst2 = f.user_id GROUP BY 1)
       |SELECT h1.src AS user_id, h1.h1_n,
       |  ${graft.operators.Det.sqlR("CAST(h1.h1_sum AS DOUBLE) / h1.h1_n", 4)} AS h1_mean_fraud,
       |  CAST(coalesce(h2.h2_n, 0) AS BIGINT) AS h2_n,
       |  ${graft.operators.Det.sqlR("CAST(h2.h2_sum AS DOUBLE) / h2.h2_n", 4)} AS h2_mean_fraud
       |FROM hop1 h1 LEFT JOIN hop2 h2 ON h1.src = h2.src
       |ORDER BY user_id""".stripMargin

  /** The 31-bit packing gate shared by g20's closing-edge probe and
    * k-truss's support round: true iff `edges` is non-empty and every
    * `src`/`dst` id lies in [0, 2^31), so `src<<32|dst` is injective.
    * Runs one min/max aggregate — pass a materialized (cached/tracked)
    * frame.
    */
  private[graph] def packable(edges: DataFrame): Boolean = {
    val idb = edges.agg(min(col("src")), max(col("src")),
      min(col("dst")), max(col("dst"))).head()
    !idb.isNullAt(0) &&
      idb.getLong(0) >= 0L && idb.getLong(2) >= 0L &&
      idb.getLong(1) < (1L << 31) && idb.getLong(3) < (1L << 31)
  }

  /** Triangle corners (x, y, z) over a canonical (src < dst) undirected
    * relation — the a⋈b path extension plus the closing-edge probe.
    *
    * r15 (§2.3/§3.1, the g30 packing applied to the same join shape):
    * when the id domain fits 31 bits (gated on the MATERIALIZED edge
    * set — callers pass a cached/tracked frame), the closing-edge probe
    * joins on ONE packed long (src<<32|dst) instead of the two-key
    * (src, dst) — its hashed relation becomes a LongHashedRelation with
    * primitive-key probes (measured 2.5× on g20 at sf0.1). Injective on
    * the gated domain ⇒ identical triangles; falls back to the two-key
    * join out of envelope. Shared by g20 and g20b so the enumeration
    * can never diverge between the uncapped and capped arms.
    */
  private def triCorners(und: DataFrame): DataFrame = {
    val ab = und.as("a").join(und.as("b"), col("b.src") === col("a.dst"))
    (if (packable(und))
      ab.join(
        und.select(shiftleft(col("src"), 32).bitwiseOR(col("dst")).as("ce"))
          .as("c"),
        col("c.ce") === shiftleft(col("a.src"), 32).bitwiseOR(col("b.dst")))
    else
      ab.join(und.as("c"),
        col("c.src") === col("a.src") && col("c.dst") === col("b.dst")))
      .select(col("a.src").as("x"), col("a.dst").as("y"), col("b.dst").as("z"))
  }

  /** g20 — local clustering coefficient (ego-net density): for each node
    * with degree ≥ 2, lcc = 2·triangles / (deg·(deg−1)) — the fraction of
    * a node's neighbor pairs that are themselves connected. THE
    * collusion-ring signal: a fraud mule's neighborhood is dense (his
    * contacts know each other), an organic hub's is sparse. Complements
    * g12 (raw GraphX triangle counts) with the normalized, per-node
    * feature a model consumes, spelled entirely in DataFrames: canonical
    * (src<dst) edges, the 3-way equi-join triangle enumeration (the same
    * relational meaning as g12's oracle — g12 cross-validates it against
    * GraphX Pregel), union of the three corner roles, and exact integer
    * 2·tri / deg·(deg−1) snapped once at 6 dp.
    *
    * Scale: triangle enumeration cost is Σ_e min(deg) after canonical
    * orientation — the standard bound; a degree cap (drop super-hubs
    * before the join, as in the edge build) bounds the worst case. All
    * joins are equi-joins on edge keys.
    */
  def g20ClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = CoGraph.edges(s, dir).tracked
    val und = e.filter(col("src") < col("dst")).tracked
    val tri = triCorners(und)
    // explode, not 3-branch unionAll: Spark shares no subplan across
    // union branches, so the union spelling re-runs the triangle join
    // per branch (the g30 finding — 3x the dominant cost)
    val triPerNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    val deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("degree")) // symmetric+distinct: one row per neighbor
    deg.filter(col("degree") >= 2)
      .join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        Det.r((coalesce(col("n_triangles"), lit(0L)) * 2).cast("double")
          / (col("degree") * (col("degree") - 1)).cast("double"), 6)
          .as("lcc"))
      .orderBy(col("id"))
  }

  val g20Sql: String =
    s"""WITH ${CoGraph.edgesCte},
       |und AS (SELECT src, dst FROM edges WHERE src < dst),
       |tri AS (
       |  SELECT a.src AS x, a.dst AS y, b.dst AS z
       |  FROM und a
       |  JOIN und b ON b.src = a.dst
       |  JOIN und c ON c.src = a.src AND c.dst = b.dst),
       |tri_per_node AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM (SELECT x AS id FROM tri
       |        UNION ALL SELECT y FROM tri
       |        UNION ALL SELECT z FROM tri)
       |  GROUP BY 1),
       |deg AS (
       |  SELECT src AS id, CAST(count(*) AS BIGINT) AS degree
       |  FROM edges GROUP BY 1)
       |SELECT d.id, d.degree,
       |  CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  ${Det.sqlR(
            "CAST(coalesce(t.n_triangles, 0) * 2 AS DOUBLE) " +
              "/ CAST(d.degree * (d.degree - 1) AS DOUBLE)", 6)} AS lcc
       |FROM deg d LEFT JOIN tri_per_node t USING (id)
       |WHERE d.degree >= 2
       |ORDER BY d.id""".stripMargin

  /** g20b — g20's clustering coefficient with g22's cap discipline, the
    * spelling that RUNS at 100 TB: (1) per-hour-bucket co-activity capped
    * at [[BucketCap]] smallest user_ids (event-storm hours contribute
    * ≤ cap² pairs, not deg²); (2) per-node fan-out capped at [[FanOut]]
    * smallest neighbor ids (GraphSAGE sampling); (3) the capped directed
    * edge set symmetrized by MUTUAL retention (edge {u,v} survives only
    * if each endpoint kept the other — the mutual-kNN move), so the
    * triangle join runs on a true undirected graph whose max degree is
    * ≤ [[FanOut]] by construction: triangle cost is ≤ |V|·FanOut² a
    * priori, against g20's Σ_e min(deg) which densification can blow up
    * (g19's uncapped sibling spilled >35 GB at sf1; g22 bounded it).
    * Both caps and the symmetrization are deterministic keep-smallest,
    * so the DuckDB mirror is exact. Every surviving structure is a
    * subgraph of g20's graph — per-node degree and triangle counts are
    * ≤ g20's (the consistency property NeighborAggSpec asserts).
    */
  /** The triangle-safe undirected edge relation g20b pioneered —
    * bucket-capped co-activity, per-node fan-out capped at [[FanOut]]
    * smallest neighbor ids, symmetrized by MUTUAL retention, canonical
    * src < dst. Max degree ≤ FanOut BY CONSTRUCTION, so any triangle
    * enumeration over it is ≤ |V|·FanOut² a priori. Shared by g20b and
    * g30b (k-truss production arm). Caller tracks/caches.
    */
  private[graph] def fanoutUnd(s: SparkSession, dir: String): DataFrame = {
    val capped = keepMinK(CoGraph.activity(s, dir), "hour_epoch", "user_id",
      BucketCap)
    val edges0 = capped.as("a").join(capped.as("b"),
        col("a.hour_epoch") === col("b.hour_epoch")
          && col("a.user_id") =!= col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      .distinct()
    val dirE = keepMinK(edges0, "src", "dst", FanOut)
    // mutual symmetrization: self-join on the reversed pair, canonical
    // orientation src<dst — a co-partitioned equi-join (both sides hash
    // on the edge key), no new shuffle shape beyond the cap stages
    dirE.as("e").join(dirE.as("r"),
        col("r.src") === col("e.dst") && col("r.dst") === col("e.src"))
      .filter(col("e.src") < col("e.dst"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** [[fanoutUnd]]'s DuckDB mirror — CTE chain ending in
    * `und(src, dst)`; row_number is exactly keepMinK's deterministic
    * keep-smallest order.
    */
  private[graph] val fanoutUndCte: String =
    s"""activity AS (
       |  SELECT DISTINCT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       |         user_id
       |  FROM events WHERE event_type = 'error'),
       |act_capped AS (
       |  SELECT hour_epoch, user_id FROM (
       |    SELECT hour_epoch, user_id,
       |           row_number() OVER (PARTITION BY hour_epoch ORDER BY user_id) AS rn
       |    FROM activity) WHERE rn <= $BucketCap),
       |edges0 AS (
       |  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
       |  FROM act_capped a JOIN act_capped b
       |    ON a.hour_epoch = b.hour_epoch AND a.user_id <> b.user_id),
       |dir_e AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
       |    FROM edges0) WHERE rn <= $FanOut),
       |und AS (
       |  SELECT e.src, e.dst FROM dir_e e
       |  JOIN dir_e r ON r.src = e.dst AND r.dst = e.src
       |  WHERE e.src < e.dst)""".stripMargin

  def g20bCappedClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val und = fanoutUnd(s, dir).tracked
    val tri = triCorners(und)
    // explode, not 3-branch unionAll: Spark shares no subplan across
    // union branches, so the union spelling re-runs the triangle join
    // per branch (the g30 finding — 3x the dominant cost)
    val triPerNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    val deg = und.select(col("src").as("id"))
      .unionAll(und.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        Det.r((coalesce(col("n_triangles"), lit(0L)) * 2).cast("double")
          / (col("degree") * (col("degree") - 1)).cast("double"), 6)
          .as("lcc"))
      .orderBy(col("id"))
  }

  val g20bSql: String =
    s"""WITH $fanoutUndCte,
       |tri AS (
       |  SELECT a.src AS x, a.dst AS y, b.dst AS z
       |  FROM und a
       |  JOIN und b ON b.src = a.dst
       |  JOIN und c ON c.src = a.src AND c.dst = b.dst),
       |tri_per_node AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM (SELECT x AS id FROM tri
       |        UNION ALL SELECT y FROM tri
       |        UNION ALL SELECT z FROM tri)
       |  GROUP BY 1),
       |deg AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS degree
       |  FROM (SELECT src AS id FROM und UNION ALL SELECT dst FROM und)
       |  GROUP BY 1)
       |SELECT d.id, d.degree,
       |  CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  ${Det.sqlR(
            "CAST(coalesce(t.n_triangles, 0) * 2 AS DOUBLE) " +
              "/ CAST(d.degree * (d.degree - 1) AS DOUBLE)", 6)} AS lcc
       |FROM deg d LEFT JOIN tri_per_node t USING (id)
       |WHERE d.degree >= 2
       |ORDER BY d.id""".stripMargin

  /** g21 — degree assortativity (Newman's r): the Pearson correlation of
    * degrees across edge endpoints — POSITIVE in collusion structures
    * (mules transact with mules) and typically negative in organic
    * hub-and-spoke graphs, making it the one-number structural screen
    * next to g20's per-node density. Computed from exact INTEGER moment
    * sums over the symmetric directed edge set (the standard convention —
    * each undirected edge contributes both orientations, which also makes
    * r symmetric by construction): r = (nΣxy − ΣxΣy) /
    * √((nΣx² − (Σx)²)(nΣy² − (Σy)²)). Every Σ is an exact integer; the
    * single √ and divide run on bit-identical doubles in both engines
    * (Det.dstddev's argument), snapped once at 6 dp.
    *
    * Scale: degrees table is vertex-bounded (AQE-decided join onto edges),
    * moments are one map-combined aggregate. The integer moments carry
    * DECIMAL(18,0) carriers (36-digit products stay inside BOTH engines' 38-digit cap); beyond ~1e12-edge graphs move to the
    * two-pass standardized form (subtract means first) — documented, not
    * needed at any realistic fraud-graph size.
    */
  def g21Assortativity(s: SparkSession, dir: String): DataFrame =
    assortativityOf(s, dir, capped = false)

  /** g21b — [[g21Assortativity]] over the bucket-capped edge set: the
    * moment aggregation is one scan, but that scan is the densified edge
    * build itself (sf1 slope 32.9×, `BENCH_sf1_r9b.json`), so the capped
    * twin is the screen a 100 TB pipeline can afford to run — mixing
    * structure under the same cap its per-neighbor joins use. Where the
    * cap does not bind, bit-identical to g21 (Round10Spec).
    */
  def g21bCappedAssortativity(s: SparkSession, dir: String): DataFrame =
    assortativityOf(s, dir, capped = true)

  private def assortativityOf(s: SparkSession, dir: String,
      capped: Boolean): DataFrame = {
    val e = (if (capped) CoGraph.cappedEdges(s, dir)
             else CoGraph.edges(s, dir)).tracked
    val deg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d"))
    // the degree table is ∝ |V| — vertex-bounded but unbounded in V, so
    // no hard hint: AQE broadcasts it while V is small and shuffle-joins
    // (both sides keyed on vertex id) past the broadcast threshold
    val withDeg = e
      .join(deg.withColumnRenamed("id", "sid")
        .withColumnRenamed("d", "x"), col("src") === col("sid"))
      .join(deg.withColumnRenamed("id", "did")
        .withColumnRenamed("d", "y"), col("dst") === col("did"))
    val D = "decimal(18,0)"
    // cast BEFORE the sum: a long sum of per-edge products wraps silently
    // past 9.2e18 while the decimal sum (and DuckDB's HUGEINT) stay exact
    val m = withDeg.agg(
      count(lit(1)).cast(D).as("n"),
      sum(col("x").cast(D)).cast(D).as("sx"),
      sum(col("y").cast(D)).cast(D).as("sy"),
      sum((col("x") * col("y")).cast(D)).cast(D).as("sxy"),
      sum((col("x") * col("x")).cast(D)).cast(D).as("sxx"),
      sum((col("y") * col("y")).cast(D)).cast(D).as("syy"))
    m.select(
      col("n").cast("long").as("n_edges"),
      Det.r((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
        / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          * (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
        6).as("assortativity"))
  }

  val g21Sql: String = g21SqlOf(CoGraph.edgesCte)

  /** g21b's mirror — the identical statement over the capped edge CTE. */
  val g21bSql: String = g21SqlOf(CoGraph.cappedEdgesCte())

  private def g21SqlOf(edgesCte: String): String =
    s"""WITH $edgesCte,
       |deg AS (
       |  SELECT src AS id, CAST(count(*) AS BIGINT) AS d
       |  FROM edges GROUP BY 1),
       |with_deg AS (
       |  SELECT dx.d AS x, dy.d AS y
       |  FROM edges e
       |  JOIN deg dx ON e.src = dx.id
       |  JOIN deg dy ON e.dst = dy.id),
       |m AS (
       |  -- HUGEINT (int128) keeps every term exact; the DECIMAL(18)
       |  -- spelling overflowed the n·sxy product at sf1's 47.7M edges,
       |  -- while Spark's decimal multiply auto-widens to 38 digits.
       |  -- Both engines thus compute the exact integer combination and
       |  -- cast the SAME integer to double.
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx,
       |    CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(x * y) AS HUGEINT) AS sxy,
       |    CAST(sum(x * x) AS HUGEINT) AS sxx,
       |    CAST(sum(y * y) AS HUGEINT) AS syy
       |  FROM with_deg)
       |SELECT CAST(n AS BIGINT) AS n_edges,
       |  ${Det.sqlR(
            "CAST(n * sxy - sx * sy AS DOUBLE) " +
              "/ sqrt(CAST(n * sxx - sx * sx AS DOUBLE) " +
              "* CAST(n * syy - sy * sy AS DOUBLE))", 6)} AS assortativity
       |FROM m""".stripMargin

  val g19Sql: String =
    s"""WITH ${CoGraph.edgesCte},
       |feats AS (
       |  SELECT user_id, ${Det.sqlDsumDec("value")} AS f
       |  FROM events WHERE event_type = 'error' GROUP BY 1),
       |hop1 AS (
       |  SELECT e.src, CAST(count(*) AS BIGINT) AS h1_n, sum(f.f) AS h1_sum
       |  FROM edges e JOIN feats f ON e.dst = f.user_id GROUP BY 1),
       |hop2_pairs AS (
       |  SELECT DISTINCT e1.src, e2.dst AS dst2
       |  FROM edges e1 JOIN edges e2
       |    ON e1.dst = e2.src AND e2.dst <> e1.src),
       |hop2 AS (
       |  SELECT p.src, CAST(count(*) AS BIGINT) AS h2_n, sum(f.f) AS h2_sum
       |  FROM hop2_pairs p JOIN feats f ON p.dst2 = f.user_id GROUP BY 1)
       |SELECT h1.src AS user_id, h1.h1_n,
       |  ${Det.sqlR("CAST(h1.h1_sum AS DOUBLE) / h1.h1_n", 4)} AS h1_mean_fraud,
       |  CAST(coalesce(h2.h2_n, 0) AS BIGINT) AS h2_n,
       |  ${Det.sqlR("CAST(h2.h2_sum AS DOUBLE) / h2.h2_n", 4)} AS h2_mean_fraud
       |FROM hop1 h1 LEFT JOIN hop2 h2 ON h1.src = h2.src
       |ORDER BY user_id""".stripMargin
}
