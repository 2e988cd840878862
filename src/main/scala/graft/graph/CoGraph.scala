package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Fraud co-occurrence graph over the `events` table — the reference's
  * graph layer (SURVEY.md §2.10) re-expressed Spark-first.
  *
  * Reference semantics (`notebooks/4_graphx.ipynb:193-208`): entities
  * ("users") are linked when both have a fraud signal in the same hour
  * bucket. Mapping (SURVEY §7.1): entity id → `user_id`, fraud signal →
  * `event_type = 'error'`, hour bucket → `date_trunc('hour', ts)`.
  *
  * The reference writes this as a theta self-join
  * (`t1.Class=1 AND t2.Class=1 AND int(t1.Time/3600)=int(t2.Time/3600) AND
  * t1.V1 != t2.V1`) and relies on Catalyst extracting the derived hour
  * equi-key. We use the idiomatic rewrite (SURVEY §7.4): pre-filter,
  * materialize the bucket column, dedup to (hour, user) BEFORE the join,
  * equi-join on hour with a `=!=` residual. The pre-dedup is the scale
  * move: the join input shrinks from |events| to |hour × active-user|,
  * so the per-bucket quadratic blowup is bounded by distinct co-active
  * users, not raw event volume. At 100 TB add a per-bucket cardinality cap
  * (skew guard) before the join; AQE's skew-join split handles residual
  * imbalance.
  */
object CoGraph {

  /** Distinct (hour_epoch, user_id) pairs with a fraud signal.
    *
    * `spreadScan` (r14): the filter + hour-truncate + partial distinct
    * run on the events scan, which at bench file sizes is ONE partition
    * — the UNCAPPED consumers (self-join edge builds) pass true and get
    * the metadata-gated [[graft.Par.spread]] floor (no-op at production
    * scan sizes). The CAPPED family keeps the default false, measured:
    * it feeds this straight into GroupedTopK, whose single-partition
    * PARTIAL heap is already the cheap plan — it emits ≤ cap rows per
    * bucket into the exchange, and spreading the scan multiplied the
    * partial outputs by the partition count (every capped twin
    * regressed 1.3-1.8× under a blanket floor).
    */
  def activity(s: SparkSession, dir: String,
      spreadScan: Boolean = false): DataFrame = {
    val ev = Tables.events(s, dir)
    (if (spreadScan) graft.Par.spread(ev, col("user_id")) else ev)
      .filter(col("event_type") === "error")
      .select(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("user_id"))
      .distinct()
  }

  /** G1/J1 — directed co-occurrence edge set (both orientations, like the
    * reference's `V1 != V1` predicate), distinct.
    *
    * `spreadScan` (r15, VERDICT r14 item 1): r14 floored this scan for
    * EVERY consumer, which regressed the cheap ones — the driver measured
    * g01 1.17→5.86 s, g02 1.06→3.51 s, g03 1.60→4.15 s, the
    * tiny-partition tax on consumers that do little per-row work above
    * the edge list. The floor is now PER-CONSUMER: heavy downstream
    * compute (triangle enumeration, LPA supersteps, modularity, hop
    * aggregations) keeps it; the bare edge listing, degree counts, the
    * degree histogram and the GraphX CC conversion pass false and get
    * the bare scan (their whole post-scan pipeline is one distinct +
    * one cheap aggregate — the exchange the floor adds costs more than
    * the one-task partial it parallelizes).
    */
  def edges(s: SparkSession, dir: String,
      spreadScan: Boolean = true): DataFrame = {
    // Explicit string aliases, not plan-derived column refs (`a(...) ===
    // b(...)` where b derives from a): the latter trips Spark's
    // "trivially true equals predicate" self-join ambiguity and survives
    // only by the resolver's rescue heuristic — one optimizer change away
    // from a per-hour cross product.
    val act = activity(s, dir, spreadScan = spreadScan)
    act.as("a").join(act.as("b"),
        col("a.hour_epoch") === col("b.hour_epoch")
          && col("a.user_id") =!= col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      .distinct()
  }

  /** [[edges]] with the per-hour-bucket co-activity cap — the unweighted
    * twin of [[cappedNormalizedWeights]], feeding the GraphX consumers
    * (g08b): each hour bucket keeps its `cap` smallest user_ids through
    * the GroupedTopK heap before the self-join, bounding the edge set at
    * buckets·cap·(cap−1) directed pairs a priori.
    */
  def cappedEdges(s: SparkSession, dir: String,
      cap: Int = NeighborAgg.BucketCap): DataFrame = {
    val act = NeighborAgg.keepMinK(activity(s, dir),
      "hour_epoch", "user_id", cap)
    act.as("a").join(act.as("b"),
        col("a.hour_epoch") === col("b.hour_epoch")
          && col("a.user_id") =!= col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"))
      .distinct()
  }

  /** g01 query — edge list, deterministically ordered. */
  def q(s: SparkSession, dir: String): DataFrame =
    edges(s, dir, spreadScan = false).orderBy(col("src"), col("dst"))

  private val activityCte: String =
    """activity AS (
      |  SELECT DISTINCT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |         user_id
      |  FROM events WHERE event_type = 'error')""".stripMargin

  /** `edges` CTE tail over a named (hour_epoch, user_id) activity source
    * — shared by the uncapped and capped edge mirrors.
    */
  private def edgesTail(src: String): String =
    s"""edges AS (
       |  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
       |  FROM $src a JOIN $src b
       |    ON a.hour_epoch = b.hour_epoch AND a.user_id <> b.user_id)""".stripMargin

  /** Shared SQL fragment: the DuckDB mirror of [[edges]]. */
  val edgesCte: String =
    s"""$activityCte,
       |${edgesTail("activity")}""".stripMargin

  /** [[cappedEdges]]' mirror — keep-smallest-`cap` per hour bucket via
    * row_number, then the identical edge join.
    */
  def cappedEdgesCte(cap: Int = NeighborAgg.BucketCap): String =
    s"""$activityCte,
       |act_capped AS (
       |  SELECT hour_epoch, user_id FROM (
       |    SELECT hour_epoch, user_id,
       |           row_number() OVER (PARTITION BY hour_epoch ORDER BY user_id) AS rn
       |    FROM activity) t WHERE rn <= $cap),
       |${edgesTail("act_capped")}""".stripMargin

  val qSql: String =
    s"WITH $edgesCte SELECT src, dst FROM edges ORDER BY src, dst"

  /** G2 — degrees (in+out over the directed edge set), GraphFrames
    * semantics: vertices with zero edges are omitted
    * (`4_graphx.ipynb:354-373`, output 472 of 275,663 nodes).
    * Scale: union-all + groupBy — one shuffle keyed by id with map-side
    * combine; no join.
    */
  def degrees(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir, spreadScan = false)
    e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("id"))
  }

  val degreesSql: String =
    s"""WITH $edgesCte
       |SELECT id, CAST(count(*) AS BIGINT) AS degree
       |FROM (SELECT src AS id FROM edges
       |      UNION ALL SELECT dst AS id FROM edges) u
       |GROUP BY 1 ORDER BY id""".stripMargin

  /** g26 — degree DISTRIBUTION with a heavy-tail screen: the per-degree
    * vertex counts of the co-occurrence graph, each row carrying its
    * survival mass P(D ≥ d) as an exact cross-multiplied ratio. The
    * scale-free check every graph pipeline runs before choosing
    * partitioning strategy: a heavy tail (slowly decaying survival) means
    * hub vertices — the signal to pre-aggregate/salt before any
    * per-neighbor join (g22's capped spelling exists for exactly that
    * outcome). Survival via one cumulative window over the DEGREE
    * HISTOGRAM (bounded by distinct degrees, never the vertex count).
    *
    * Scale: degrees is one union+groupBy; the histogram is ≤ max-degree
    * rows; the window and ratio run over that bounded table only.
    */
  def g26DegreeDistribution(s: SparkSession, dir: String): DataFrame =
    degreeDistributionOf(s, dir, capped = false)

  /** g26b — [[g26DegreeDistribution]] over the bucket-capped edge set:
    * the statistic itself is histogram-bounded, but its input scan is the
    * densified edge build (sf1 slope 59.6×, `BENCH_sf1_r9b.json`), so the
    * capped twin is what a 100 TB pipeline actually runs as its
    * partitioning-strategy screen — hub detection under the same cap the
    * downstream per-neighbor joins (g22) use. Where the cap does not bind,
    * bit-identical to g26 (Round10Spec).
    */
  def g26bCappedDegreeDistribution(s: SparkSession, dir: String): DataFrame =
    degreeDistributionOf(s, dir, capped = true)

  private def degreeDistributionOf(s: SparkSession, dir: String,
      capped: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = if (capped) cappedEdges(s, dir)
            else edges(s, dir, spreadScan = false)
    val deg = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("degree"))
    val hist = deg
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
    val wTail = Window.orderBy(col("degree").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bounded table (distinct degrees): the global windows are fine here
    val wAll = Window.partitionBy()
    hist
      .withColumn("n_at_least", sum(col("n_vertices")).over(wTail))
      .withColumn("n_total", sum(col("n_vertices")).over(wAll))
      .select(col("degree"), col("n_vertices"), col("n_at_least"),
        graft.operators.Det.r(
          col("n_at_least").cast("double") / col("n_total"), 6)
          .as("survival"))
      .orderBy("degree")
  }

  val g26Sql: String = g26SqlOf(edgesCte)

  /** g26b's mirror — the identical statement over the capped edge CTE. */
  val g26bSql: String = g26SqlOf(cappedEdgesCte())

  private def g26SqlOf(edgesCte: String): String =
    s"""WITH $edgesCte,
       |deg AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS degree
       |  FROM (SELECT src AS id FROM edges
       |        UNION ALL SELECT dst AS id FROM edges) u
       |  GROUP BY 1),
       |hist AS (
       |  SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices
       |  FROM deg GROUP BY 1)
       |SELECT degree, n_vertices,
       |  CAST(sum(n_vertices) OVER (ORDER BY degree DESC
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS n_at_least,
       |  ${graft.operators.Det.sqlR(
          "CAST(sum(n_vertices) OVER (ORDER BY degree DESC " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) " +
            "/ sum(n_vertices) OVER ()", 6)} AS survival
       |FROM hist ORDER BY degree""".stripMargin

  /** G5/A9 — amount-weighted edges with per-source normalization
    * (`4_graphx.ipynb:690-701`): edge amount = total fraud-event value the
    * source spent in the hours shared with dst; weight = amount / source
    * total (rows sum to 1 per src).
    *
    * Scale: aggregate-then-join — `sum_weights` is one row per src
    * (bounded by vertex count), so the back-join broadcasts at any
    * realistic vertex cardinality; the heavy side shuffles once on
    * (src, dst).
    */
  def weightedEdges(s: SparkSession, dir: String): DataFrame =
    weightedEdgesOn(hourValue(s, dir, spreadScan = true))

  /** [[weightedEdges]] over the bucket-capped (hour, user) activity —
    * the rounded-amount edge relation g17b's Bellman–Ford twin runs on.
    * The cap is applied to the per-hour value rows BEFORE the self-join
    * (exactly [[cappedNormalizedWeights]]' move), bounding the quadratic
    * term at cap² per bucket a priori; where no bucket exceeds `cap` the
    * output equals [[weightedEdges]] bit-for-bit (Round10Spec).
    */
  def cappedWeightedEdges(s: SparkSession, dir: String,
      cap: Int = NeighborAgg.BucketCap): DataFrame =
    weightedEdgesOn(
      NeighborAgg.keepMinK(hourValue(s, dir), "hour_epoch", "user_id", cap))

  private def weightedEdgesOn(hv: DataFrame): DataFrame = {
    val edgeAmount = weightedEdgesRawOn(hv)
    val totals = edgeAmount.groupBy(col("src"))
      .agg(sum(col("amount")).as("total_out"))
    edgeAmount.join(totals, "src")
      .select(col("src"), col("dst"),
        round(col("amount"), 2).as("amount"),
        round(col("amount") / col("total_out"), 6).as("weight"))
      .orderBy(col("src"), col("dst"))
  }

  /** Unrounded (src, dst, weight) for PageRank iteration. */
  def normalizedWeights(s: SparkSession, dir: String): DataFrame =
    normalizedWeightsOn(hourValue(s, dir, spreadScan = true))

  /** [[normalizedWeights]] with g22's per-hour-bucket co-activity cap
    * applied BEFORE the self-join: each hour bucket keeps its `cap`
    * smallest user_ids (deterministic, via the skew-safe
    * [[graft.plans.GroupedTopK]] heap — no window, no single-task
    * row_number), so the weight build's quadratic term is ≤ cap² per
    * bucket a priori however dense an event-storm hour gets. The sf1
    * scale-up's verbatim replication densifies buckets 45 → 450 users,
    * growing the UNCAPPED edge set ~103× (the whole g-family sf1 slope);
    * under the cap the same storm contributes 64·63 directed pairs like
    * any other saturated hour. Where no bucket exceeds `cap` (all gate
    * SFs: max bucket 45 at sf0.1) the cap is a no-op and capped PageRank
    * equals g06 bit-for-bit (Round9OpsSpec).
    */
  def cappedNormalizedWeights(s: SparkSession, dir: String,
      cap: Int = NeighborAgg.BucketCap): DataFrame =
    normalizedWeightsOn(
      NeighborAgg.keepMinK(hourValue(s, dir), "hour_epoch", "user_id", cap))

  private def normalizedWeightsOn(hv: DataFrame): DataFrame = {
    val e = weightedEdgesRawOn(hv)
    val totals = e.groupBy(col("src")).agg(sum(col("amount")).as("total_out"))
    e.join(totals, "src")
      .select(col("src"), col("dst"),
        (col("amount") / col("total_out")).as("weight"))
  }

  /** Per-(hour, user) exact fraud value — the self-join input shared by
    * the uncapped and bucket-capped weight builds.
    */
  private def hourValue(s: SparkSession, dir: String,
      spreadScan: Boolean = false): DataFrame = {
    // same spreadScan split as [[activity]] — uncapped weight builds
    // floor the scan, the GroupedTopK-capped ones stay bare
    val ev = Tables.events(s, dir)
    (if (spreadScan) graft.Par.spread(ev, col("user_id")) else ev)
      .filter(col("event_type") === "error")
      .select(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("user_id"), col("value"))
      .groupBy(col("hour_epoch"), col("user_id"))
      .agg(sum(col("value")).as("hour_value"))
  }

  /** (src, dst, amount) — the per-edge fraud value before normalization.
    * Same alias discipline as [[edges]]; the summed `hour_value` is the
    * SOURCE side's (`sum(a.hour_value)` in the oracle mirror below).
    */
  private def weightedEdgesRawOn(hv: DataFrame): DataFrame =
    hv.as("a").join(hv.as("b"),
        col("a.hour_epoch") === col("b.hour_epoch")
          && col("a.user_id") =!= col("b.user_id"))
      .select(col("a.user_id").as("src"), col("b.user_id").as("dst"),
        col("a.hour_value").as("hour_value"))
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("hour_value")).as("amount"))

  private val hourValueCte: String =
    """hour_value AS (
      |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
      |         user_id, sum(value) AS hour_value
      |  FROM events WHERE event_type = 'error'
      |  GROUP BY 1, 2)""".stripMargin

  /** edge_amount/totals/weights CTE tail over a named (hour_epoch,
    * user_id, hour_value) source — shared by the uncapped and capped
    * weight mirrors.
    */
  private def weightsTail(src: String): String =
    s"""edge_amount AS (
       |  SELECT a.user_id AS src, b.user_id AS dst, sum(a.hour_value) AS amount
       |  FROM $src a JOIN $src b
       |    ON a.hour_epoch = b.hour_epoch AND a.user_id <> b.user_id
       |  GROUP BY 1, 2),
       |totals AS (
       |  SELECT src, sum(amount) AS total_out FROM edge_amount GROUP BY 1),
       |weights AS (
       |  SELECT e.src, e.dst, e.amount, e.amount / t.total_out AS weight
       |  FROM edge_amount e JOIN totals t ON e.src = t.src)""".stripMargin

  /** SQL mirror of the weighted-edge pipeline (shared by PageRank oracle). */
  val weightsCte: String =
    s"""$hourValueCte,
       |${weightsTail("hour_value")}""".stripMargin

  /** [[cappedNormalizedWeights]]' mirror: keep-smallest-`cap` per hour
    * bucket via row_number (exactly GroupedTopK's deterministic order),
    * then the identical weight chain.
    */
  def cappedWeightsCte(cap: Int = NeighborAgg.BucketCap): String =
    s"""$hourValueCte,
       |hv_capped AS (
       |  SELECT hour_epoch, user_id, hour_value FROM (
       |    SELECT hour_epoch, user_id, hour_value,
       |           row_number() OVER (PARTITION BY hour_epoch ORDER BY user_id) AS rn
       |    FROM hour_value) t WHERE rn <= $cap),
       |${weightsTail("hv_capped")}""".stripMargin

  val weightedEdgesSql: String =
    s"""WITH $weightsCte
       |SELECT src, dst, round(amount, 2) AS amount,
       |       round(weight, 6) AS weight
       |FROM weights ORDER BY src, dst""".stripMargin
}
