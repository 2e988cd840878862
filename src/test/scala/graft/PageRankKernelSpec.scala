package graft

import org.apache.spark.{HashPartitioner, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{CoGraph, Components, PageRankOps}

/** The co-partitioned PageRank kernel shared by g06/g06b/g07/g11/g16/
  * g16b: its job budget, its one-shuffle-per-iteration shape, and that it
  * leaves no persisted RDD behind.
  */
class PageRankKernelSpec extends AnyFunSuite with SparkTestSession {

  // Jobs to build and collect each query on Sf (local[4], 4 shuffle
  // partitions), with every table's schema already inferred in this
  // session. Before the kernel, the DataFrame loops lost their
  // partitioning at every Dataset cut and AQE re-broadcast the weights
  // and the contributions per iteration: g06 ran 33 jobs, g06b 37,
  // g07 25, g11 29, g16 24 and g16b 32 here. The kernel alone, with a
  // schema job per table read and g06's DataFrame vertex side (distinct
  // + broadcast count, re-shuffled into the kernel), ran g06 16, g06b 21,
  // g07 14, g11 19, g16 18 and g16b 23.
  private val Budgets: Seq[(String, Int, () => DataFrame)] = Seq(
    ("g06", 12, () => PageRankOps.q(spark, Sf)),
    ("g06b", 17, () => PageRankOps.cappedQ(spark, Sf)),
    ("g07", 10, () => PageRankOps.topQ(spark, Sf)),
    ("g11", 14, () => PageRankOps.mules(spark, Sf)),
    ("g16", 15, () => PageRankOps.personalizedPageRank(spark, Sf)),
    ("g16b", 20, () => PageRankOps.g16bCappedPpr(spark, Sf)))

  test("job budget: the PageRank family runs one job per iteration") {
    // schema inference is once per session (Tables): warm it outside the
    // counted group so the budgets do not depend on suite order
    Tables.byName.values.foreach(load => load(spark, Sf))
    for ((name, budget, build) <- Budgets) {
      val jobs = jobsOf(assert(build().collect().nonEmpty))
      assert(jobs <= budget, s"$name ran $jobs jobs (budget $budget)")
    }
  }

  test("every iteration's rank carries the adjacency partitioner: one shuffle per step") {
    val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
    val adj = spark.sparkContext
      .parallelize(Seq(1L -> Array(2L -> 1.0), 2L -> Array(1L -> 0.5, 3L -> 0.5)))
      .partitionBy(part)
    val vertices = spark.sparkContext
      .parallelize((1L to 3L).map(id => id -> (0.05, 1.0 / 3)))
      .partitionBy(part)
    val pr = vertices.mapValues(_._2)
    val next = PageRankOps.step(pr, adj, vertices)
    assert(next.partitioner.contains(part))
    // shuffles between a step's inputs and its output
    def shuffles(out: RDD[_], in: RDD[_]*): Int = {
      def walk(r: RDD[_]): Int =
        if (in.contains(r)) 0
        else r.dependencies.map {
          case d: ShuffleDependency[_, _, _] => 1 + walk(d.rdd)
          case d => walk(d.rdd)
        }.sum
      walk(out)
    }
    // the contributions' reduceByKey is the only shuffle; both joins are
    // narrow, including on the step's own output
    assert(shuffles(next, pr, adj, vertices) == 1, next.toDebugString)
    assert(shuffles(PageRankOps.step(next, adj, vertices), next, adj, vertices) == 1)
    // control: a rank that lost its partitioner re-shuffles into the join
    val lost = pr.map(identity)
    assert(shuffles(PageRankOps.step(lost, adj, vertices), lost, adj, vertices) == 2)
    // and across the kernel's cut iterations on real data
    val w = CoGraph.normalizedWeights(spark, Sf)
    val n = Components.vertices(spark, Sf).count()
    def base = Components.vertices(spark, Sf).rdd
      .map(r => (r.getLong(0), ())).partitionBy(part)
    for (k <- 1 to 3) {
      val rank = PageRankOps.rankRdd(w, base, k)(_ =>
        (PageRankOps.Alpha / n, 1.0 / n))
      assert(rank.partitioner.contains(part), s"iteration $k lost the partitioner")
      assert(rank.isCheckpointed, s"iteration $k was not cut")
    }
  }

  test("no leaked persisted RDDs: g06 leaves the persistent set as it found it") {
    def live: Set[Int] = spark.sparkContext.getPersistentRDDs
      .collect { case (id, r) if !r.isCheckpointed => id }.toSet
    val before = live
    assert(PageRankOps.q(spark, Sf).collect().nonEmpty)
    assert(live == before, "the kernel's adjacency/vertex RDDs outlived the query")
    assert(PageRankOps.personalizedPageRank(spark, Sf).collect().nonEmpty)
    assert(live == before, "g16's adjacency/vertex RDDs outlived the query")
  }
}
