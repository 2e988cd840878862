package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, Similarity}

/** Contracts for the 100 TB scale variants of the all-pairs dedup
  * operators: the banded SimHash (d04b) and the LSH-bucketed embedding
  * near-dup (d05b). Each must (a) never degrade to a nested-loop /
  * cartesian plan over the full signature set, and (b) honor its stated
  * relationship to the exact small-scale baseline — EQUALITY for d04b
  * (pigeonhole losslessness at radius < band count), recall-bounded
  * SUBSET for d05b.
  */
class ScalePathSpec extends AnyFunSuite with SparkTestSession {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("d04b banding is LOSSLESS: identical pair set to all-pairs at radius 3") {
    val exact = Dedup.d04Simhash(spark, SfMid).collect()
      .filter(_.getLong(2) <= 3).map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = pairs(Dedup.d04bSimhashBanded(spark, SfMid))
    assert(banded == exact,
      s"pigeonhole guarantee violated: banded=${banded.size} exact=${exact.size}, " +
        s"missing=${(exact -- banded).take(5)} extra=${(banded -- exact).take(5)}")
    assert(banded.nonEmpty, "testdata must contain pairs at hamming <= 3")
  }

  test("d04b plan never materializes the all-pairs product") {
    val p = Dedup.d04bSimhashBanded(spark, SfMid)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(30).mkString("\n"))
    assert(!p.contains("CartesianProduct"))
  }

  test("d06 xxhash ids produce the identical verified pair set to d03's dictionary ids") {
    // the driver oracle pins the same equality via SQL; this spec gives the
    // readable diff when either banding's recall drifts
    val dict = pairs(Dedup.d03MinhashLsh(spark, SfMid))
    val hash = pairs(Dedup.d06MinhashXxhashScale(spark, SfMid))
    assert(hash == dict,
      s"id-assignment must not change the verified output: " +
        s"missing=${(dict -- hash).take(5)} extra=${(hash -- dict).take(5)}")
    assert(dict.nonEmpty, "testdata must contain near-dup pairs")
  }

  test("df cap: one universal boilerplate shingle no longer yields n² candidates") {
    val dir = java.nio.file.Files.createTempDirectory("dfcap").toString
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // every doc shares ONE 3-gram ("common header line"); the rest unique
    val docs = (1 to 40).map(i =>
      Row(i.toLong, s"common header line u${i}a u${i}b u${i}c u${i}d",
        "en", "s", 40L))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 4), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def candidates(maxDf: Int): Long = {
      val sh = Dedup.cappedShingleRows(spark, dir, maxDf).cache()
      sh.as("a").join(sh.as("b"),
          org.apache.spark.sql.functions.col("a.s") ===
            org.apache.spark.sql.functions.col("b.s") &&
          org.apache.spark.sql.functions.col("a.doc_id") <
            org.apache.spark.sql.functions.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id").distinct().count()
    }
    assert(candidates(maxDf = 1000) == 40L * 39 / 2,
      "uncapped: the universal shingle meets every doc pair (n² blowup)")
    assert(candidates(maxDf = 10) == 0L,
      "capped: the boilerplate shingle is dropped, no candidates remain")
    // the capped run must keep every doc's non-boilerplate shingles intact
    assert(Dedup.cappedShingleRows(spark, dir, 10)
      .select("doc_id").distinct().count() == 40L)
  }

  test("d05b is a subset of exact d05 with bounded recall") {
    val exact = pairs(Similarity.d05EmbeddingNeardup(spark, SfMid))
    val lsh = pairs(Similarity.d05bEmbeddingNeardupLsh(spark, SfMid))
    assert(lsh.subsetOf(exact),
      s"bucketed verify may only MISS pairs, never invent: ${(lsh -- exact).take(5)}")
    val recall = (exact & lsh).size.toDouble / exact.size
    // At the 0.4-cosine decision boundary, 4 tables x 4 hyperplane bits give
    // ~50% collision probability (measured 0.51 on sf0.01); pairs nearer
    // cosine 1 collide with probability -> 1. Pin a floor so bucketing
    // regressions surface.
    assert(recall >= 0.40, s"d05b recall $recall below floor")
    info(s"d05b recall vs exact near-dup pairs: $recall")
  }

  test("codegen'd plane sign bits are bit-identical to the HOF reference spelling") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, SfMid)
      .where("embedding is not null").limit(300)
    val d = e.agg(max(size(col("embedding")))).head().getInt(0)
    val diffs = (0 until 16).map { j =>
      e.select(Similarity.signBit(j, col("embedding")).as("slow"),
        Similarity.signBitFast(j, col("embedding"), d).as("fast"))
        .filter(col("slow") =!= col("fast")).count()
    }.sum
    assert(diffs == 0, "fast path must never flip a bucket bit")
  }

  test("d05b plan never materializes the all-pairs product") {
    val p = Similarity.d05bEmbeddingNeardupLsh(spark, SfMid)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("d07 clusters are transitive-consistent with the pair list") {
    val pairList = Dedup.d02NgramJaccardPairs(spark, SfMid)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cc = Dedup.d07DedupClusters(spark, SfMid).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    // every paired doc is clustered, pair members share a canonical id
    pairList.foreach { case (a, b) =>
      assert(cc.contains(a) && cc.contains(b), s"pair ($a,$b) unclustered")
      assert(cc(a)._1 == cc(b)._1, s"pair ($a,$b) split across clusters")
    }
    // exactly one kept doc per cluster, and it is the minimum member
    val byCluster = cc.groupBy(_._2._1)
    byCluster.foreach { case (canon, members) =>
      assert(members.count(_._2._3) == 1, s"cluster $canon kept != 1")
      assert(members.keys.min == canon, s"cluster $canon label not min id")
      assert(members.forall(_._2._2 == members.size))
    }
  }

  test("w04 as-of join only ever looks backward") {
    val rows = operators.WindowOps.w04AsofJoin(spark, SfMid)
      .select("secs_since_error").collect()
    val known = rows.filter(!_.isNullAt(0)).map(_.getLong(0))
    assert(known.nonEmpty, "testdata must contain purchases after errors")
    assert(known.forall(_ >= 0), "an as-of match may never come from the future")
  }

  test("w10 forward as-of only ever looks forward, never plans a join") {
    val df = operators.WindowOps.w10AsofForward(spark, SfMid)
    val rows = df.select("secs_to_error").collect()
    val known = rows.filter(!_.isNullAt(0)).map(_.getLong(0))
    assert(known.nonEmpty, "testdata must contain errors after purchases")
    assert(known.forall(_ >= 0), "a forward match may never come from the past")
    assert(!df.queryExecution.executedPlan.toString().contains("Join"),
      "the union-window forward as-of must never plan a join")
  }

  test("e17 grouping sets: marginals re-add to the grand total, one Expand") {
    val df = operators.RelationalExt.e17GroupingSets(spark, SfMid)
    val rows = df.collect()
    val total = Tables.orders(spark, SfMid).count()
    val grand = rows.filter(_.getLong(2) == 3L)
    assert(grand.length == 1 && grand.head.getLong(3) == total)
    Seq(1L, 2L).foreach { gid =>
      val cnt = rows.filter(_.getLong(2) == gid).map(_.getLong(3)).sum
      assert(cnt == total, s"gid=$gid marginal cells must partition all orders")
    }
    // ONE Expand feeding ONE relation — counted on the optimized LOGICAL
    // plan (stable node identity; the executed-plan string can render a
    // node more than once under AQE)
    val logical = df.queryExecution.optimizedPlan
    val expands = logical.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e }
    val scans = logical.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r }
    assert(expands.size == 1, "the three sets must ride ONE Expand")
    assert(scans.size == 1, "grouping sets must scan orders ONCE")
  }

  test("g18 HITS authorities dominate their first-sweep in-degree") {
    val rows = graph.PageRankOps.g18Hits(spark, SfMid).collect()
    assert(rows.length == 2 * graph.PageRankOps.HitsTopK)
    assert(rows.forall(_.getLong(2) > 0), "integer HITS scores must be positive")
    // auth2(v) = Σ_{u→v} hub1(u) with hub1(u) ≥ outdeg(u)·1 ≥ 1 per edge,
    // so every authority's sweep-2 score ≥ its in-degree (= auth1)
    val indeg = Tables.orders(spark, SfMid)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, SfMid)
          .select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .groupBy("l_suppkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_.getString(0) == "authority").foreach { r =>
      assert(r.getLong(2) >= indeg(r.getLong(1)),
        s"authority ${r.getLong(1)} scored below its in-degree")
    }
  }

  test("t07 contamination fractions are well-formed and probe docs excluded") {
    val rows = operators.TextOps.t07Decontaminate(spark, SfMid).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 97 != 0), "probe docs must not be scored")
    assert(rows.forall { r =>
      val c = r.getDouble(3); c >= 0.0 && c <= 1.0
    })
  }

  test("w05 sessions exactly partition the event stream") {
    val events = Tables.events(spark, SfMid).count()
    val sess = operators.WindowOps.w05Sessionize(spark, SfMid).collect()
    assert(sess.map(_.getLong(2)).sum == events,
      "every event must belong to exactly one session")
    assert(sess.forall(_.getLong(6) >= 0), "duration may not be negative")
    assert(sess.exists(_.getLong(2) > 1), "testdata must contain multi-event sessions")
  }

  test("v03 assignment covers every vector once with valid cosines") {
    val conf = operators.Similarity.v03CentroidAssign(spark, SfMid).collect()
    val assignedTotal = conf.map(_.getLong(2)).sum
    val expected = Tables.embeddings(spark, SfMid)
      .where("embedding is not null").count()
    // zero-norm vectors are excluded by the cosine contract; testdata has none
    assert(assignedTotal == expected,
      s"confusion must cover each vector once: $assignedTotal vs $expected")
    assert(conf.forall { r =>
      val c = r.getDouble(3); c >= -1.0001 && c <= 1.0001
    })
  }

  test("t09 redaction matches the plant schedule and rewrites every planted doc") {
    val rows = operators.TextOps.t09PiiRedact(spark, SfMid).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == (if (id % 7 == 0) 1L else 0L), s"doc $id email count")
      assert(r.getLong(2) == (if (id % 11 == 0) 1L else 0L), s"doc $id phone count")
      assert(r.getLong(3) == (if (id % 13 == 0) 1L else 0L), s"doc $id ssn count")
    }
    // exactly the docs on the plant schedule appear — none missed, none extra
    val nDocs = Tables.documents(spark, SfMid).count()
    val expected = (0L until nDocs)
      .count(id => id % 7 == 0 || id % 11 == 0 || id % 13 == 0)
    assert(rows.length == expected, s"${rows.length} redacted vs $expected planted")
  }

  test("t08 chunks exactly tile every document") {
    val chunks = operators.TextOps.t08ChunkPack(spark, SfMid).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    byDoc.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_.getLong(1))
      // contiguous: chunk i starts right after chunk i-1 ends
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(2) == a.getLong(3) + 1,
          s"doc $doc gap between chunks")
        case _ =>
      }
      assert(sorted.head.getLong(2) == 1L)
      assert(sorted.forall(r => r.getLong(4) >= 1 && r.getLong(4) <= 50))
    }
  }

  test("c03 mixture sample respects every source budget and is deterministic") {
    val s1 = operators.Corpus.c03MixtureSample(spark, SfMid).collect()
    val s2 = operators.Corpus.c03MixtureSample(spark, SfMid).collect()
    assert(s1.map(_.toString).toSeq == s2.map(_.toString).toSeq,
      "hash-ordered sampling must be run-to-run identical")
    val bySource = s1.groupBy(_.getString(0))
    assert(bySource.nonEmpty)
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(3)).max <= 600L, s"source $src over budget")
    }
  }

  test("w04/w05 plans: no join in the as-of, one shared shuffle for sessionize") {
    val asof = operators.WindowOps.w04AsofJoin(spark, SfMid)
      .queryExecution.executedPlan.toString()
    assert(!asof.contains("Join"),
      "the union-window as-of must never plan a join")
    val sess = operators.WindowOps.w05Sessionize(spark, SfMid)
      .queryExecution.executedPlan.toString()
    // both windows + the session aggregate ride ONE hash exchange on
    // user_id; the only other exchange is the final presentation sort
    val exchanges = "Exchange".r.findAllIn(sess).size
    assert(exchanges <= 2, s"w05 planned $exchanges exchanges:\n" +
      sess.linesIterator.take(25).mkString("\n"))
  }

  test("t07 probe side broadcasts (benchmark set vs corpus)") {
    val p = operators.TextOps.t07Decontaminate(spark, SfMid)
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(25).mkString("\n"))
  }

  test("z-order cells bound BOTH dimensions at once (the skipping guarantee)") {
    // cell = top 4 interleaved bits of each dimension -> each cell's value
    // envelope spans at most 1/16 of each domain (plus one bucket width)
    val cells = operators.ZOrder.z01ZorderCells(spark, SfMid).collect()
    assert(cells.length > 1)
    cells.foreach { c =>
      assert(c.getDouble(3) - c.getDouble(2) <= 50.0 / 16 + 1,
        s"cell ${c.getLong(0)} quantity envelope too wide")
      assert(c.getDouble(5) - c.getDouble(4) <= 104100.0 / 16 + 110,
        s"cell ${c.getLong(0)} price envelope too wide")
    }
  }

  test("d04b on pathological docs: identical docs pair at hamming 0") {
    // reuse the edge fixture shape: two identical docs must always collide
    // in every band and verify at distance 0
    val dir = java.nio.file.Files.createTempDirectory("d04b_edge").toString
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = Seq(
      Row(1L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      Row(2L, "alpha beta gamma delta epsilon", "en", "s", 30L),
      Row(3L, "completely different text tokens here", "en", "s", 37L))
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 2), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.d04bSimhashBanded(spark, dir).collect()
    assert(got.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L
      && r.getLong(2) == 0L))
  }

  test("g23 partition sizing caps, never wraps, past 5.4e14 edges") {
    // (6e14 / 250000).toInt wraps negative and used to clamp to 1 partition
    assert(graph.Scc.sccParts(600000000000000L, 128) == 128)
    assert(graph.Scc.sccParts(Long.MaxValue, 128) == 128)
    assert(graph.Scc.sccParts(0L, 128) == 1)
    assert(graph.Scc.sccParts(1000000L, 128) == 5)
  }
}
