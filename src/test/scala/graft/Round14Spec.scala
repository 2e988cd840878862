package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 pins. */
class Round14Spec extends AnyFunSuite with SparkTestSession {

  /** ADVICE r13: the native fingerprint kernel must match the HOF
    * reference spelling on MALFORMED UTF-8 too (strings cast from binary
    * are the real-world source) — invalid leading bytes, truncated
    * sequences, overlongs, surrogates, out-of-range 4-byte forms. The HOF
    * walks Spark's numBytesForFirstByte steps and folds the first code
    * point of each slice's Java replace-decode; this fuzz (fixed seed,
    * 2000 random byte strings from a malformation-biased pool plus the
    * canonical nasty cases) pins the native kernel to it byte-for-byte.
    */
  test("native char_fingerprint == HOF reference on malformed UTF-8") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pool: Array[Byte] = Array(0x41, 0x42, 0x7F, 0x80, 0x9F, 0xBF,
      0xC0, 0xC1, 0xC2, 0xDF, 0xE0, 0xA0, 0xED, 0xE1, 0xF0, 0x90, 0xF4,
      0x8F, 0xF5, 0xF8, 0xFE, 0xFF, 0x98, 0x80).map(_.toByte)
    val cases: Seq[Array[Byte]] = (1 to 2000).map { _ =>
      Array.fill(rnd.nextInt(12) + 1)(pool(rnd.nextInt(pool.length)))
    } ++ Seq(
      Array(0xF9, 0x41), Array(0xE1, 0x41), Array(0xE1, 0x80),
      Array(0xF0, 0x28, 0x8C, 0x28), Array(0xC2), Array(0xED, 0xA0, 0x80),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xC0, 0xAF), Array(0x80),
      Array(0xF0, 0x9F, 0x98), Array(0xE2, 0x82),
      Array(0xF0, 0x9F, 0x98, 0x80)).map(_.map(_.toByte))
    val bad = cases.zipWithIndex.map { case (b, i) => (i, b) }
      .toDF("i", "b")
      .select(col("i"),
        operators.TextFn.charFingerprintHof(col("b").cast("string")).as("h"),
        operators.TextFn.charFingerprint(col("b").cast("string")).as("n"))
      .filter(col("h") =!= col("n"))
      .count()
    assert(bad == 0L, s"$bad fingerprint mismatches on malformed UTF-8")
  }

  private def restrictTo(full: org.apache.spark.sql.DataFrame, cut: Long) =
    full.filter(col("doc_id") >= cut)
      .select("doc_id", "is_kept", "dup_of", "jaccard")

  private def assertSame(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"decision sets differ: a=${a.count()} b=${b.count()}")
  }

  /** d14's defining equality: the persisted-index probe reaches EXACTLY
    * d12's decisions restricted to the increment (which is also d13's
    * defining equality — one semantics, three cost profiles).
    */
  test("d14 == d12 restricted to the increment (sf0.001, sf0.01)") {
    Seq(Sf, SfMid).foreach { dir =>
      val cut = Tables.documents(spark, dir)
        .agg(expr("max(doc_id) * 9 div 10")).head().getLong(0)
      val d14 = operators.Dedup.queries(
        "d14_indexed_incremental_dedup")(spark, dir)
        .select("doc_id", "is_kept", "dup_of", "jaccard")
      val d12 = operators.Dedup.queries("d12_arrival_dedup")(spark, dir)
      assertSame(d14, restrictTo(d12, cut))
    }
  }

  /** The ingest CYCLE: build at 80%, append the [80%,90%) epoch, probe
    * the last tenth — decisions must still equal d12's. This is the
    * multi-epoch form a daily pipeline actually runs (append-only sids/
    * bands/sizes + merged df), exercising the self-healing cap-crossing
    * repair across epoch boundaries.
    */
  test("d14 two-epoch append path == d12 restricted (sf0.001)") {
    val docs = Tables.documents(spark, Sf)
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val c1 = mx * 8 / 10
    val c2 = mx * 9 / 10
    val dir = "/tmp/d14_twoepoch_sf0001"
    val index =
      operators.Dedup.d14BuildIndex(docs.filter(col("doc_id") < c1), dir)
    operators.Dedup.d14AppendEpoch(spark,
      docs.filter(col("doc_id") >= c1 && col("doc_id") < c2), index)
    val probe = operators.Dedup.d14ProbeIndex(spark,
      docs.filter(col("doc_id") >= c2), index)
      .select("doc_id", "is_kept", "dup_of", "jaccard")
    val d12 = operators.Dedup.queries("d12_arrival_dedup")(spark, Sf)
    assertSame(probe, restrictTo(d12, c2))
  }

  /** Synthetic cap-crossing corpus where NAIVE index reuse (no repair)
    * would flip a decision: boilerplate shingle B sits at df 61 in the
    * stored corpus (under MaxShingleDf=64) and crosses to df 72 once the
    * increment lands. Doc X (stored) has sets {B,x1,x2,s1,s2} as written
    * / {x1,x2,s1,s2} once B is hot; doc Y (increment) has {s1,s2}. With
    * the repair, j(X,Y) = 2/(4+2-2) = 0.5 ≥ JaccardT → Y is a dup of X;
    * with stale stored sets it would be 2/(5+2-2) = 0.4 → Y kept. The
    * probe must match d12-over-everything AND actually find the pair.
    */
  test("d14 cap-crossing repair flips the decision it must flip") {
    import spark.implicits._
    val boilStored = (1L to 60L).map(i => (i, "b1 b2 b3"))
    val x = Seq((61L, "b1 b2 b3 p q r s"))
    val boilInc = (101L to 110L).map(i => (i, "b1 b2 b3"))
    val y = Seq((111L, "p q r s"))
    val all = (boilStored ++ x ++ boilInc ++ y).toDF("doc_id", "text")
    val stored = all.filter(col("doc_id") < 100)
    val inc = all.filter(col("doc_id") >= 100)
    val dir = "/tmp/d14_capcross"
    val index = operators.Dedup.d14BuildIndex(stored, dir)
    val probe = operators.Dedup.d14ProbeIndex(spark, inc, index)
      .select("doc_id", "is_kept", "dup_of", "jaccard")
    val d12 = operators.Dedup.arrivalDecisionOn(spark, all,
      dictionaryIds = false)
    assertSame(probe, restrictTo(d12, 100L))
    // the decision the repair exists for: Y dropped as a dup of X at
    // exactly-threshold jaccard 0.5 (stale sets would read 0.4 → kept)
    val yRow = probe.filter(col("doc_id") === 111L).head()
    assert(!yRow.getBoolean(1) && yRow.getLong(2) == 61L
      && yRow.getDouble(3) == 0.5, yRow.toString)
    // and the 10 boilerplate arrivals are all KEPT: B is hot corpus-wide,
    // their sets are empty, no bands — exactly d12's verdict
    assert(probe.filter(col("doc_id") =!= 111L && !col("is_kept"))
      .count() == 0L)
  }

  /** distinctValues rank-top-k ≡ distinct() THEN rank-top-k — the c15b
    * plan fix (the corpus-wide distinct exchange moves inside the
    * operator's partial pass). Pinned on a dup-heavy synthetic frame
    * where the naive partial WOULD drop survivors (one partition holding
    * k copies of a small value before a larger global-bottom-k member),
    * and on the real c15b output at two SFs.
    */
  test("rank distinctValues == distinct-then-rank (synthetic + c15b)") {
    import spark.implicits._
    val k = 3
    // partition 0: 3 copies of 1.0 then 2.0 — a plain partial bottom-3
    // would keep [1,1,1] and drop 2.0, which IS in the distinct bottom-3
    val df = Seq.fill(3)(("g", 1.0)) ++ Seq(("g", 2.0), ("g", 5.0),
      ("g", 0.5), ("g", 0.5), ("g", 9.0))
    val base = df.toDF("source", "hd").repartition(2)
    val got = plans.GroupedTopK.rank(base, Seq("source"), "hd", k,
      descending = false, distinctValues = true)
      .select("source", "hd")
    val want = plans.GroupedTopK.rank(base.distinct(), Seq("source"), "hd",
      k, descending = false)
      .select("source", "hd")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.count() == 3 &&
      got.agg(max("hd")).head().getDouble(0) == 2.0)
    Seq(Sf, SfMid).foreach { dir =>
      val now = operators.Corpus.queries("c15b_corpus_overlap_kmv")(
        spark, dir)
      val old = operators.Corpus.kmvPairEstimates(
        plans.GroupedTopK.rank(
          operators.Corpus.shingleHashes(Tables.documents(spark, dir))
            .distinct().withColumn("hd", col("h").cast("double")),
          Seq("source"), "hd", operators.Corpus.KmvK, descending = false)
          .select(col("source"), col("h")))
      assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty,
        s"$dir: c15b distinct-inside != distinct-before")
    }
  }
}
