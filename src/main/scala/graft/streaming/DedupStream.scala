package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}
import graft.operators.{Dedup, TextFn}

/** One (doc, band-bucket) occurrence entering the stateful verify stage. */
case class BandDoc(bucket: String, doc_id: Long, sids: Array[Long])

/** A document remembered inside one band bucket's state. */
case class BucketMember(doc_id: Long, sids: Array[Long])

/** Emitted when an arriving doc verifies ≥ threshold against an earlier
  * doc sharing one of its band buckets.
  */
case class DupVerdict(doc_id: Long, dup_of: Long, jaccard: Double)

/** STREAMING MinHash-LSH near-dup dedup — the batch d03/d06 pipeline's
  * ingestion-time counterpart: documents arrive on an unbounded stream and
  * each is checked against the recently-seen corpus WITHOUT ever joining
  * against it. The reference's roadmap stops at exact fingerprint dedup
  * (`kafka_to_influxdb.py` has no dedup at all); this is the operator a
  * production crawl-ingest pipeline actually needs — re-crawls and mirror
  * pages are near-identical, not byte-identical.
  *
  * Shape: the signature stage is d06's dictionary-free spelling computed
  * PER ROW (xxhash64 shingle ids, 16 permutations, 8 bands × 2 rows — the
  * constants are [[graft.operators.Dedup]]'s own, one scheme definition)
  * with array higher-order functions, so it is stateless and
  * stream/batch-agnostic: the SAME function runs on a batch frame, which
  * is exactly how the spec proves stream≡batch. The only stateful stage
  * is `transformWithState` keyed by band bucket: each bucket remembers up
  * to [[DedupStream.MaxBucketMembers]] member docs (id + sid set) and an
  * arriving doc exact-verifies Jaccard against them — candidates come
  * from band collision (never a corpus join), the verify is exact, and
  * the owner is the EARLIEST verifying member (smallest doc id, reported
  * with its own Jaccard — d12's arg_min attribution, asserted by
  * DedupStreamSpec and StreamFaultDrill's DedupStream arm).
  *
  * Jaccard-universe caveat: the batch family drops shingles with
  * df > [[graft.operators.Dedup.MaxShingleDf]] from BOTH sides of the
  * Jaccard; a stream cannot see corpus df at signature time, so by
  * default the stream's universe is uncapped and equality with d12 holds
  * where the cap does not bind. On boilerplate-heavy corpora pass
  * [[DedupStream.signatures]] a stop-sid list snapshotted from the batch
  * hot list (refreshed periodically, the production pattern) — the spec
  * proves stream≡batch THROUGH a binding cap with it.
  *
  * Scale: state is buckets × ≤64 members × one capped sid array, keyed by
  * the bucket string — RocksDB-backed (required by transformWithState;
  * SCALE.md "streaming state backend at size" measures ~15-30 B of heap
  * per state row vs ~1.3 KB on the HDFS-backed store, which is what makes
  * a corpus-sized member state viable at all). The member cap bounds both
  * state and per-arrival compare cost the same way the batch df-cap
  * bounds posting lists: a bucket hot enough to overflow is boilerplate
  * banding, and verbatim floods still dedup — every late replica matches
  * member #1. Horizon eviction (dedup-within-window) is
  * [[DedupStream.lshVerdictsWithin]] — the same processor with a TTL on
  * the member list, mirroring `dropDuplicatesWithinWatermark`.
  */
object DedupStream {

  /** Per-bucket member cap: bounds state and compare cost (the streaming
    * analogue of the batch [[graft.operators.Dedup.MaxShingleDf]]).
    */
  val MaxBucketMembers = 64

  /** Exact set-Jaccard of two distinct-element sid arrays — the verify
    * kernel the processor runs per candidate. Property-pinned equal to
    * the SQL `array_intersect/array_union` spelling the batch reference
    * uses (DedupStreamSpec), so the two verify paths cannot drift.
    */
  private[graft] def jaccard(a: Array[Long], b: Array[Long]): Double =
    jaccardVs(a.toSet, a.length, b)

  /** [[jaccard]] with the first side pre-hashed — the processor builds
    * the arrival's set ONCE per arrival, not once per member compare.
    */
  private def jaccardVs(sa: Set[Long], na: Int, b: Array[Long]): Double = {
    if (na == 0 || b.isEmpty) return 0.0
    var inter = 0
    b.foreach(x => if (sa.contains(x)) inter += 1)
    inter.toDouble / (na + b.length - inter)
  }

  /** 4-dp HALF_UP snap — the batch family thresholds the ROUNDED Jaccard
    * (`Det.r(j,4) >= JaccardT` in d02/d06/d12), so the stream must too:
    * an unrounded compare would keep a doc at j=0.49998 that every batch
    * twin drops, and the stream≡batch equality specs would flake on
    * near-threshold pairs.
    */
  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Stateless per-row signature stage — d06's xxhash64 shingle ids as a
    * row-local array (no dictionary, no shuffle). Runs identically on a
    * stream or a batch frame; docs under 3 tokens carry no shingles and
    * are passed through with an empty sid set (never near-dup flagged).
    *
    * `stopSids` is the streaming spelling of the batch df-cap: a BOUNDED
    * snapshot of the batch hot list's sids (boilerplate shingles with
    * df > [[graft.operators.Dedup.MaxShingleDf]]), refreshed out-of-band
    * and inlined as a literal array — row-local, so the stage stays
    * stateless and shuffle-free (a stream cannot aggregate corpus df
    * before `transformWithState` in append mode). With the snapshot
    * supplied, stream and batch threshold the SAME Jaccard universe even
    * where the cap binds (DedupStreamSpec proves decision equality
    * through a 70-doc planted-boilerplate corpus); without it the
    * universes agree wherever the cap does not bind (the scaladoc
    * caveat above).
    */
  def signatures(docs: DataFrame, stopSids: Seq[Long] = Nil): DataFrame = {
    // lazy Long.MinValue guard = Dedup.xxhashSid's (shared boundary
    // contract; a bare ANSI abs would abort the stream on a 2^-64 hash)
    def sid(s: Column): Column = {
      val h = xxhash64(s)
      when(h === Long.MinValue, h).otherwise(abs(h)) % lit(TextFn.P)
    }
    val raw =
      when(size(col("t")) >= 3,
        array_distinct(transform(TextFn.shingles3(col("t")), sid(_))))
        .otherwise(array().cast("array<bigint>"))
    docs
      .withColumn("t", TextFn.tokens(col("text")))
      .withColumn("sids",
        if (stopSids.isEmpty) raw
        else array_except(raw, lit(stopSids.toArray)))
      .drop("t", "text")
  }

  /** Band-bucket keys per doc: bucket = "band_h(2b-1)_h(2b)" over the
    * row-local MinHash mins — one output row per (doc, band).
    */
  def banded(sig: DataFrame): DataFrame = {
    val hs = (1 to Dedup.NumPerm).map(j =>
      array_min(transform(col("sids"), x => TextFn.perm(j - 1, x)))
        .as(s"h$j"))
    val withH = sig.filter(size(col("sids")) > 0)
      .select(col("doc_id") +: col("sids") +: hs: _*)
    val buckets = (1 to Dedup.Bands).map(b =>
      concat_ws("_", lit(b), col(s"h${2 * b - 1}"), col(s"h${2 * b}")))
    withH.select(col("doc_id"), col("sids"),
      explode(array(buckets: _*)).as("bucket"))
  }

  /** The stateful verify stage: per band bucket, remember members and
    * exact-verify each arrival against them. Within a micro-batch,
    * arrivals are processed in doc_id order so replayed batches are
    * deterministic.
    */
  class LshBucketProcessor(ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, BandDoc, DupVerdict] {
    @transient private var members: ListState[BucketMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[BucketMember]("members",
        Encoders.product[BucketMember], ttl)

    override def handleInputRows(bucket: String, rows: Iterator[BandDoc],
        timerValues: TimerValues): Iterator[DupVerdict] = {
      val stored = scala.collection.mutable.ArrayBuffer.empty[BucketMember]
      members.get().foreach(stored += _)
      val out = List.newBuilder[DupVerdict]
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        val rSet = r.sids.toSet // once per arrival, not per member
        // owner = the EARLIEST verifying member — min over buckets then
        // folds (dupDocs) to the min over ALL verifying partners, which
        // is exactly d12's earliest-owner attribution, so stream and
        // batch agree on owners by construction, not just on the dup set
        // the m.doc_id < r.doc_id guard is d12's own join predicate:
        // without it an at-least-once redelivery would match a doc
        // against ITSELF (jaccard = 1) and an out-of-order arrival could
        // name a LATER id as owner — both diverging from the batch twin
        var ownerId = -1L
        var ownerJ = 0.0
        stored.foreach { m =>
          if (m.doc_id < r.doc_id && (ownerId < 0 || m.doc_id < ownerId)) {
            val j = r4(jaccardVs(rSet, r.sids.length, m.sids))
            if (j >= Dedup.JaccardT) { ownerId = m.doc_id; ownerJ = j }
          }
        }
        if (ownerId >= 0) out += DupVerdict(r.doc_id, ownerId, ownerJ)
        // idempotent append: a redelivered doc must not burn a second
        // cap slot (batch members are DISTINCT smallest ids)
        if (stored.length < MaxBucketMembers
            && !stored.exists(_.doc_id == r.doc_id)) {
          val m = BucketMember(r.doc_id, r.sids)
          members.appendValue(m)
          stored += m
        }
      }
      out.result().iterator
    }
  }

  /** Streaming per-band verdicts: a doc may emit up to [[Dedup.Bands]]
    * rows (one per colliding bucket); fold with [[dupDocs]] (e.g. inside
    * `foreachBatch`) for the per-doc decision.
    */
  def lshVerdicts(docs: DataFrame, stopSids: Seq[Long] = Nil)(
      implicit s: SparkSession): Dataset[DupVerdict] = {
    import s.implicits._
    banded(signatures(docs, stopSids))
      .select(col("bucket"), col("doc_id"), col("sids")).as[BandDoc]
      .groupByKey(_.bucket)
      .transformWithState(new LshBucketProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Horizon-bounded variant: bucket members expire after `ttl`, so a
    * re-crawl arriving INSIDE the horizon dedups and one outside it is
    * (deliberately) re-admitted — `dropDuplicatesWithinWatermark`
    * semantics for near-dups, and the state-GC story at corpus scale:
    * state holds only the horizon's documents, not stream history.
    *
    * Operational cost, measured: TTL requires `TimeMode.ProcessingTime`,
    * under which the engine self-triggers batches continuously even with
    * no input (SCALE.md's documented idle-stream landmine — 869 empty
    * batches in ~4 min when a spec slept beside it). Fine on a stream
    * that is never idle; on a bursty one prefer [[lshVerdicts]] and
    * periodic checkpoint-rotation for state GC.
    */
  def lshVerdictsWithin(docs: DataFrame, ttl: java.time.Duration,
      stopSids: Seq[Long] = Nil)(
      implicit s: SparkSession): Dataset[DupVerdict] = {
    import s.implicits._
    banded(signatures(docs, stopSids))
      .select(col("bucket"), col("doc_id"), col("sids")).as[BandDoc]
      .groupByKey(_.bucket)
      .transformWithState(new LshBucketProcessor(TTLConfig(ttl)),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Batch fold of per-band verdicts to one row per duplicate doc —
    * earliest owner wins with ITS Jaccard (d12's arg_min attribution).
    */
  def dupDocs(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("doc_id")
      .agg(min(struct(col("dup_of"), col("jaccard"))).as("o"))
      .select(col("doc_id"), col("o.dup_of").as("dup_of"),
        col("o.jaccard").as("jaccard"))
}
