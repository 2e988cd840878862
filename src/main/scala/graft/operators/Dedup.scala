package graft.operators

import graft.Caches.Tracked
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash group-by), n-gram Jaccard (inverted-index join), MinHash+LSH
  * (band-bucket join), SimHash (bit-signature hamming), plus the 100 TB
  * xxhash64 variant. Embedding near-dup lives in [[Similarity]].
  *
  * Determinism strategy for the oracle gate: MinHash/SimHash need integer
  * shingle ids identical in Spark and DuckDB. We build a sorted shingle
  * DICTIONARY (`row_number` over `ORDER BY shingle`) — fully deterministic in
  * both engines. The dictionary sort is the one global-order operation; Spark
  * executes it as a range-partitioned sort + `zipWithIndex`-free window, fine
  * to |distinct shingles| in the billions but admittedly a scale tax.
  * [[d06MinhashXxhashScale]] is the production path: `xxhash64(shingle)`
  * directly as the id — no dictionary, no sort, pure scan+agg. Its driver-
  * gate oracle is the dictionary-id chain (exact at the gate SFs); the
  * certification sweeps check it under the engine's OWN ids via the
  * [[altOracles]] spellings + check_oracle.py's --alt xxh64 UDF
  * (bit-equal to Spark's xxhash64, pinned both sides by XxHashSpec).
  */
object Dedup {
  import TextFn._

  // NumPerm/Bands/JaccardT are the ONE scheme definition — the streaming
  // LSH dedup (streaming/DedupStream.scala) shares them so the stream and
  // batch paths can never band differently
  private[graft] val NumPerm = 16 // MinHash permutations
  private[graft] val Bands = 8 // LSH bands × 2 rows: P(collide) = 1-(1-j²)^8
  private val SimBits = 63 // SimHash signature width (fits a signed long)
  private[graft] val JaccardT = 0.5 // verify threshold (planted dups ≥ 0.5 on testdata)
  private val HammingT = 10 // SimHash near-dup radius (calibrated on testdata)

  /** Dictionary-free shingle id: `abs(xxhash64(s)) % P`, with the abs
    * lazily guarded at Long.MinValue (ADVICE r12). Under Spark 4's
    * default ANSI mode a bare `abs(Long.MinValue)` ABORTS THE JOB — a
    * 2^-64-per-shingle fail-stop hazard that a 100 TB corpus (~10^12
    * shingles) should not carry. The guard passes the boundary value
    * through un-negated (`%` keeps the dividend's sign, matching the
    * oracle's CASE spelling in [[xxhashIdsSql]] exactly); every other
    * hash value produces the same sid as before, so all certified
    * outputs are unchanged.
    */
  private def xxhashSid(c: Column): Column = {
    val h = xxhash64(c)
    when(h === Long.MinValue, h).otherwise(abs(h)) % lit(P)
  }
  /** Posting-list document-frequency cap for the inverted-index verifier:
    * a shingle occurring in more than this many DISTINCT documents is
    * boilerplate (site chrome, license headers) and is dropped before the
    * self-join. Without it one universal shingle costs df² candidate rows —
    * the cap bounds the join at maxDf² per shingle, which is what makes the
    * exact verifier safe to run at all beyond toy scale (d03/d06 stay the
    * primary 100 TB path). Dropped shingles are stopword-shingles: excluded
    * from BOTH intersection and union, the standard near-dup treatment.
    * The cap feeds EVERY shingle consumer — d02, the d03/d06 LSH chains,
    * the d04 simhash signatures, and the Corpus pipeline — so all paths
    * agree on one Jaccard/signature universe and the exact verifier
    * remains a true oracle for what the LSH paths find.
    */
  private[graft] val MaxShingleDf = 64

  /** doc_id → exploded (doc_id, shingle) rows, docs with ≥3 tokens.
    * [[graft.Par.spread]] floors the tokenizer's parallelism when the
    * document scan is too small to split (r14: the single-row-group
    * bench files ran every shingle build on one core; no-op at
    * production scan sizes by the metadata gate).
    */
  private def shingleRowsOf(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    graft.Par.spread(docs, col("doc_id"))
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("t"))).as("s"))
  }

  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    shingleRowsOf(Tables.documents(s, dir))

  private def shingleRowsSqlFrom(src: String): String =
    s"""SELECT doc_id, unnest(${shingles3Sql("t")}) AS s
       |FROM (SELECT doc_id, ${tokensSql("text")} AS t FROM $src)
       |WHERE len(t) >= 3""".stripMargin

  private def shingleRowsSql: String = shingleRowsSqlFrom("documents")

  /** Drop shingles whose document frequency exceeds `maxDf` from a
    * (doc_id, s) frame (see [[MaxShingleDf]]). The removal is a left-anti
    * equi-join with NO broadcast hint: the hot list's true bound is
    * corpus_shingles / maxDf — LINEAR in corpus size (~10^10 entries on a
    * boilerplate-heavy 100 TB crawl), so a hard `broadcast()` here is an
    * OOM lying in wait. AQE broadcasts it at runtime whenever it is
    * actually small (every tested SF), and falls back to a shuffled join
    * when it is not — the same discipline c09's cluster join applies.
    * ONE definition of the cap contract, shared by d02 and the
    * Corpus pipeline (and their SQL mirrors via [[capShinglesSql]]).
    */
  private[graft] def capShingles(sh: DataFrame,
      maxDf: Int = MaxShingleDf): DataFrame =
    capShinglesKeep(sh, maxDf)._1

  /** [[capShingles]] exposing the internal hot-list frame so pipeline
    * callers (c13) can unpersist it eagerly once their own barrier has
    * consumed the capped rows; plain capShingles callers leave it to the
    * [[graft.Caches]] registry.
    */
  private[graft] def capShinglesKeep(sh: DataFrame,
      maxDf: Int = MaxShingleDf): (DataFrame, DataFrame) = {
    // count(*), NOT count(DISTINCT doc_id): every caller feeds per-doc
    // DISTINCT shingles (shingles3 array_distincts), so the row count IS
    // the document frequency — and a plain count partial-aggregates
    // map-side where a distinct-count would shuffle the expanded rows
    // the cache() is LOAD-BEARING for AQE: it puts a runtime-measured
    // stage boundary (TableCacheQueryStage) AFTER the df filter, so the
    // size AQE prices for the broadcast-vs-shuffle call is the TRUE
    // hot-list size — without it the join side's last stage is the
    // PRE-filter dictionary shuffle (linear in corpus), and AQE would
    // never broadcast even a tiny hot list. (A same-key repartition
    // can't provide the boundary: groupBy already hash-partitions on s,
    // so Spark elides it as redundant.) When the hot list IS oversized,
    // AQE declines the broadcast and the anti-join stays shuffled; the
    // cache spills via MEMORY_AND_DISK — the same order of disk traffic
    // the join-side shuffle write costs anyway. PlanSpec pins both
    // runtime behaviors.
    val hot = sh.groupBy("s")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select("s")
      .tracked
    (sh.join(hot, Seq("s"), "left_anti"), hot)
  }

  private[graft] def cappedShingleRows(s: SparkSession, dir: String,
      maxDf: Int = MaxShingleDf): DataFrame =
    capShingles(shingleRows(s, dir).tracked, maxDf)

  /** CTE pair `hot`/`sh(doc_id, s)` over a prior CTE `src` — mirror of
    * [[capShingles]].
    */
  private[graft] def capShinglesSql(src: String,
      maxDf: Int = MaxShingleDf): String =
    s"""hot AS (SELECT s FROM $src GROUP BY s
       |        HAVING count(*) > $maxDf),
       |sh AS (SELECT doc_id, s FROM $src
       |       WHERE s NOT IN (SELECT s FROM hot))""".stripMargin

  /** CTE chain ending in `sh(doc_id, s)` — [[cappedShingleRows]]'s mirror. */
  private def cappedShingleRowsSql(maxDf: Int = MaxShingleDf): String =
    s"""sh0 AS ($shingleRowsSql),
       |${capShinglesSql("sh0", maxDf)}""".stripMargin

  /** (doc_id, sid) with sids from the sorted shingle dictionary.
    *
    * Id assignment is a RANGE-PARTITIONED sort + `zipWithIndex` — not
    * `row_number() over (ORDER BY s)`, which would collapse the whole
    * dictionary into one partition. zipWithIndex preserves the global sort
    * order across partitions (one small count job, then a per-partition
    * offset add), so ids are identical to the oracle's `row_number` while
    * the sort itself stays parallel — the difference between a 3 s stage
    * and a single-task bottleneck at 100 TB dictionary sizes.
    */
  private def shingleIds(s: SparkSession, dir: String): DataFrame =
    shingleIdsOf(s, Tables.documents(s, dir))

  private def shingleIdsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    // the df cap is FUSED into the dictionary build: EVERY shingle path
    // (d02 exact, d03/d06 LSH, d04 simhash) consumes the same capped
    // universe, so all paths share ONE Jaccard definition — and since the
    // id join against the dictionary happens anyway, capping here means
    // over-df shingles simply get no id (the inner join drops them) at
    // ZERO extra jobs: the distinct pass becomes a count pass
    val sh = shingleRowsOf(docs).tracked
    val dict = sh.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf)
      .select("s").orderBy("s").as[String]
      .rdd.zipWithIndex.map { case (sv, i) => (sv, i + 1) }
      .toDF("s", "sid")
    sh.join(dict, "s").select("doc_id", "sid")
  }

  private def shingleIdsSqlFrom(src: String): String =
    s"""sh AS (${shingleRowsSqlFrom(src)}),
       |dict AS (SELECT s, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS sid
       |         FROM (SELECT s FROM sh GROUP BY s
       |               HAVING count(*) <= $MaxShingleDf)),
       |ds AS (SELECT doc_id, sid FROM sh JOIN dict USING (s))""".stripMargin

  private def shingleIdsSql: String = shingleIdsSqlFrom("documents")

  /** d01 — exact dedup by content: the corpus unioned with a re-keyed copy
    * of itself (dup factor 2 by construction), grouped by the char
    * fingerprint + full text, keeping the min doc_id — the canonical
    * hash-groupBy dedup. One shuffle on the group key; at 100 TB group on
    * the 8-byte fingerprint (skew-free) with the full text only as a
    * residual equality check.
    */
  def d01ExactDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val dup = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    docs.union(dup)
      .withColumn("fingerprint", charFingerprint(col("text")))
      .groupBy(col("fingerprint"), col("text"))
      .agg(min(col("doc_id")).as("kept_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("kept_doc_id"), col("fingerprint"), col("n_copies"))
      .orderBy("kept_doc_id")
  }

  private def d01Sql =
    s"""SELECT min(doc_id) AS kept_doc_id,
       |  ${charFingerprintSql("text")} AS fingerprint,
       |  CAST(count(*) AS BIGINT) AS n_copies
       |FROM (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
       |GROUP BY fingerprint, text ORDER BY kept_doc_id""".stripMargin

  /** d02 — n-gram Jaccard near-dup pairs via the inverted index: explode
    * shingles, equi-join on shingle (only docs SHARING a shingle ever meet —
    * never the quadratic cross product), count intersections, Jaccard =
    * |∩| / (|A|+|B|−|∩|), keep ≥ 0.5.
    *
    * Scale: cost is Σ per-shingle df² — so boilerplate shingles are capped
    * at [[MaxShingleDf]] documents before the join (a universal shingle no
    * longer yields n² candidates); d03's LSH still replaces this wholesale
    * at 100 TB; here it doubles as the exact verifier. Shuffles: one on
    * shingle, one on the pair key — both keyed by the 8-byte dictionary
    * sid, NOT the shingle string: the Σdf² candidate stream dominates this
    * query's bytes, and re-keying it long-vs-string cut the sf1 (500 MB
    * corpus) shuffle footprint ~4× (the string-keyed spelling wrote 76 GB
    * of spill before exhausting sandbox disk).
    */
  def d02NgramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val ds = shingleIds(s, dir).tracked
    exactJaccardPairs(ds).orderBy("id_a", "id_b")
  }

  /** Exact-Jaccard ≥ [[JaccardT]] pairs (id_a, id_b, jaccard) from a
    * (doc_id, sid) inverted-index frame — d02's core, extracted so the
    * ground truth d10's banding-curve evaluation grades is BY CONSTRUCTION
    * the same definition d02 publishes (mirrors the SQL side sharing
    * [[shingleIdsSql]]).
    */
  private def exactJaccardPairs(ds: DataFrame): DataFrame = {
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ds.as("a")
      .join(ds.as("b"), col("a.sid") === col("b.sid")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        r(col("c").cast("double")
          / (col("sa.n") + col("sb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
  }

  /** 16-permutation MinHash signature of a (doc_id, sid) frame — ONE
    * spelling shared by d03 (dictionary ids), d06 (xxhash ids), and the
    * d10 evaluation, so "the band scheme being graded" can never drift
    * from "the band scheme that runs".
    */
  private def minhashSig(ds: DataFrame): DataFrame =
    ds.groupBy("doc_id")
      .agg(min(perm(0, col("sid"))).as("h1"),
        (1 until NumPerm).map(j => min(perm(j, col("sid"))).as(s"h${j + 1}")): _*)

  /** (doc_id, band, bk) band-bucket rows of a [[minhashSig]] frame:
    * [[Bands]] bands × 2 rows per signature.
    */
  private def bandRows(sig: DataFrame): DataFrame = {
    val bandCols = (1 to Bands).map(b => struct(lit(b).as("band"),
      concat_ws("_", col(s"h${2 * b - 1}"), col(s"h${2 * b}")).as("bk")))
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.bk"))
  }

  /** Band-bucket equi-join: candidate pairs (id_a < id_b) with id_a from
    * `x` and id_b from `y` — split sides so the incremental arm (d13)
    * can shrink the NEW side to the increment before the join.
    */
  private def bandJoin(x: DataFrame, y: DataFrame): DataFrame =
    x.as("x")
      .join(y.as("y"), col("x.band") === col("y.band")
        && col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()

  /** Band-bucket candidate pairs (id_a < id_b) of a [[minhashSig]] frame:
    * [[Bands]] bands × 2 rows, equi-join on (band, bucket-key).
    */
  private def lshCandidates(sig: DataFrame): DataFrame = {
    val bands = bandRows(sig)
    bandJoin(bands, bands)
  }

  private def d02Sql =
    s"""WITH $shingleIdsSql,
       |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |          FROM ds a JOIN ds b ON a.sid = b.sid AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  ${rSql("CAST(c AS DOUBLE) / (sa.n + sb.n - c)", 4)} AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE ${rSql("CAST(c AS DOUBLE) / (sa.n + sb.n - c)", 4)} >= $JaccardT
       |ORDER BY id_a, id_b""".stripMargin

  /** d03 — MinHash + LSH near-dup detection, the scalable dedup pipeline:
    * shingle → 16-permutation MinHash signature → 8 bands × 2 rows →
    * band-bucket equi-join for candidates → exact-Jaccard verify ≥ 0.5.
    *
    * Scale: signatures are one groupBy over (doc, shingle-id); the band join
    * touches only bucket collisions (P(collide | j=0.9) ≈ 1, | j=0.025) ≈
    * 0.5%), so candidate verification is near-linear. This is the shape that
    * replaces d02's inverted-index blowup at 100 TB. Estimated Jaccard
    * (signature agreement / 16) is reported next to the exact value.
    */
  def d03MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val ds = shingleIds(s, dir).tracked
    val sig = minhashSig(ds).tracked
    val cand = lshCandidates(sig)
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(ds.as("p"), col("id_a") === col("p.doc_id"))
      .join(ds.as("q"), col("id_b") === col("q.doc_id")
        && col("p.sid") === col("q.sid"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
    val est = cand
      .join(sig.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        r((1 to NumPerm).map(j =>
          when(col(s"sa.h$j") === col(s"sb.h$j"), 1).otherwise(0))
          .reduce(_ + _).cast("double") / NumPerm, 4).as("est_jaccard"))
    inter
      .join(sizes.as("za"), col("id_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.doc_id"))
      .select(col("id_a"), col("id_b"),
        r(col("c").cast("double")
          / (col("za.n") + col("zb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
      .join(est, Seq("id_a", "id_b"))
      .select("id_a", "id_b", "jaccard", "est_jaccard")
      .orderBy("id_a", "id_b")
  }

  /** Shared LSH-verify SQL: CTEs `sig/bands/cand/sizes/inter` over a prior
    * `ds(doc_id, sid)` CTE — the band-bucket candidate + exact-Jaccard
    * chain used by both the d03 oracle and (as an id-independence oracle)
    * the d06 oracle.
    */
  private def lshCoreSql = {
    val mins = (0 until NumPerm)
      .map(j => s"min(${permSql(j, "sid")}) AS h${j + 1}").mkString(",\n    ")
    val bands = (1 to Bands).map(b =>
      s"SELECT doc_id, $b AS band, CAST(h${2 * b - 1} AS VARCHAR) || '_' || " +
        s"CAST(h${2 * b} AS VARCHAR) AS bk FROM sig").mkString(" UNION ALL ")
    s"""sig AS (SELECT doc_id, $mins FROM ds GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bk = y.bk AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
       |inter AS (SELECT c.id_a, c.id_b, count(*) AS c
       |          FROM cand c
       |          JOIN ds p ON p.doc_id = c.id_a
       |          JOIN ds q ON q.doc_id = c.id_b AND q.sid = p.sid
       |          GROUP BY 1, 2)""".stripMargin
  }

  private def d03Sql = {
    val agree = (1 to NumPerm)
      .map(j => s"CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $shingleIdsSql,
       |$lshCoreSql,
       |est AS (SELECT c.id_a, c.id_b,
       |          ${rSql(s"CAST($agree AS DOUBLE) / $NumPerm", 4)} AS est_jaccard
       |        FROM cand c
       |        JOIN sig sa ON sa.doc_id = c.id_a
       |        JOIN sig sb ON sb.doc_id = c.id_b)
       |SELECT i.id_a, i.id_b,
       |  ${rSql("CAST(i.c AS DOUBLE) / (za.n + zb.n - i.c)", 4)} AS jaccard,
       |  est.est_jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.id_a
       |JOIN sizes zb ON zb.doc_id = i.id_b
       |JOIN est ON est.id_a = i.id_a AND est.id_b = i.id_b
       |WHERE ${rSql("CAST(i.c AS DOUBLE) / (za.n + zb.n - i.c)", 4)} >= $JaccardT
       |ORDER BY i.id_a, i.id_b""".stripMargin
  }

  /** (doc_id, sh) — the 63-bit SimHash signature: bit b set iff
    * Σ_{shingles} ±1 > 0 under the per-bit hash mix. One groupBy over the
    * shingle rows; shared by the all-pairs [[d04Simhash]] verifier and the
    * banded [[d04bSimhashBanded]] scale path.
    */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    val ds = shingleIds(s, dir)
    val bitSums = ds.groupBy("doc_id")
      .agg(sum(when(simBit(0, col("sid")), 1).otherwise(-1)).as("bb0"),
        (1 until SimBits).map(j =>
          sum(when(simBit(j, col("sid")), 1).otherwise(-1)).as(s"bb$j")): _*)
    val sigExpr = (0 until SimBits).map(j =>
      when(col(s"bb$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    bitSums.select(col("doc_id"), sigExpr.cast("long").as("sh"))
  }

  /** Shared SQL CTEs ending in `sig(doc_id, sh)` — mirror of
    * [[simhashSigs]].
    */
  private def simhashSigSql = {
    val bits = (0 until SimBits).map(j =>
      s"sum(CASE WHEN ${simBitSql(j, "sid")} THEN 1 ELSE -1 END) AS bb$j")
      .mkString(",\n    ")
    val sig = (0 until SimBits).map(j =>
      s"(CASE WHEN bb$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""$shingleIdsSql,
       |bitsum AS (SELECT doc_id, $bits FROM ds GROUP BY doc_id),
       |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS sh FROM bitsum)""".stripMargin
  }

  /** d04 — SimHash near-dup: pairs at hamming distance ≤ 10. The all-pairs
    * hamming scan here is O(n²) on doc COUNT (not content) — it is the
    * small-scale exactness oracle; [[d04bSimhashBanded]] is the 100 TB
    * path (same relationship as d02 ↔ d03).
    */
  def d04Simhash(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashSigs(s, dir)
    sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.sh ^ b.sh)").cast("long").as("hamming"))
      .filter(col("hamming") <= HammingT)
      .orderBy("id_a", "id_b")
  }

  /** All-pairs SimHash SQL at hamming radius `t` — the oracle for BOTH d04
    * (t = [[HammingT]]) and the banded d04b (t = [[BandRadius]]): d04b's
    * banding is LOSSLESS at its radius, so the straightforward all-pairs
    * SQL must produce the identical pair set — the oracle row proves it.
    */
  private def d04SqlAt(t: Int) =
    s"""WITH $simhashSigSql
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= $t
       |ORDER BY id_a, id_b""".stripMargin

  private val SimBands = 4 // 16-bit chunks of the 63-bit signature
  /** Banded-candidate radius. MUST stay < [[SimBands]]: a pair differing in
    * ≤ 3 bits cannot differ in all 4 disjoint chunks (pigeonhole), so at
    * least one chunk matches exactly and the band join finds every pair —
    * no false negatives. This is the Manku et al. WWW'07 near-dup config
    * (64-bit simhash, k = 3, 4 blocks).
    */
  private val BandRadius = 3

  /** d04b — the 100 TB SimHash path: block on the 4 disjoint 16-bit chunks
    * of the signature, equi-join on (chunk index, chunk value) for
    * candidates — only docs agreeing EXACTLY on some chunk ever meet, never
    * the quadratic cross product — then verify true hamming ≤ 3.
    *
    * Scale: the band join is an equi-shuffle keyed by 2^16 values per band
    * (× 4 bands); candidate count is bounded by per-bucket df², the same
    * contract as d03's LSH bands. The radius/band trade-off is pigeonhole-
    * rigid (radius < bands); a larger radius needs more, narrower chunks.
    */
  def d04bSimhashBanded(s: SparkSession, dir: String): DataFrame = {
    val sig = simhashSigs(s, dir).tracked
    val bandCols = (0 until SimBands).map(b => struct(lit(b).as("band"),
      shiftrightunsigned(col("sh"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bk")))
    val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bk").as("bk"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    cand.join(sig.as("a"), col("id_a") === col("a.doc_id"))
      .join(sig.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(a.sh ^ b.sh)").cast("long").as("hamming"))
      .filter(col("hamming") <= BandRadius)
      .orderBy("id_a", "id_b")
  }

  /** d06 — the 100 TB MinHash path: ids straight from `xxhash64(shingle)`
    * (no dictionary, no global sort — pure scan + one groupBy), same LSH
    * bands, same exact verify. Oracle: DuckDB lacks xxhash64, but the
    * VERIFIED output (pairs with exact shingle-Jaccard ≥ 0.5) agrees with
    * the dictionary-id chain whenever every true pair band-collides under
    * BOTH id assignments — so [[d06Sql]] reuses the dictionary-id LSH
    * chain (d03's SQL minus its signature-estimate column) as the oracle,
    * which also pins the RECALL equivalence of the two band paths
    * (ScalePathSpec asserts the same equality with a readable diff).
    *
    * Scope of that equivalence, measured: exact at the sf0.01 gate and at
    * sf0.1; at sf1 (245k+ output pairs) the two id assignments diverge on
    * 500 borderline pairs (+0.2%, the xxhash side finding MORE) — as LSH
    * probability says they must once enough pairs sit near the threshold:
    * P(candidate | j=0.5) = 1−(1−j²)^8 ≈ 0.90 per id permutation, so
    * candidate membership for near-threshold pairs is id-dependent even
    * though every emitted pair is exactly verified. Not an error in
    * either path — it is the documented recall behavior of banded LSH.
    */
  def d06MinhashXxhashScale(s: SparkSession, dir: String): DataFrame =
    lshVerifiedPairs(
      cappedShingleRows(s, dir) // same cap contract as every path
        .select(col("doc_id"), xxhashSid(col("s")).as("sid")).tracked)
      .orderBy("id_a", "id_b")

  /** MinHash→band→exact-verify pairs of a (doc_id, sid) frame — d06's
    * body, extracted so the d12 id-dependence contract can run the SAME
    * chain under both id assignments on any corpus.
    */
  private[graft] def lshVerifiedPairs(ds: DataFrame): DataFrame =
    verifyCandidates(ds, lshCandidates(minhashSig(ds)))

  /** Exact-Jaccard verify of a caller-supplied candidate pair frame —
    * the tail of [[lshVerifiedPairs]], shared with the incremental arm
    * (d13), whose candidate stage restricts the band join's new side.
    */
  private def verifyCandidates(ds: DataFrame, cand: DataFrame): DataFrame =
    verifyCandidatesSized(ds,
      ds.groupBy("doc_id").agg(count(lit(1)).as("n")), cand)

  /** [[verifyCandidates]] with CALLER-SUPPLIED per-doc set sizes — the
    * indexed incremental arm (d14) reads sizes from its persisted table
    * instead of re-aggregating the whole corpus per probe.
    */
  private def verifyCandidatesSized(ds: DataFrame, sizes: DataFrame,
      cand: DataFrame): DataFrame = {
    cand
      .join(ds.as("p"), col("id_a") === col("p.doc_id"))
      .join(ds.as("q"), col("id_b") === col("q.doc_id")
        && col("p.sid") === col("q.sid"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      .join(sizes.as("za"), col("id_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("id_b") === col("zb.doc_id"))
      .select(col("id_a"), col("id_b"),
        r(col("c").cast("double")
          / (col("za.n") + col("zb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
  }

  /** d07 — cluster formation + canonicalization: the step that turns a
    * PAIR list into the actual dedup decision. Near-dup pairs form a graph;
    * its connected components are the duplicate clusters; the minimum
    * doc_id in each cluster is kept (the keep-first policy applied at
    * cluster level — pairwise keep-first alone mis-drops on chains
    * A~B~C where A!~C). Output: every clustered doc with its canonical id,
    * cluster size, and keep flag.
    *
    * Pairs come from the exact d02 verifier here; at 100 TB the pair stage
    * swaps for d03/d06 (same (id_a, id_b) interface) and the CC runs on
    * GraphX exactly as below — Pregel label propagation, each superstep a
    * co-partitioned local join, no driver state.
    */
  def d07DedupClusters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph, VertexId}
    val session = s
    import session.implicits._
    val pairs = d02NgramJaccardPairs(s, dir).select(col("id_a"), col("id_b"))
    val edgeRdd = pairs.as[(Long, Long)].rdd
      .map { case (a, b) => Edge(a: VertexId, b: VertexId, 1) }
    // vertices = pair members only (singletons are trivially kept and
    // stay out of the iterative step); GraphX CC labels each component
    // with its min member id — exactly the canonical id the oracle computes
    val cc = Graph.fromEdges(edgeRdd, ())
      .connectedComponents().vertices.toDF("doc_id", "canonical_id")
    val sizes = cc.groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        (col("doc_id") === col("canonical_id")).as("is_kept"))
      .orderBy("canonical_id", "doc_id")
  }

  /** See [[d06MinhashXxhashScale]]'s scaladoc for why the dictionary-id
    * chain is a legitimate exact oracle for the xxhash-id path (the
    * driver's vanilla-DuckDB gate spelling). [[altOracles]] carries the
    * EXACT-id spelling for the certification sweeps.
    */
  private def d06Sql = d06SqlOver(shingleIdsSql)

  private def d06SqlOver(ids: String) =
    s"""WITH $ids,
       |$lshCoreSql
       |SELECT i.id_a, i.id_b,
       |  ${rSql("CAST(i.c AS DOUBLE) / (za.n + zb.n - i.c)", 4)} AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.id_a
       |JOIN sizes zb ON zb.doc_id = i.id_b
       |WHERE ${rSql("CAST(i.c AS DOUBLE) / (za.n + zb.n - i.c)", 4)} >= $JaccardT
       |ORDER BY i.id_a, i.id_b""".stripMargin

  /** CTE chain ending in `ds(doc_id, sid)` with sids from
    * `abs(xxh64(s)) % P` — the EXACT mirror of the engine's dictionary-
    * free id assignment ([[d06MinhashXxhashScale]]). `xxh64` is not a
    * DuckDB built-in: tools/check_oracle.py registers it (--alt) as a
    * Python UDF implementing XXH64 seed 42 over UTF-8 bytes — bit-equal
    * to Spark's `xxhash64` (XxHashSpec pins the equality on fixtures).
    * Under this spelling banded-LSH candidate membership is identical on
    * BOTH sides, so d06/d12 certify exact at EVERY SF — the sf≥1
    * "+500 borderline pairs" id-dependence contract retires.
    *
    * Long.MinValue boundary (ADVICE r12): a bare `abs(-2^63)` aborts in
    * BOTH engines (Spark 4 default-ANSI overflow, DuckDB out-of-range) —
    * fail-stop symmetric, but a 2^-64-per-shingle job-abort hazard at
    * corpus scale. Both sides now guard identically: the engine via
    * [[xxhashSid]]'s lazy `when`, the oracle via this CASE — the
    * boundary value passes through un-negated on both (each engine's `%`
    * keeps the dividend's sign), every other hash is unchanged.
    */
  private def xxhashIdsSql: String =
    s"""${cappedShingleRowsSql()},
       |ds AS (SELECT doc_id,
       |  (CASE WHEN xxh64(s) = -9223372036854775807 - 1 THEN xxh64(s)
       |        ELSE abs(xxh64(s)) END) % $P AS sid FROM sh)""".stripMargin

  /** CTE chain ending in `cc(doc_id, canonical_id)` — the near-dup cluster
    * closure over the d02 exact pair set that [[d07DedupClusters]]'s oracle
    * builds on ([[c09LeakageSafeSplit]]'s oracle has its own closure over
    * the d08 canonical pair set — the scale path).
    */
  private def ccClusterCtes =
    s"""pairs AS (SELECT id_a, id_b FROM ($d02Sql)),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |verts AS (SELECT DISTINCT src AS id FROM e),
       |reach(id, x) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN e ON r.x = e.src),
       |cc AS (SELECT id AS doc_id, min(x) AS canonical_id FROM reach GROUP BY 1)""".stripMargin

  private def d07Sql =
    s"""WITH RECURSIVE $ccClusterCtes,
       |sizes AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
       |          FROM cc GROUP BY 1)
       |SELECT doc_id, canonical_id, cluster_size,
       |  doc_id = canonical_id AS is_kept
       |FROM cc JOIN sizes USING (canonical_id)
       |ORDER BY canonical_id, doc_id""".stripMargin

  /** d08 — the production composition: EXACT dedup first (d01's
    * hash-groupBy, keep min doc_id per distinct text), THEN the exact
    * Jaccard verifier over the canonical corpus only.
    *
    * Why this exists as its own operator: d02's candidate stream is
    * Σ df² over shingles, and df scales with the corpus's VERBATIM
    * replication factor r — so the pair stage is O(r²) in duplication,
    * not O(r) in data. Measured concretely on the sf1 scale-up (10×
    * verbatim replicas): d02's candidate stream grew ~100× vs sf0.1 and
    * exhausted 79 GB of spill disk, while this spelling collapses the
    * replicas first (one linear hash-groupBy) and runs the same verifier
    * on the r×-smaller canonical set. This is the standard large-corpus
    * pipeline order (exact dedup → near-dup → LSH at the top end) and the
    * reason a 100 TB crawl with heavy boilerplate duplication is
    * tractable at all: the quadratic stage only ever sees distinct text.
    * Pair ids are canonical (min) doc_ids.
    */
  def d08NeardupAfterDedup(s: SparkSession, dir: String): DataFrame =
    verifiedPairsOn(capShingles(canonShingleRows(s, dir).tracked).tracked)
      .orderBy("id_a", "id_b")

  /** Exploded (doc_id, shingle) rows of the CANONICAL corpus (min doc_id
    * per distinct text) — d08's and c09's shared pre-pair frame.
    */
  private def canonShingleRows(s: SparkSession, dir: String): DataFrame = {
    val canon = Tables.documents(s, dir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val t = tokens(col("text"))
    // spread (r14): the canonical groupBy's output is byte-tiny, so AQE
    // coalesces it to 1-2 partitions and the shingle explosion above it
    // would run near-serial — same fix as shingleRowsOf (d08 measured
    // 2.0 -> 1.24 s; c09/c14 readings fluctuate with their GraphX CC
    // stage's timing either way)
    graft.Par.spread(canon, col("doc_id"))
      .select(col("doc_id"), t.as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(shingles3(col("t"))).as("s"))
  }

  /** Exact-Jaccard ≥ [[JaccardT]] pairs of a (doc_id, s) frame — the
    * inverted-index verify shape on raw shingle strings, shared by d08
    * (canonical-universe cap), c09 (full-corpus-universe cap), and the
    * c13 composed pipeline (gated-canonical-universe cap).
    */
  private[graft] def verifiedPairsOn(ds: DataFrame): DataFrame = {
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ds.as("a")
      .join(ds.as("b"), col("a.s") === col("b.s")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("c"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        r(col("c").cast("double")
          / (col("sa.n") + col("sb.n") - col("c")), 4).as("jaccard"))
      .filter(col("jaccard") >= JaccardT)
  }

  /** CTE chain `canon/sh0/hot/sh/sizes/inter` — d08's exact-after-dedup
    * verifier over canonical texts (cap universe = canonical corpus; the
    * c09 oracle spells its own chain with the FULL-corpus cap).
    */
  private def d08CoreCtes =
    s"""canon AS (SELECT min(doc_id) AS doc_id, text
       |          FROM documents GROUP BY text),
       |sh0 AS (SELECT doc_id, unnest(${shingles3Sql("t")}) AS s
       |        FROM (SELECT doc_id, ${tokensSql("text")} AS t FROM canon)
       |        WHERE len(t) >= 3),
       |${capShinglesSql("sh0")},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)""".stripMargin

  private def d08Sql =
    s"""WITH $d08CoreCtes
       |SELECT id_a, id_b,
       |  ${rSql("CAST(c AS DOUBLE) / (sa.n + sb.n - c)", 4)} AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE ${rSql("CAST(c AS DOUBLE) / (sa.n + sb.n - c)", 4)} >= $JaccardT
       |ORDER BY id_a, id_b""".stripMargin

  /** Edit-distance threshold for [[r01RecordLinkage]]. */
  val LinkageT = 2

  /** r01 — record linkage (entity resolution) by blocking + edit distance:
    * the catalog's distinct (brand, name) records are candidate-matched
    * only within their blocking key (the brand) and linked when
    * `levenshtein(name_a, name_b) <= LinkageT`, canonical `name_a <
    * name_b` so each undirected link appears once. This is the classic
    * two-stage ER shape (Fellegi-Sunter blocking then pairwise compare):
    * the O(n²) comparison space collapses to Σ per-block size², and the
    * expensive string metric runs only inside blocks.
    *
    * Scale: records-per-block is bounded by the catalog's brand fan-out,
    * not corpus size — the block join is a plain equi-shuffle on the
    * blocking key, AQE splits a skewed mega-brand, and `levenshtein` is a
    * codegen'd Catalyst built-in residual. At 100 TB you'd add a second
    * blocking pass on a different key (e.g. name prefix) and union the
    * candidate sets — same plan shape, two shuffles.
    */
  def r01RecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val recs = Tables.part(s, dir)
      .select(col("p_brand"), col("p_name")).distinct()
    recs.as("a").join(recs.as("b"),
        col("a.p_brand") === col("b.p_brand")
          && col("a.p_name") < col("b.p_name")
          && levenshtein(col("a.p_name"), col("b.p_name")) <= LinkageT)
      .select(col("a.p_brand").as("p_brand"),
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        levenshtein(col("a.p_name"), col("b.p_name")).cast("long").as("dist"))
      .orderBy("p_brand", "name_a", "name_b")
  }

  private def r01Sql =
    s"""WITH recs AS (SELECT DISTINCT p_brand, p_name FROM part)
       |SELECT a.p_brand AS p_brand, a.p_name AS name_a, b.p_name AS name_b,
       |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       |FROM recs a JOIN recs b
       |  ON a.p_brand = b.p_brand AND a.p_name < b.p_name
       |  AND levenshtein(a.p_name, b.p_name) <= $LinkageT
       |ORDER BY a.p_brand, name_a, name_b""".stripMargin

  /** Jaro–Winkler similarity floor for [[r02JaroLinkage]] (snapped to 4 dp
    * before the comparison, the module's threshold discipline).
    */
  val JaroT = 0.9

  /** r02 — record linkage by blocking + JARO–WINKLER similarity: r01's
    * two-stage ER shape with the prefix-weighted metric fuzzy name
    * matching actually uses (unit-cost edit distance treats a first-letter
    * typo and a suffix typo alike; names and product labels corrupt at the
    * END far more often, which is exactly what Winkler's prefix boost
    * encodes). The metric is the library's own codegen'd
    * [[graft.functions.JaroWinkler]] expression; the ORACLE side runs
    * DuckDB's independent native `jaro_winkler_similarity` — so this check
    * cross-engine-validates the kernel itself, not just the query.
    *
    * Scale: identical to r01 — Σ per-block size² comparisons, equi-shuffle
    * on the blocking key, the metric a codegen'd residual predicate.
    */
  def r02JaroLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringFunctions.jaroWinkler
    val recs = Tables.part(s, dir)
      .select(col("p_brand"), col("p_name")).distinct()
    val sim = r(jaroWinkler(col("a.p_name"), col("b.p_name")), 4)
    recs.as("a").join(recs.as("b"),
        col("a.p_brand") === col("b.p_brand")
          && col("a.p_name") < col("b.p_name"))
      .filter(sim >= JaroT)
      .select(col("a.p_brand").as("p_brand"),
        col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        sim.as("jw_sim"))
      .orderBy("p_brand", "name_a", "name_b")
  }

  private def r02Sql = {
    val sim = rSql("jaro_winkler_similarity(a.p_name, b.p_name)", 4)
    s"""WITH recs AS (SELECT DISTINCT p_brand, p_name FROM part)
       |SELECT a.p_brand AS p_brand, a.p_name AS name_a, b.p_name AS name_b,
       |  $sim AS jw_sim
       |FROM recs a JOIN recs b
       |  ON a.p_brand = b.p_brand AND a.p_name < b.p_name
       |WHERE $sim >= $JaroT
       |ORDER BY a.p_brand, name_a, name_b""".stripMargin
  }

  /** c09 — LEAKAGE-SAFE train/val/test split: assign every document a
    * split by hashing its NEAR-DUP CLUSTER id (the GraphX closure over the
    * near-dup pair graph; singletons are their own cluster), never its own
    * id — the split hygiene rule training pipelines get wrong most often:
    * hash the doc id and two near-duplicates straddle train and test,
    * leaking the answer. Hashing the CANONICAL id makes
    * same-cluster-same-split true BY CONSTRUCTION (spec-asserted), not by
    * post-hoc filtering. Knuth-bucket 10-way: 0–7 train, 8 val, 9 test.
    *
    * Scale (this is the one operator that MUST run at full corpus size —
    * splitting a sample is useless): the pair stage uses d08's
    * exact-dedup-FIRST composition, proven at sf1 where the corpus-wide
    * d02 verifier hit its O(replication²) spill wall — verbatim replicas
    * collapse in one linear hash-groupBy and only the canonical texts
    * enter the quadratic join. One refinement beyond d08 makes the
    * no-straddle invariant STRUCTURAL rather than observed: the df-cap's
    * hot list is computed over the FULL corpus (one linear groupBy —
    * exactly d02's cap set), so a replica carries precisely its
    * canonical's capped shingles and every d02-verified pair (a,b) IS the
    * pair (ec(a), ec(b)) at identical Jaccard here. (d08's own
    * canonical-universe cap can keep a shingle the full-corpus cap drops,
    * letting a d02 pair verify differently — fine for d08's contract,
    * not for a leakage guarantee.) Each doc maps to its exact canonical
    * (min doc_id over identical text, a null-safe window — at 100 TB key
    * this shuffle on the 8-byte fingerprint as in d01, text as residual),
    * the canonical maps to its near-dup CC label, and the closure covers
    * verbatim + near-dup transitively. The final cluster join carries NO
    * broadcast hint — the cluster table grows with the corpus's near-dup
    * rate (30–50 % on web crawls → multi-TB), so AQE decides: broadcast
    * when actually small, shuffle join otherwise.
    */
  def c09LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph, VertexId}
    import org.apache.spark.sql.expressions.Window
    val session = s
    import session.implicits._
    // exact canonical per doc: min doc_id over identical text. A window
    // (not groupBy+join) so NULL text is handled null-safely for free —
    // both engines partition NULLs into one group.
    val docEc = Tables.documents(s, dir)
      .select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(col("text"))).as("ec"))
    // boilerplate cap from the FULL corpus (d02's universe), pair join on
    // canonical texts only; no broadcast hint — the hot list is tiny but
    // AQE should prove it at runtime
    val hot = shingleRows(s, dir).groupBy("s")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("s")
    val pairs = verifiedPairsOn(
        canonShingleRows(s, dir).join(hot, Seq("s"), "left_anti").tracked)
      .select(col("id_a"), col("id_b"))
    val edgeRdd = pairs.as[(Long, Long)].rdd
      .map { case (a, b) => Edge(a: VertexId, b: VertexId, 1) }
    val cc = Graph.fromEdges(edgeRdd, ())
      .connectedComponents().vertices.toDF("ec_id", "canonical_id")
    val bucket = Det.knuthBucket(col("cluster_id"), 10L)
    docEc
      .join(cc, docEc("ec") === cc("ec_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("ec")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        when(bucket <= 7L, "train").when(bucket === 8L, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** c14 — split-leakage audit: how many duplicate/near-duplicate pairs
    * CROSS a split boundary under (a) the naive per-document hash split a
    * team ships before thinking about dup structure, vs (b) c09's
    * cluster-bucket split. Two docs are leak-related iff they share a
    * c09 cluster (identical text, or connected through the verified
    * ≥-0.5-Jaccard near-dup graph); a crossing pair trains on one side
    * and evaluates on the other — the contamination this audit prices.
    * The cluster-bucket row is the self-certifying control: by
    * construction its `leak_pairs` is 0 (a cluster is atomic under the
    * split rule), which the spec pins.
    *
    * Scale: NO pair materialization — per (scheme, cluster, split)
    * counts n_s fold into crossing pairs as (n² − Σ n_s²) div 2 and dup
    * pairs as n(n−1) div 2, pure integer arithmetic over a frame the
    * size of the cluster count. The pair-shaped cost lives in c09's own
    * verified-pair build, which this composes, not re-derives.
    */
  def c14LeakageAudit(s: SparkSession, dir: String): DataFrame = {
    val naive = Det.knuthBucket(col("doc_id"), 10L)
    val base = c09LeakageSafeSplit(s, dir)
      .select(col("cluster_id"), col("split").as("cluster_split"),
        when(naive <= 7L, "train").when(naive === 8L, "val")
          .otherwise("test").as("naive_split"))
      .tracked
    val sch = base.select(lit("cluster_bucket").as("scheme"),
        col("cluster_id"), col("cluster_split").as("split"))
      .unionAll(base.select(lit("naive_hash").as("scheme"),
        col("cluster_id"), col("naive_split").as("split")))
    val per = sch.groupBy("scheme", "cluster_id", "split")
      .agg(count(lit(1)).as("ns"))
      .groupBy("scheme", "cluster_id")
      .agg(sum(col("ns")).as("n"), sum(col("ns") * col("ns")).as("sq"))
    per.groupBy("scheme")
      .agg(sum(when(col("n") > 1, 1L).otherwise(0L)).as("multi_doc_clusters"),
        sum(expr("n * (n - 1) div 2")).as("dup_pairs"),
        sum(expr("(n * n - sq) div 2")).as("leak_pairs"))
      .select(col("scheme"), col("multi_doc_clusters"), col("dup_pairs"),
        col("leak_pairs"),
        when(col("dup_pairs") === 0L, lit(0.0))
          .otherwise(r(col("leak_pairs").cast("double")
            / col("dup_pairs").cast("double"), 6)).as("leak_rate"))
      .orderBy("scheme")
  }

  private def c14Sql = {
    val naive = Det.sqlKnuthBucket("doc_id", 10L)
    s"""WITH RECURSIVE ${c09Cte()},
       |base AS (
       |  SELECT cluster_id, split AS cluster_split,
       |    CASE WHEN $naive <= 7 THEN 'train'
       |         WHEN $naive = 8 THEN 'val' ELSE 'test' END AS naive_split
       |  FROM splits),
       |sch AS (
       |  SELECT 'cluster_bucket' AS scheme, cluster_id,
       |         cluster_split AS split FROM base
       |  UNION ALL
       |  SELECT 'naive_hash', cluster_id, naive_split FROM base),
       |per AS (
       |  SELECT scheme, cluster_id, sum(ns) AS n, sum(ns * ns) AS sq
       |  FROM (SELECT scheme, cluster_id, split, count(*) AS ns
       |        FROM sch GROUP BY 1, 2, 3)
       |  GROUP BY 1, 2)
       |SELECT scheme,
       |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS multi_doc_clusters,
       |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS dup_pairs,
       |  CAST(sum((n * n - sq) // 2) AS BIGINT) AS leak_pairs,
       |  CASE WHEN sum(n * (n - 1) // 2) = 0 THEN 0.0
       |       ELSE ${rSql(
              "CAST(sum((n * n - sq) // 2) AS DOUBLE)" +
                " / CAST(sum(n * (n - 1) // 2) AS DOUBLE)", 6)}
       |  END AS leak_rate
       |FROM per GROUP BY scheme ORDER BY scheme""".stripMargin
  }

  private def c09Sql =
    s"""WITH RECURSIVE ${c09Cte()}
       |SELECT doc_id, cluster_id, split FROM splits
       |ORDER BY doc_id""".stripMargin

  /** The c09 chain (canon → verified pairs → CC clusters → split rule) as
    * a reusable CTE ending in `splits(doc_id, cluster_id, split)` — the
    * c14 leakage-audit oracle composes it. Must follow `WITH RECURSIVE`.
    */
  private def c09Cte() = {
    val bucket = Det.sqlKnuthBucket("cluster_id", 10L)
    val j = rSql("CAST(c AS DOUBLE) / (sa.n + sb.n - c)", 4)
    s"""canon AS (SELECT min(doc_id) AS doc_id, text
       |          FROM documents GROUP BY text),
       |shf AS ($shingleRowsSql),
       |hot AS (SELECT s FROM shf GROUP BY s
       |        HAVING count(*) > $MaxShingleDf),
       |shc AS (SELECT doc_id, unnest(${shingles3Sql("t")}) AS s
       |        FROM (SELECT doc_id, ${tokensSql("text")} AS t FROM canon)
       |        WHERE len(t) >= 3),
       |sh AS (SELECT doc_id, s FROM shc
       |       WHERE s NOT IN (SELECT s FROM hot)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT id_a, id_b FROM inter
       |          JOIN sizes sa ON sa.doc_id = id_a
       |          JOIN sizes sb ON sb.doc_id = id_b
       |          WHERE $j >= $JaccardT),
       |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |      UNION SELECT id_b, id_a FROM pairs),
       |verts AS (SELECT DISTINCT src AS id FROM e),
       |reach(id, x) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT r.id, e.dst FROM reach r JOIN e ON r.x = e.src),
       |cc AS (SELECT id AS ec_id, min(x) AS canonical_id FROM reach GROUP BY 1),
       |docec AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS ec
       |          FROM documents),
       |assigned AS (
       |  SELECT d.doc_id, coalesce(cc.canonical_id, d.ec) AS cluster_id
       |  FROM docec d LEFT JOIN cc ON cc.ec_id = d.ec),
       |splits AS (
       |  SELECT doc_id, cluster_id,
       |    CASE WHEN $bucket <= 7 THEN 'train'
       |         WHEN $bucket = 8 THEN 'val' ELSE 'test' END AS split
       |  FROM assigned)""".stripMargin
  }

  /** d10 — LSH banding-curve evaluation: candidate recall and precision of
    * the d03 MinHash band scheme against the d02 exact inverted-index
    * ground truth, over the SAME capped shingle dictionary. The dedup
    * family's analogue of v13 (index-quality evaluation): before trusting
    * 8 bands × 2 rows at production scale, measure what fraction of true
    * ≥-threshold pairs ever COLLIDE in a band (candidate recall — LSH's
    * only source of false negatives, since the verifier is exact) and what
    * fraction of collisions are true pairs (candidate precision — the
    * knob that prices the verify stage). These two numbers ARE the
    * banding curve (recall ≈ 1−(1−j²)⁸ integrated over the pair-similarity
    * distribution); tuning bands/rows at 100 TB is done by re-running
    * exactly this operator on a sample.
    *
    * Scale: ground truth is the df-capped inverted index — superlinear but
    * bounded (Σ df² with df ≤ 64), which is precisely why the evaluation
    * runs on a SAMPLE at production scale; the LSH side is the linear
    * path being evaluated.
    */
  def d10LshEvaluation(s: SparkSession, dir: String): DataFrame =
    lshEvalOn(shingleIds(s, dir).tracked)

  /** d10's recall/precision body over any (doc_id, sid) inverted index —
    * shared with [[d10bLshEvaluationSampled]] so the sampled grader is BY
    * CONSTRUCTION the full grader on a smaller corpus.
    */
  private def lshEvalOn(ds: DataFrame): DataFrame = {
    // ground truth and candidates through the SHARED d02/d03 cores — the
    // evaluation grades exactly the scheme that runs, by construction
    val truePairs = exactJaccardPairs(ds).select("id_a", "id_b")
    val cand = lshCandidates(minhashSig(ds)).tracked
    // r15 (§2.4): ONE union-aggregate computes all three counts. The
    // r14 spelling joined truth×candidates and ran three separate
    // count() aggregates stitched with two broadcast cross-joins — five
    // sequential barrier jobs to assemble a single row. Both inputs are
    // per-pair distinct (grouped truth, distinct band join), so
    // tag-and-max ≡ the join: t·c = 1 exactly for pairs in both.
    val tagged = truePairs
      .select(col("id_a"), col("id_b"), lit(1L).as("t"), lit(0L).as("c"))
      .unionAll(cand
        .select(col("id_a"), col("id_b"), lit(0L).as("t"), lit(1L).as("c")))
    val stats = tagged.groupBy("id_a", "id_b")
      .agg(max(col("t")).as("t"), max(col("c")).as("c"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_true"),
        coalesce(sum(col("c")), lit(0L)).as("n_cand"),
        coalesce(sum(col("t") * col("c")), lit(0L)).as("n_cand_true"))
    stats.select(
      col("n_true"), col("n_cand"), col("n_cand_true"),
      when(col("n_true") > 0,
        r(col("n_cand_true").cast("double") / col("n_true"), 4))
        .otherwise(lit(null).cast("double")).as("cand_recall"),
      when(col("n_cand") > 0,
        r(col("n_cand_true").cast("double") / col("n_cand"), 4))
        .otherwise(lit(null).cast("double")).as("cand_precision"))
  }

  private def d10Sql = d10SqlOver(shingleIdsSql)

  /** d10b — d10's banding-curve evaluation on a FIXED-SIZE deterministic
    * sample of the corpus: the [[SampleK]] docs with the smallest
    * [[graft.operators.Det.knuthBucket]] draw (bottom-k by hash, the x05
    * machinery — reproducible, rescan-free, no RNG), then the IDENTICAL
    * pipeline — sample-local df cap, dictionary, MinHash, bands, exact
    * verify — via the shared [[lshEvalOn]] core. This is the spelling
    * that RUNS at 100 TB: d10's ground truth is Σdf² over the full corpus
    * by construction (the documented quadratic), while the sample costs
    * the SAME on 1 GB and 100 TB — the bottom-k select is a
    * TakeOrderedAndProject (per-partition partial top-k, one bounded
    * merge), and everything downstream sees exactly [[SampleK]] docs
    * regardless of corpus size. The banding curve being per-pair, sampled
    * recall/precision estimate the full-corpus values (Round7OpsSpec pins
    * the envelope at sf0.01). Tuning bands/rows on a real crawl = run
    * THIS, not d10; pick `k` for the pair budget you can afford.
    */
  def d10bLshEvaluationSampled(s: SparkSession, dir: String): DataFrame =
    lshEvalOn(shingleIdsOf(s, sampledDocs(s, dir)).tracked)

  /** Fixed d10b sample size: the certified default. Bounds the grader's
    * ground truth at ≤ SampleK·(SampleK−1)/2 pairs a priori — corpus-
    * independent, unlike a rate (a 1/m rate on a 100 TB crawl is still a
    * 100/m TB corpus with a superlinear Σdf² inside).
    */
  private[graft] val SampleK = 256

  /** Hash-draw modulus for the bottom-k order (x05's spelling — large
    * enough that the draw is effectively the full Knuth hash).
    */
  private val SampleDrawMod = 1000000000L

  private[graft] def sampledDocs(s: SparkSession, dir: String,
      k: Int = SampleK): DataFrame =
    Tables.documents(s, dir)
      .orderBy(Det.knuthBucket(col("doc_id"), SampleDrawMod), col("doc_id"))
      .limit(k)

  private def d10bSql = d10SqlOver(
    s"""docs_s AS (SELECT * FROM documents
       |           ORDER BY ${Det.sqlKnuthBucket("doc_id", SampleDrawMod)},
       |                    doc_id
       |           LIMIT $SampleK),
       |${shingleIdsSqlFrom("docs_s")}""".stripMargin)

  private def d10SqlOver(dsCtes: String) =
    s"""WITH $dsCtes,
       |$lshCoreSql,
       |true_pairs AS (
       |  SELECT e.id_a, e.id_b
       |  FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |        FROM ds a JOIN ds b ON a.sid = b.sid AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2) e
       |  JOIN sizes sa ON sa.doc_id = e.id_a
       |  JOIN sizes sb ON sb.doc_id = e.id_b
       |  WHERE ${rSql("CAST(e.c AS DOUBLE) / (sa.n + sb.n - e.c)", 4)}
       |        >= $JaccardT),
       |counts AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM true_pairs) AS n_true,
       |    (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
       |    (SELECT CAST(count(*) AS BIGINT) FROM true_pairs t
       |       JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b)
       |      AS n_cand_true)
       |SELECT n_true, n_cand, n_cand_true,
       |  CASE WHEN n_true > 0 THEN
       |    ${rSql("CAST(n_cand_true AS DOUBLE) / n_true", 4)}
       |  ELSE CAST(NULL AS DOUBLE) END AS cand_recall,
       |  CASE WHEN n_cand > 0 THEN
       |    ${rSql("CAST(n_cand_true AS DOUBLE) / n_cand", 4)}
       |  ELSE CAST(NULL AS DOUBLE) END AS cand_precision
       |FROM counts""".stripMargin

  /** d12 — arrival-order dedup DECISION: one row per document with its
    * keep-first verdict under the LSH pipeline — kept unless some EARLIER
    * doc (smaller doc_id = arrival order) verifies ≥ [[JaccardT]] as a
    * band-collision candidate. The batch twin of the streaming
    * [[graft.streaming.DedupStream]] operator (which reaches the same
    * decision one arrival at a time, spec-proven); d07 answers "what are
    * the clusters", this answers the ingest question "do I keep THIS
    * doc given everything before it". Owner = the earliest matching doc,
    * with its verified Jaccard.
    *
    * Scale: rides the d06 dictionary-free chain verbatim (xxhash64 ids,
    * banded candidates, exact verify) plus one |pairs|-sized groupBy and
    * a left join back onto the doc list — nothing new shuffles the
    * corpus. Incremental form (daily crawl increments against an
    * existing corpus): the decision for docs past a cutoff only needs
    * candidate pairs with id_b ≥ cutoff — push that predicate into the
    * band join's new side and the already-deduped old×old quadrant is
    * never recomputed; same decision as this full spelling restricted to
    * the increment, by the arrival-order semantics. Oracle: the same decision over the dictionary-id chain
    * (d06's id-independence argument carries over). Scope measured like
    * d06's: exact at the gate SFs; at sf1 the two id assignments flip 24
    * of 50,000 keep decisions (0.05 %) — docs whose ONLY earlier partner
    * is a near-threshold pair, where banded-LSH candidate membership is
    * id-dependent (P(candidate | j=0.5) ≈ 0.90 per permutation set, see
    * [[d06MinhashXxhashScale]]). Documented recall behavior, not an
    * error in either path.
    */
  def d12ArrivalDedup(s: SparkSession, dir: String): DataFrame =
    arrivalDecisionFromPairs(Tables.documents(s, dir).select(col("doc_id")),
      d06MinhashXxhashScale(s, dir))

  /** Keep-first verdict per doc from a verified pair list — d12's owner
    * attribution (smallest earlier id wins, with its Jaccard).
    */
  private[graft] def arrivalDecisionFromPairs(docIds: DataFrame,
      pairs: DataFrame): DataFrame = {
    val owners = pairs
      .groupBy(col("id_b").as("doc_id"))
      .agg(min(struct(col("id_a"), col("jaccard"))).as("o"))
      .select(col("doc_id"), col("o.id_a").as("dup_of"),
        col("o.jaccard").as("jaccard"))
    docIds
      .join(owners, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("dup_of").isNull.as("is_kept"),
        col("dup_of"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** The d12 decision chain over an arbitrary (doc_id, text) corpus under
    * either id assignment — dictionary ids (the oracle's spelling) or
    * xxhash ids (the production dictionary-free path). The ONLY degree of
    * freedom between the two is the sid values feeding the MinHash
    * permutations; Round7OpsSpec pins the resulting keep-decision flip
    * rate as a contract (sf1 measured 24/50,000 = 0.048% — d06's
    * documented id-dependence category; a band-membership regression
    * would inflate it orders of magnitude and fail the bound).
    */
  private[graft] def arrivalDecisionOn(s: SparkSession, docs: DataFrame,
      dictionaryIds: Boolean): DataFrame = {
    val ds =
      if (dictionaryIds) shingleIdsOf(s, docs)
      else capShingles(shingleRowsOf(docs).tracked)
        .select(col("doc_id"), xxhashSid(col("s")).as("sid"))
    arrivalDecisionFromPairs(docs.select(col("doc_id")),
      lshVerifiedPairs(ds.tracked))
  }

  private def d12Sql = d12SqlOver(shingleIdsSql)

  private def d12SqlOver(ids: String) = {
    val j = rSql("CAST(i.c AS DOUBLE) / (za.n + zb.n - i.c)", 4)
    s"""WITH $ids,
       |$lshCoreSql,
       |pairs AS (
       |  SELECT i.id_a, i.id_b, $j AS jaccard
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.id_a
       |  JOIN sizes zb ON zb.doc_id = i.id_b
       |  WHERE $j >= $JaccardT),
       |owners AS (
       |  SELECT id_b AS doc_id, min(id_a) AS dup_of,
       |    arg_min(jaccard, id_a) AS jaccard
       |  FROM pairs GROUP BY 1)
       |SELECT d.doc_id, o.dup_of IS NULL AS is_kept, o.dup_of, o.jaccard
       |FROM documents d LEFT JOIN owners o ON o.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Increment cutoff — the latest tenth of the corpus by arrival id
    * (doc_id IS arrival order, the d12 convention): one scalar row,
    * broadcast into the filters so no driver collect happens.
    */
  private def incrementCutoff(docs: DataFrame): DataFrame =
    docs.agg(expr("max(doc_id) * 9 div 10").as("cutoff"))

  /** d13 — INCREMENTAL arrival dedup: the daily-crawl form of d12. The
    * corpus before the cutoff is already ingested and decided; only the
    * increment (doc_id ≥ cutoff, the latest tenth here) needs a verdict,
    * and a verdict needs only pairs whose LATER member is in the
    * increment. The cutoff predicate is pushed into the band join's NEW
    * side — the y-side of the candidate equi-join shrinks from the
    * corpus to the increment BEFORE the join, so the already-deduped
    * old×old quadrant is never recomputed: per increment, cost is
    * O(increment bands · bucket collision rate), not O(corpus²).
    * Decisions are IDENTICAL to running d12 over the full corpus and
    * reading the increment's rows (the arrival-order semantics make the
    * old×old pairs irrelevant to new arrivals — Round12Spec pins the
    * equality), which is exactly the property that lets a 100 TB corpus
    * ingest a daily increment without touching its own history. Rides
    * the d06 dictionary-free chain (xxhash64 ids — no dictionary to
    * rebuild when the corpus grows, the point of d06 at ingest time);
    * oracle: the dictionary-id chain at the gate SFs (d06's documented
    * equivalence), the xxh64 --alt spelling in the certification sweeps.
    *
    * SCOPE (round 14): d13 is the STATELESS spelling — one self-contained
    * query, nothing persisted — so it still re-derives corpus shingles/
    * signatures from raw text each run (honest sf10: 61.7 s vs d12's
    * 58.8 s; the decision is O(increment) but the derivation is not).
    * The production daily-ingest arm is [[d14IndexedIncrementalDedup]],
    * which persists the signature/band index at write time and probes it
    * — same decisions, probe cost O(increment + index scans).
    */
  def d13IncrementalArrivalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cut = incrementCutoff(docs.select(col("doc_id")))
    val ds = capShingles(shingleRowsOf(docs).tracked)
      .select(col("doc_id"), xxhashSid(col("s")).as("sid")).tracked
    val bands = bandRows(minhashSig(ds)).tracked
    val newSide = bands.crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cutoff")).drop("cutoff")
    val pairs = verifyCandidates(ds, bandJoin(bands, newSide))
    val increment = docs.select(col("doc_id")).crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cutoff")).select("doc_id")
    arrivalDecisionFromPairs(increment, pairs)
  }

  private def d13Sql = d13SqlOver(shingleIdsSql)

  /** d13's mirror: the full-corpus chain with the verified pairs
    * restricted to increment-owned rows (restriction commutes with the
    * per-pair verify, so filtering after the verify is the same answer
    * the engine gets by shrinking the join's new side before it).
    */
  private def d13SqlOver(ids: String) = {
    val j = rSql("CAST(i.c AS DOUBLE) / (za.n + zb.n - i.c)", 4)
    s"""WITH $ids,
       |$lshCoreSql,
       |cut AS (SELECT max(doc_id) * 9 // 10 AS cutoff FROM documents),
       |pairs AS (
       |  SELECT i.id_a, i.id_b, $j AS jaccard
       |  FROM inter i
       |  JOIN sizes za ON za.doc_id = i.id_a
       |  JOIN sizes zb ON zb.doc_id = i.id_b
       |  WHERE $j >= $JaccardT
       |    AND i.id_b >= (SELECT cutoff FROM cut)),
       |owners AS (
       |  SELECT id_b AS doc_id, min(id_a) AS dup_of,
       |    arg_min(jaccard, id_a) AS jaccard
       |  FROM pairs GROUP BY 1)
       |SELECT d.doc_id, o.dup_of IS NULL AS is_kept, o.dup_of, o.jaccard
       |FROM documents d LEFT JOIN owners o ON o.doc_id = d.doc_id
       |WHERE d.doc_id >= (SELECT cutoff FROM cut)
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d14 — INDEXED incremental arrival dedup (persisted signature/band
  // index; VERDICT r13 item 1).
  //
  // d13 proved the DECISION is O(increment) — only pairs whose later
  // member is new matter — but its honest sf10 bench (61.7 s vs d12's
  // 58.8 s) exposed that it re-DERIVES the whole corpus's shingles,
  // signatures and bands from raw text every run. A 100 TB daily ingest
  // cannot pay corpus-wide text re-processing per day. d14 moves that
  // work to WRITE time: ingest persists four parquet tables, and the
  // daily job tokenizes ONLY the increment, probes the stored index, and
  // appends. Per probe the corpus is touched only as columnar SCANS of
  // longs (df/sids/bands), never as text.
  //
  // Index layout (all keyed by h = xxhash64(shingle), the full 64-bit
  // value — sid = abs-guarded h % P is DERIVED on read, so the chain is
  // bit-identical to d06/d12's dictionary-free spelling):
  //   df    (h, df)            shingle document frequency over ingested docs
  //   sids  (doc_id, h)        post-cap shingle rows AS OF WRITE TIME
  //   sizes (doc_id, n)        per-doc post-cap set size as of write time
  //   bands (doc_id, band, bk) LSH band rows as of write time
  //
  // THE CAP-CROSSING PROBLEM — why naive index reuse would be WRONG: the
  // MaxShingleDf boilerplate cap is corpus-GLOBAL, so a growing corpus
  // can push a shingle past the cap AFTER historical docs were signed
  // with it; their stored signatures/bands go stale and the d12 equality
  // breaks. d14's probe repairs this exactly, at bounded cost:
  //   hotNow   = shingles hot under df_stored ⊕ df_increment
  //   (a crossing shingle was under the cap when written, so it appears
  //   in ≤ MaxShingleDf stored doc rows — the fix-up set is A PRIORI
  //   BOUNDED at 64 docs per crossing shingle)
  //   affected = stored docs holding a now-hot h  → re-sign/re-band from
  //              their STORED sids (no text), sizes recomputed
  //   dsCur    = sids ⟂ hotNow  ∪  increment sids  (⟂ = left_anti)
  // Removal is keyed by h, not the shingle string: divergence from
  // d12's string-keyed cap needs a same-doc 64-bit xxhash collision —
  // the SAME documented 2^-64 class as the d06 id assignment itself.
  //
  // Plan shape at scale: the band probe joins corpus-sized stored bands
  // against increment bands — AQE broadcasts the increment side (a real
  // daily increment is ~0.1% of corpus), so the stored side is scan +
  // broadcast-hash-join, NO corpus shuffle; hot/crosser/affected frames
  // are capped-small and broadcast the same way (no hints — the
  // capShingles AQE discipline). Verify joins stored sids against the
  // candidate pairs (broadcast) with sizes from the persisted table —
  // the ONE corpus-wide groupBy d13 paid per run is gone. A production
  // deployment would additionally bucket sids/bands by their join keys
  // (sinks/Bucketing.scala) to turn the probe scans into pruned reads,
  // and compact df/bands epochs LSM-style; both are layout choices under
  // the same probe algebra.
  //
  // Append rule (the ingest cycle): append increment sids/bands/sizes
  // capped AS OF NOW, overwrite df with the merged counts. Stored rows
  // are never rewritten on cap-crossing — the probe's hotNow/affected
  // repair is self-healing against arbitrarily many epochs (stale band
  // rows of affected docs are recomputed per probe until a compaction
  // rewrites them). Round14Spec pins single-epoch AND two-epoch builds
  // equal to d12-restricted-to-increment, plus a synthetic cap-crossing
  // corpus where the naive (no-repair) reuse would flip decisions.
  // ---------------------------------------------------------------------

  /** Guarded-abs mod-P sid from a stored 64-bit shingle hash — EXACTLY
    * [[xxhashSid]]'s arithmetic applied to its own xxhash64 value.
    */
  private def sidOfH(h: Column): Column =
    (when(h === Long.MinValue, h).otherwise(abs(h)) % lit(P)).as("sid")

  /** (doc_id, h) rows of a docs frame — per-doc-distinct shingles hashed
    * to their full 64-bit ids (the index key space).
    */
  private def shingleHashRows(docs: DataFrame): DataFrame =
    shingleRowsOf(docs).select(col("doc_id"), xxhash64(col("s")).as("h"))

  private def d14Path(dir: String, table: String): String =
    s"${sys.props("user.dir")}/target/graft-index/" +
      s"${new java.io.File(dir).getName}/$table"

  /** The index under `dir` and each table's schema as written (appends
    * keep it), so [[read]] runs no schema inference job. */
  private[graft] final case class D14Index(dir: String,
      schemas: Map[String, StructType]) {
    def read(s: SparkSession, table: String): DataFrame =
      s.read.schema(schemas(table)).parquet(d14Path(dir, table))
  }

  /** Build (overwrite) the persisted index over `docs` — the ingest-time
    * cost, paid once per corpus (then amortized via [[d14AppendEpoch]]).
    */
  private[graft] def d14BuildIndex(docs: DataFrame, dir: String): D14Index = {
    def write(table: String, df: DataFrame): (String, StructType) = {
      df.write.mode("overwrite").parquet(d14Path(dir, table))
      table -> df.schema
    }
    val sh = shingleHashRows(docs).tracked
    val dfT = sh.groupBy("h").agg(count(lit(1)).as("df")).tracked
    val sids = sh.join(dfT.filter(col("df") > MaxShingleDf).select("h"),
      Seq("h"), "left_anti").tracked
    D14Index(dir, Map(write("df", dfT),
      write("sids", sids.select("doc_id", "h")),
      write("sizes", sids.groupBy("doc_id").agg(count(lit(1)).as("n"))),
      write("bands",
        bandRows(minhashSig(sids.select(col("doc_id"), sidOfH(col("h"))))))))
  }

  /** Append one ingest epoch (docs already DECIDED by a prior probe) to
    * the index: epoch rows are capped as of NOW (merged df); stored rows
    * are left in place — later probes repair any rows this epoch's df
    * growth staled (see the cap-crossing note above).
    */
  private[graft] def d14AppendEpoch(s: SparkSession, docs: DataFrame,
      index: D14Index): Unit = {
    val sh = shingleHashRows(docs).tracked
    val dfInc = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val merged = index.read(s, "df")
      .unionByName(dfInc)
      .groupBy("h").agg(sum(col("df")).as("df")).tracked
    merged.count() // materialize BEFORE overwriting the table it reads
    merged.write.mode("overwrite").parquet(d14Path(index.dir, "df_next"))
    // atomic-enough swap for a local index dir (a real deployment writes
    // epoch deltas + manifest); re-read from the swapped location
    val fs = new java.io.File(d14Path(index.dir, "df"))
    org.apache.commons.io.FileUtils.deleteDirectory(fs)
    new java.io.File(d14Path(index.dir, "df_next")).renameTo(fs)
    val hotNow = index.read(s, "df")
      .filter(col("df") > MaxShingleDf).select("h")
    val sids = sh.join(hotNow, Seq("h"), "left_anti").tracked
    sids.select("doc_id", "h").write.mode("append")
      .parquet(d14Path(index.dir, "sids"))
    sids.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .write.mode("append").parquet(d14Path(index.dir, "sizes"))
    bandRows(minhashSig(sids.select(col("doc_id"), sidOfH(col("h")))))
      .write.mode("append").parquet(d14Path(index.dir, "bands"))
  }

  /** Probe the persisted index with an increment: arrival-order keep
    * verdicts for `incDocs` given every stored doc plus earlier
    * increment arrivals — IDENTICAL decisions to d12 over (stored ∪
    * increment), by the d13 arrival-order argument plus the cap-crossing
    * repair above.
    */
  private[graft] def d14ProbeIndex(s: SparkSession, incDocs: DataFrame,
      index: D14Index): DataFrame = {
    val shInc = shingleHashRows(incDocs).tracked
    val dfInc = shInc.groupBy("h").agg(count(lit(1)).as("dfi"))
    val dfStored = index.read(s, "df")
    // current hot set = hot under merged counts; only h present in the
    // increment can CHANGE status, but stored-hot h must stay excluded
    // from epoch-union sids rows written before they crossed. NOT spelled
    // as a full-outer df merge — that planned as a SortMergeJoin with TWO
    // corpus-sized exchanges on h (the round-14 plan audit's one corpus
    // shuffle). Equivalent set, shuffle-free on the stored side:
    //   histHot       df > cap            — a filter SCAN of the df table
    //   crossMatched  df + dfi > cap      — inner join, increment side
    //                                       broadcast (AQE)
    //   crossNew      dfi > cap, h unseen — increment-only arithmetic
    val matched = dfInc.join(dfStored, Seq("h"), "inner")
      .select(col("h"), col("df"), col("dfi")).tracked
    val hotNow = dfStored.filter(col("df") > MaxShingleDf).select("h")
      .unionByName(matched
        .filter(col("df") + col("dfi") > MaxShingleDf).select("h"))
      .unionByName(dfInc.join(matched.select("h"), Seq("h"), "left_anti")
        .filter(col("dfi") > MaxShingleDf).select("h"))
      .tracked // consumers are anti/semi joins — duplicate h rows benign
    val incSids = shInc.join(hotNow, Seq("h"), "left_anti").tracked
    val sidsStored = index.read(s, "sids")
    // stored rows holding a NOW-hot h were signed before the crossing:
    // bounded at MaxShingleDf docs per crossing shingle by construction
    val affected = sidsStored.join(hotNow, Seq("h"), "left_semi")
      .select("doc_id").distinct().tracked
    val sidsCurStored = sidsStored.join(hotNow, Seq("h"), "left_anti")
    val sidsAff = sidsCurStored.join(affected, Seq("doc_id"), "left_semi")
      .tracked
    val bandsStored = index.read(s, "bands")
    val bandsInc =
      bandRows(minhashSig(incSids.select(col("doc_id"), sidOfH(col("h")))))
        .tracked
    val bandsCur = bandsStored
      .join(affected, Seq("doc_id"), "left_anti")
      .unionByName(
        bandRows(minhashSig(sidsAff.select(col("doc_id"), sidOfH(col("h"))))))
      .unionByName(bandsInc)
    val cand = bandJoin(bandsCur, bandsInc)
    val dsCur = sidsCurStored.unionByName(incSids.select("doc_id", "h"))
      .select(col("doc_id"), sidOfH(col("h")))
    val sizesCur = index.read(s, "sizes")
      .join(affected, Seq("doc_id"), "left_anti")
      .unionByName(sidsAff.groupBy("doc_id").agg(count(lit(1)).as("n")))
      .unionByName(incSids.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val pairs = verifyCandidatesSized(dsCur, sizesCur, cand)
    arrivalDecisionFromPairs(incDocs.select(col("doc_id")), pairs)
  }

  /** d14 — the registered query: build the index over the stored corpus
    * (docs before the d13 cutoff — the "already ingested" 90%), then
    * probe it with the latest tenth. Output ≡ d13 ≡ d12 restricted to
    * the increment; the SPLIT of the cost is the point — build is
    * write-time, probe is the daily cost, and the probe never touches
    * corpus text. Every run builds before it probes, so a probe never
    * reads a stale index.
    */
  def d14IndexedIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cut = incrementCutoff(docs.select(col("doc_id")))
    val stored = docs.crossJoin(broadcast(cut))
      .filter(col("doc_id") < col("cutoff")).drop("cutoff")
    val index = d14BuildIndex(stored, dir)
    val inc = docs.crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cutoff")).drop("cutoff")
    d14ProbeIndex(s, inc, index)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d14_indexed_incremental_dedup" -> (d14IndexedIncrementalDedup _),
    "d13_incremental_arrival_dedup" -> (d13IncrementalArrivalDedup _),
    "d12_arrival_dedup" -> (d12ArrivalDedup _),
    "d10_lsh_evaluation" -> (d10LshEvaluation _),
    "d10b_lsh_evaluation_sampled" -> (d10bLshEvaluationSampled _),
    "r01_record_linkage" -> (r01RecordLinkage _),
    "r02_jaro_linkage" -> (r02JaroLinkage _),
    "c09_leakage_safe_split" -> (c09LeakageSafeSplit _),
    "c14_leakage_audit" -> (c14LeakageAudit _),
    "d01_exact_dedup" -> (d01ExactDedup _),
    "d02_ngram_jaccard_pairs" -> (d02NgramJaccardPairs _),
    "d03_minhash_lsh" -> (d03MinhashLsh _),
    "d04_simhash" -> (d04Simhash _),
    "d04b_simhash_banded" -> (d04bSimhashBanded _),
    "d06_minhash_xxhash_scale" -> (d06MinhashXxhashScale _),
    "d07_dedup_clusters" -> (d07DedupClusters _),
    "d08_neardup_after_dedup" -> (d08NeardupAfterDedup _))

  /** d04b's oracle is deliberately the ALL-PAIRS SQL at its radius: equal
    * results prove the banding drops nothing (see [[d04SqlAt]]). d06's is
    * the dictionary-id LSH chain: equal results prove the verified output
    * is id-assignment-independent (see [[d06MinhashXxhashScale]]).
    */
  val oracles: Map[String, String] = Map(
    // d14 computes the SAME decisions as d13 (the defining equality, see
    // d14ProbeIndex) — the oracle is d13's spelling verbatim
    "d14_indexed_incremental_dedup" -> d13Sql,
    "d13_incremental_arrival_dedup" -> d13Sql,
    "d12_arrival_dedup" -> d12Sql,
    "d10_lsh_evaluation" -> d10Sql,
    "d10b_lsh_evaluation_sampled" -> d10bSql,
    "r01_record_linkage" -> r01Sql,
    "r02_jaro_linkage" -> r02Sql,
    "c09_leakage_safe_split" -> c09Sql,
    "c14_leakage_audit" -> c14Sql,
    "d01_exact_dedup" -> d01Sql,
    "d02_ngram_jaccard_pairs" -> d02Sql,
    "d03_minhash_lsh" -> d03Sql,
    "d04_simhash" -> d04SqlAt(HammingT),
    "d04b_simhash_banded" -> d04SqlAt(BandRadius),
    "d06_minhash_xxhash_scale" -> d06Sql,
    "d07_dedup_clusters" -> d07Sql,
    "d08_neardup_after_dedup" -> d08Sql)

  /** EXACT-id oracle spellings for the xxhash-id queries, requiring the
    * `xxh64` UDF tools/check_oracle.py registers under --alt. The driver
    * gate keeps [[oracles]]' dictionary-id spellings (vanilla DuckDB, no
    * UDFs); the sf≥1 certification sweeps use these — same chain, same
    * band scheme, but candidate membership computed under the engine's
    * OWN id assignment, so the documented borderline-pair divergence
    * cannot occur.
    */
  val altOracles: Map[String, String] = Map(
    "d06_minhash_xxhash_scale" -> d06SqlOver(xxhashIdsSql),
    "d12_arrival_dedup" -> d12SqlOver(xxhashIdsSql),
    "d13_incremental_arrival_dedup" -> d13SqlOver(xxhashIdsSql),
    "d14_indexed_incremental_dedup" -> d13SqlOver(xxhashIdsSql))
}
