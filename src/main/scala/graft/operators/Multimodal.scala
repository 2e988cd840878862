package graft.operators

import graft.Caches.Tracked
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** A media row: opaque binary payload + typed metadata — the multimodal
  * column model (image/audio/video as `binary` with schema'd sidecar fields).
  */
case class MediaRow(doc_id: Long, media_type: String, payload: Array[Byte],
    width: Int, height: Int, sample_rate: Int)

/** Extracted per-media features (the decode stage's output schema). */
case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Long,
    mean_byte: Double, max_byte: Int, n_frames: Long)

/** Multimodal-column plumbing for a training-data pipeline: treat media as
  * opaque `binary` columns with typed metadata, and run decode /
  * feature-extract / frame-sample as PARTITION-batched typed transforms
  * (`Dataset.mapPartitions` — the Scala analogue of `mapInPandas`: one
  * iterator per partition, so per-batch setup like codec init happens once
  * per partition, not per row).
  *
  * The actual codec is STUBBED (no image/audio libraries in this
  * container): [[decodeStub]] derives deterministic pseudo-features from the
  * raw bytes, clearly marked. Everything else — the binary column, the
  * metadata schema, the partition batching, the sink shape — is real and
  * tested, which is the plumbing a real codec would drop into.
  *
  * Scale: payloads dominate row size, so `spark.sql.files.maxPartitionBytes`
  * governs batch memory; the feature extract is narrow (no shuffle), and
  * metadata-only queries (mm01) never deserialize the payload thanks to
  * Parquet column pruning — THE reason media belongs in a separate column,
  * not a separate system.
  */
object Multimodal {
  /** The media table: text bytes stand in for the media payload; metadata
    * (type, dimensions, sample rate) derives deterministically from the
    * document row so the oracle can reproduce it.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("n_chars"))
      .withColumn("media_type",
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio").otherwise("video"))
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("width", (col("doc_id") % 64 * 16 + 64).cast("int"))
      .withColumn("height", (col("doc_id") % 48 * 16 + 64).cast("int"))
      .withColumn("sample_rate",
        when(col("media_type") === "audio", 16000).otherwise(0).cast("int"))
      .select("doc_id", "media_type", "payload", "width", "height",
        "sample_rate")

  /** STUB decode — stands in for the codec call (`???` in a container with
    * the real libraries): deterministic pseudo-features straight from the
    * payload bytes. Frame sampling: one "frame" per 256-byte block.
    */
  def decodeStub(r: MediaRow): MediaFeatures = {
    // a null payload (e.g. null source text) decodes as empty media, not NPE
    val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
    val n = bytes.length
    var sum = 0L
    var mx = 0
    var i = 0
    while (i < n) {
      val b = bytes(i) & 0xff
      sum += b
      if (b > mx) mx = b
      i += 1
    }
    MediaFeatures(r.doc_id, r.media_type, n.toLong,
      if (n == 0) 0.0 else math.floor(sum.toDouble / n * 1e4 + 0.5) / 1e4,
      mx, n.toLong / 256 + 1)
  }

  /** mm02 — the partition-batched feature-extract stage. */
  def mm02MediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[MediaRow] = mediaTable(s, dir).as[MediaRow]
    ds.mapPartitions(_.map(decodeStub)).toDF().orderBy("doc_id")
  }

  /** mm01 — metadata + payload-derived columns expressible in BOTH engines
    * (byte length, frame count, content fingerprint): the column-pruned
    * "catalog view" of the media table, fully oracle-checked.
    */
  def mm01MediaMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir)
      .withColumn("byte_len", length(col("payload")).cast("long"))
      // `div`, not `/`: Spark's `/` is double division and DuckDB rounds
      // double→bigint casts where Spark truncates — integer div on both
      // sides is the only portable spelling.
      .withColumn("n_frames", expr("byte_len div 256") + 1)
      .select(col("doc_id"), col("media_type"), col("byte_len"),
        col("n_frames").cast("long"), col("width").cast("long"),
        col("height").cast("long"), col("sample_rate").cast("long"))
      .orderBy("doc_id")

  private val mm01Sql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  CAST(octet_length(encode(text)) // 256 + 1 AS BIGINT) AS n_frames,
      |  CAST(doc_id % 64 * 16 + 64 AS BIGINT) AS width,
      |  CAST(doc_id % 48 * 16 + 64 AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 1 THEN 16000 ELSE 0 END AS BIGINT) AS sample_rate
      |FROM documents ORDER BY doc_id""".stripMargin

  /** mm03 — per-type feature aggregate over the extracted features: the
    * "corpus media profile" (bytes, frames, mean brightness per type).
    * Runs the mapPartitions stage then a 3-group aggregate. The weighted
    * mean re-aggregates 4-dp-rounded doubles: `mean_byte × byte_len` is a
    * 4-dp-exact value (4-dp decimal × integer), so routing it through
    * [[Det.dsum]]'s DECIMAL carrier makes the sum order-independent and
    * the whole profile EXACTLY oracle-checkable — a plain double sum here
    * was the one ulp-order hazard that kept mm03 rows-only.
    */
  def mm03MediaProfile(s: SparkSession, dir: String): DataFrame =
    mm02MediaFeatures(s, dir)
      .groupBy("media_type")
      .agg(count(lit(1)).as("n_media"),
        sum(col("byte_len")).as("total_bytes"),
        sum(col("n_frames")).as("total_frames"),
        Det.r(Det.dsum(col("mean_byte") * col("byte_len"))
          / sum(col("byte_len")).cast("double"), 4)
          .as("weighted_mean_byte"))
      .orderBy("media_type")

  /** Perceptual-hash width: 16 proportional blocks → 15 gradient bits. */
  private val PhBlocks = 16
  /** Hamming radius for mm04 near-dups (must stay < band count 2). */
  val PhRadius = 1

  /** STUB perceptual hash — the dHash shape over the stub decode: the
    * payload's bytes split into [[PhBlocks]] PROPORTIONAL blocks (byte i →
    * block i·B/n, so the hash is resolution-independent, exactly why real
    * dHash downsamples first), per-block brightness sums, and bit b = 1
    * iff block b is brighter than block b+1 — a 15-bit gradient signature.
    * With a real codec this is pixel rows after grayscale downsample; the
    * arithmetic downstream (banding, Hamming verify) is unchanged.
    */
  def phashStub(r: MediaRow): (Long, Long) = {
    val bytes = if (r.payload == null) Array.emptyByteArray else r.payload
    val n = bytes.length
    val s = new Array[Long](PhBlocks)
    var i = 0
    while (i < n) {
      s(((i.toLong * PhBlocks) / n).toInt) += bytes(i) & 0xff
      i += 1
    }
    var ph = 0L
    var b = 0
    while (b < PhBlocks - 1) {
      if (s(b) > s(b + 1)) ph |= 1L << b
      b += 1
    }
    (r.doc_id, ph)
  }

  /** mm04 — perceptual-hash near-dup over the media payloads: the
    * image-dedup pipeline (pHash → banded LSH → Hamming verify) composed
    * from this module's stub decode and the d04b banding discipline. Two
    * 8/7-bit bands pigeonhole-cover radius [[PhRadius]] = 1 (a single
    * differing bit lands in ONE band; the other band still collides), so
    * the band join is provably lossless — and the ORACLE is the all-pairs
    * SQL, whose equality proves exactly that, the d04b pattern.
    *
    * Scale: signatures are one narrow mapPartitions scan (payload never
    * shuffles); candidates are band-bucket equi-join collisions; the
    * verify is one `bit_count(xor)` per candidate. At 10^9 images this is
    * the production shape — the all-pairs oracle exists only to certify
    * the banding.
    */
  def mm04PerceptualNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hashes = mediaTable(s, dir)
      .filter(length(col("payload")) > 0)
      .as[MediaRow]
      .mapPartitions(_.map(phashStub)).toDF("doc_id", "ph")
      .tracked
    val bands = hashes.select(col("doc_id"), col("ph"), explode(array(
      struct(lit(0).as("band"), col("ph").bitwiseAND(lit(255L)).as("bk")),
      struct(lit(1).as("band"), shiftright(col("ph"), 8).as("bk"))))
      .as("e"))
      .select(col("doc_id"), col("ph"), col("e.band"), col("e.bk"))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bk") === col("y.bk")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        expr("bit_count(x.ph ^ y.ph)").cast("long").as("hamming"))
      .filter(col("hamming") <= PhRadius)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Per-band-bucket member cap for [[mm04bCappedNeardup]] — mirrors
    * [[graft.streaming.DedupStream]]'s ≤64-members-per-bucket streaming
    * df-cap, same constant, same rationale.
    */
  val BucketMemberCap = 64

  /** (doc_id, ph) perceptual hashes of a media frame — mm04/mm04b's shared
    * signature stage, extracted so the flood spec can feed a synthetic
    * corpus through the exact production chain.
    */
  private[graft] def phashFrame(s: SparkSession, media: DataFrame): DataFrame = {
    import s.implicits._
    media.filter(length(col("payload")) > 0)
      .as[MediaRow]
      .mapPartitions(_.map(phashStub)).toDF("doc_id", "ph")
  }

  /** mm04b — mm04's perceptual near-dup with the MEMBER CAP that bounds
    * verbatim-flood pair growth, re-shaped as the arrival-order dedup
    * DECISION (d12's form): each band bucket retains only its
    * [[BucketMemberCap]] smallest doc_ids (via the skew-safe
    * [[graft.plans.GroupedTopK]] heap operator — one storm bucket cannot
    * single-task a window), every doc then compares against retained
    * EARLIER members only, and the verdict is kept-unless-some-earlier-
    * member-verifies (owner = smallest such member, d12's arg_min).
    *
    * Why this loses nothing on verbatim replicas: identical payloads hash
    * identically, the bucket's global-minimum doc_id is always inside the
    * retained smallest-K, and hamming(x, x) = 0 ≤ radius — so every
    * replica still resolves to the same canonical owner the uncapped
    * decision picks (MultimodalSpec floods 70 replicas through both paths
    * and asserts equality). What the cap trades away is only attribution
    * among >K DISTINCT near-misses in one bucket — d12/d06's documented
    * category. Pair cost per bucket collapses from r² to r·K: the sf1
    * media corpus's 10×-replication growth (mm04's 34.9× slope) becomes
    * linear in replicas.
    */
  def mm04bCappedNeardup(s: SparkSession, dir: String): DataFrame =
    mm04bOn(phashFrame(s, mediaTable(s, dir)).tracked)

  private[graft] def mm04bOn(hashes: DataFrame): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("ph"), explode(array(
      struct(lit(0).as("band"), col("ph").bitwiseAND(lit(255L)).as("bk")),
      struct(lit(1).as("band"), shiftright(col("ph"), 8).as("bk"))))
      .as("e"))
      .select(col("doc_id"), col("ph"), col("e.band"), col("e.bk"))
    val members = graft.plans.GroupedTopK(
      bands.withColumn("__v", col("doc_id").cast("double")),
      Seq("band", "bk"), "__v", "doc_id", BucketMemberCap,
      descending = false).drop("__v")
    val hits = bands.as("x").join(members.as("m"),
        col("x.band") === col("m.band") && col("x.bk") === col("m.bk")
          && col("m.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("m.doc_id").as("mem_id"),
        expr("bit_count(x.ph ^ m.ph)").cast("long").as("hamming"))
      .filter(col("hamming") <= PhRadius)
      .distinct()
    val owners = hits.groupBy("doc_id")
      .agg(min(struct(col("mem_id"), col("hamming"))).as("o"))
      .select(col("doc_id"), col("o.mem_id").as("dup_of"),
        col("o.hamming").as("hamming"))
    hashes.select("doc_id").join(owners, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("dup_of").isNull.as("is_kept"),
        col("dup_of"), col("hamming"))
      .orderBy("doc_id")
  }

  /** Uncapped decision twin of [[mm04bOn]] (all earlier docs are
    * comparable members) — the flood spec's reference semantics.
    */
  private[graft] def uncappedDecisionOn(hashes: DataFrame): DataFrame = {
    val bands = hashes.select(col("doc_id"), col("ph"), explode(array(
      struct(lit(0).as("band"), col("ph").bitwiseAND(lit(255L)).as("bk")),
      struct(lit(1).as("band"), shiftright(col("ph"), 8).as("bk"))))
      .as("e"))
      .select(col("doc_id"), col("ph"), col("e.band"), col("e.bk"))
    val hits = bands.as("x").join(bands.as("m"),
        col("x.band") === col("m.band") && col("x.bk") === col("m.bk")
          && col("m.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("m.doc_id").as("mem_id"),
        expr("bit_count(x.ph ^ m.ph)").cast("long").as("hamming"))
      .filter(col("hamming") <= PhRadius)
      .distinct()
    val owners = hits.groupBy("doc_id")
      .agg(min(struct(col("mem_id"), col("hamming"))).as("o"))
      .select(col("doc_id"), col("o.mem_id").as("dup_of"),
        col("o.hamming").as("hamming"))
    hashes.select("doc_id").join(owners, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("dup_of").isNull.as("is_kept"),
        col("dup_of"), col("hamming"))
      .orderBy("doc_id")
  }

  private val mm04bSql =
    s"""WITH chars AS (
       |  SELECT doc_id,
       |    octet_length(encode(text)) AS n,
       |    list_transform(string_split(text, ''),
       |      c -> CAST(ascii(c) AS BIGINT)) AS cs
       |  FROM documents WHERE octet_length(encode(text)) > 0),
       |blocks AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $PhBlocks), b ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, len(cs) + 1),
       |          i -> CASE WHEN ((i - 1) * $PhBlocks) // n = b
       |               THEN cs[i] ELSE 0 END)),
       |        (acc, x) -> acc + x)) AS s
       |  FROM chars),
       |hashes AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, ${PhBlocks - 1}),
       |        b -> CASE WHEN s[b + 1] > s[b + 2]
       |             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)),
       |      (acc, x) -> acc + x) AS ph
       |  FROM blocks),
       |bands AS (
       |  SELECT doc_id, ph, 0 AS band, ph & 255 AS bk FROM hashes
       |  UNION ALL
       |  SELECT doc_id, ph, 1 AS band, ph >> 8 AS bk FROM hashes),
       |members AS (
       |  SELECT doc_id, ph, band, bk FROM (
       |    SELECT doc_id, ph, band, bk,
       |      row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rn
       |    FROM bands) WHERE rn <= $BucketMemberCap),
       |hits AS (
       |  SELECT DISTINCT x.doc_id, m.doc_id AS mem_id,
       |    CAST(bit_count(xor(x.ph, m.ph)) AS BIGINT) AS hamming
       |  FROM bands x JOIN members m
       |    ON m.band = x.band AND m.bk = x.bk AND m.doc_id < x.doc_id
       |  WHERE bit_count(xor(x.ph, m.ph)) <= $PhRadius),
       |owners AS (
       |  SELECT doc_id, min(mem_id) AS dup_of,
       |    arg_min(hamming, mem_id) AS hamming
       |  FROM hits GROUP BY 1)
       |SELECT h.doc_id, o.dup_of IS NULL AS is_kept, o.dup_of, o.hamming
       |FROM hashes h LEFT JOIN owners o ON o.doc_id = h.doc_id
       |ORDER BY h.doc_id""".stripMargin

  /** All-pairs oracle (banding-losslessness proof, d04b's pattern); the
    * byte/ascii equivalence note on [[mm02Sql]] applies.
    */
  private val mm04Sql =
    s"""WITH chars AS (
       |  SELECT doc_id,
       |    octet_length(encode(text)) AS n,
       |    list_transform(string_split(text, ''),
       |      c -> CAST(ascii(c) AS BIGINT)) AS cs
       |  FROM documents WHERE octet_length(encode(text)) > 0),
       |blocks AS (
       |  SELECT doc_id,
       |    list_transform(range(0, $PhBlocks), b ->
       |      list_reduce(list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, len(cs) + 1),
       |          i -> CASE WHEN ((i - 1) * $PhBlocks) // n = b
       |               THEN cs[i] ELSE 0 END)),
       |        (acc, x) -> acc + x)) AS s
       |  FROM chars),
       |hashes AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, ${PhBlocks - 1}),
       |        b -> CASE WHEN s[b + 1] > s[b + 2]
       |             THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)),
       |      (acc, x) -> acc + x) AS ph
       |  FROM blocks)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
       |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ph, b.ph)) <= $PhRadius
       |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm01_media_meta" -> (mm01MediaMeta _),
    "mm02_media_features" -> (mm02MediaFeatures _),
    "mm03_media_profile" -> (mm03MediaProfile _),
    "mm04_perceptual_neardup" -> (mm04PerceptualNeardup _),
    "mm04b_capped_neardup" -> (mm04bCappedNeardup _))

  /** mm02's stub features ARE oracle-expressible on this ASCII corpus:
    * utf-8 payload bytes == char codes, so the byte fold mirrors as an
    * ascii-list fold; mm03 re-aggregates them through the exact decimal
    * carrier (see its scaladoc) so the profile mirrors too.
    */
  private val mm02Sql = {
    val bsum = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(acc, x) -> acc + x)"
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'image'
       |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       |  ${Det.sqlR(s"CAST($bsum AS DOUBLE) / octet_length(encode(text))", 4)} AS mean_byte,
       |  CAST(list_max(list_transform(string_split(text, ''),
       |    c -> ascii(c))) AS INTEGER) AS max_byte,
       |  CAST(octet_length(encode(text)) // 256 + 1 AS BIGINT) AS n_frames
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private def mm03Sql =
    s"""SELECT media_type,
       |  CAST(count(*) AS BIGINT) AS n_media,
       |  CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       |  CAST(sum(n_frames) AS BIGINT) AS total_frames,
       |  ${Det.sqlR(s"${Det.sqlDsum("mean_byte * byte_len")}" +
          " / CAST(sum(byte_len) AS DOUBLE)", 4)} AS weighted_mean_byte
       |FROM ($mm02Sql)
       |GROUP BY media_type ORDER BY media_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "mm01_media_meta" -> mm01Sql,
    "mm02_media_features" -> mm02Sql,
    "mm03_media_profile" -> mm03Sql,
    "mm04_perceptual_neardup" -> mm04Sql,
    "mm04b_capped_neardup" -> mm04bSql)
}
