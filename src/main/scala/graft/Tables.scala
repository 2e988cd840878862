package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet loaders over the driver testdata layout (`TESTDATA.md`).
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1 S1/S2): the
  * reference reads CSV with header+inferSchema (`notebooks/1_data_cleaning
  * .ipynb:40-43`) and re-reads Parquet splits (`2_sql_analysis.ipynb` cell 2).
  * Here everything is self-describing Parquet; CSV ingest is exercised by
  * [[graft.sources.Ingest]].
  *
  * Scale note: loaders return the bare scan so Catalyst can push filters
  * and prune columns into the Parquet reader — callers must NOT cache or
  * materialize here. At 100 TB the scan is the single most
  * important operator: every query below selects only the columns it needs
  * so `ReadSchema` stays minimal and row-group statistics can skip data.
  *
  * Schema memo: inferring a Parquet schema runs a Spark job (the footer
  * merge), so a builder that read a table with a bare `read.parquet`
  * would launch an unlabelled job before returning its frame. Each
  * session infers a table's schema once: the first read of a path is a
  * bare `read.parquet`, whose schema is kept; every later read in
  * that session is `read.schema(kept).parquet(path)` — still a fresh bare
  * scan (new attribute ids, the same pushdown and pruning), but no job.
  * The memo is keyed by session (weakly: a stopped, unreferenced session
  * is collected with its entries) and then by path, and each entry
  * carries the file's length and modification time from one Hadoop
  * `getFileStatus`. A file rewritten at the same path gets a new length
  * or time and is inferred again; a change below a directory's top level
  * that leaves the directory's own time alone is not seen until the next
  * session.
  */
object Tables {
  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  /** session → path → ((length, mtime), inferred schema) */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    ConcurrentHashMap[String, ((Long, Long), StructType)]]

  private def t(name: String)(s: SparkSession, dir: String): DataFrame = {
    val p = path(dir, name)
    val hp = new Path(p)
    val stamp =
      try {
        val st = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getFileStatus(hp)
        Some((st.getLen, st.getModificationTime))
      } catch { case _: FileNotFoundException => None }
    val memo = schemas.synchronized(
      schemas.computeIfAbsent(s, _ => new ConcurrentHashMap))
    (stamp, Option(memo.get(p))) match {
      case (Some(now), Some((was, schema))) if now == was =>
        s.read.schema(schema).parquet(p)
      case _ =>
        // a missing path keeps read.parquet's own error
        val df = s.read.parquet(p)
        stamp.foreach(now => memo.put(p, (now, df.schema)))
        df
    }
  }

  def region(s: SparkSession, dir: String): DataFrame   = t("region")(s, dir)
  def nation(s: SparkSession, dir: String): DataFrame   = t("nation")(s, dir)
  def customer(s: SparkSession, dir: String): DataFrame = t("customer")(s, dir)
  def supplier(s: SparkSession, dir: String): DataFrame = t("supplier")(s, dir)
  def part(s: SparkSession, dir: String): DataFrame     = t("part")(s, dir)
  def orders(s: SparkSession, dir: String): DataFrame   = t("orders")(s, dir)
  def lineitem(s: SparkSession, dir: String): DataFrame = t("lineitem")(s, dir)
  /** `events.ts` is stored as parquet TIMESTAMP(NANOS), which Spark 4 only
    * reads with `spark.sql.legacy.parquet.nanosAsLong=true` (set by every
    * session builder in this repo — Verify/Bench/tests). The loader
    * normalizes the resulting epoch-nanos long back to a µs-precision
    * TimestampType so downstream operators see an ordinary timestamp.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t("events")(s, dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  /** documents/embeddings return the BARE scan like every other loader.
    * r14 measured both placements of the tiny-scan parallelism floor
    * ([[Par.spread]]): at the loader it taxed every LIGHT consumer with
    * an extra exchange (t04's codegen fingerprint pass went 2.6× slower
    * while heavy tokenizers won 2×), so the floor lives at the
    * compute-heavy BUILDERS instead (shingle/tokenize entries in
    * Dedup/TextOps/LmOps, pair/PQ entries in Similarity) — consumers
    * whose per-row work dwarfs one narrow exchange.
    */
  def documents(s: SparkSession, dir: String): DataFrame =
    t("documents")(s, dir)
  def embeddings(s: SparkSession, dir: String): DataFrame =
    t("embeddings")(s, dir)

  /** Name → loader dispatch — the ONE place that knows which tables need
    * load-time normalization (events' nanos timestamp); view registration
    * and ad-hoc tooling route through this so they can never drift from
    * the typed accessors.
    */
  val byName: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> (region _), "nation" -> (nation _),
    "customer" -> (customer _), "supplier" -> (supplier _),
    "part" -> (part _), "orders" -> (orders _),
    "lineitem" -> (lineitem _), "events" -> (events _),
    "documents" -> (documents _), "embeddings" -> (embeddings _))
}
