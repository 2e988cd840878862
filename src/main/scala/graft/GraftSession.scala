package graft

import org.apache.spark.sql.SparkSession

/** The one session config, and the one-call SQL surface over it.
  *
  * [[builder]] is the only place a graft entry point builds a session:
  * Bench, Verify, Plans, the two drills and the test suite all
  * run under [[EngineConf]], so the session that certifies a query (the
  * oracle dump, the specs, the executor-loss drills) is the session that
  * benchmarks it — Kryo included, which every RDD shuffle, RDD checkpoint
  * and broadcast goes through.
  *
  * [[init]] registers every testdata table as a temp view and the
  * library's custom functions (`vec_dot`, `weighted_mean`), so the
  * reference's SQL-first workflow (`createOrReplaceTempView` + `spark.sql`,
  * `notebooks/2_sql_analysis.ipynb:81-82`) ports as-is — including over the
  * extension surface (embeddings similarity in plain SQL).
  */
object GraftSession {
  /** Fixed engine config. `nanosAsLong` because events.ts is parquet
    * TIMESTAMP(NANOS) (Tables.events normalizes the long back).
    */
  val EngineConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled" -> "false")

  /** [[EngineConf]] on `master` with `partitions` shuffle partitions;
    * callers add only the keys that are really theirs (a state-store
    * provider, a checkpoint dir) before `getOrCreate()`.
    */
  def builder(master: String, partitions: Int): SparkSession.Builder = {
    val b = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
    EngineConf.foreach { case (k, v) => b.config(k, v) }
    b
  }

  /** [[builder]] for the mains: `SPARK_GRAFT_CPUS` (default 4) sets the
    * partition count and the default master `local[cpus]`;
    * `SPARK_GRAFT_MASTER` (e.g. `local-cluster[4,8,4096]` under
    * spark-submit) runs across separate executor JVMs instead.
    */
  def fromEnv(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    builder(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
  }

  def init(s: SparkSession, dir: String): Unit = {
    // route through Tables.byName: the loaders own any load-time
    // normalization (events' nanos ts), so SQL views and the DataFrame
    // API always see the same data
    Tables.byName.foreach { case (name, load) =>
      load(s, dir).createOrReplaceTempView(name)
    }
    functions.VectorFunctions.register(s)
    functions.WeightedMeanAgg.register(s)
  }
}
