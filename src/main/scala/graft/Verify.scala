package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name1,name2,…]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    // optional comma-separated subset for fast local iteration; the driver
    // always passes two args → full run
    val only: Option[Set[String]] =
      if (args.length == 3) Some(args(2).split(',').toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // SPARK_GRAFT_MASTER: e.g. "local-cluster[4,8,4096]" — dump every query
    // result through SEPARATE executor JVMs for the multi-executor
    // bit-identical-results certification (SCALE.md); default local[n].
    val spark = GraftSession.fromEnv().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // operator-internal caches are scoped to one query's execution;
      // release them so the ~160-query run doesn't accumulate storage
      // blocks. Clearing the SQL cache is not enough — GraphX Graph()
      // persists its vertex/edge RDDs (MEMORY_ONLY, deserialized)
      // outside it, so the graph queries would otherwise leak heap
      // across the run (measured: the 8g sf1 run died of exactly this
      // after 66 queries); releaseAll sweeps both.
      Caches.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // alternate UDF-backed spellings (check_oracle.py --alt); always
    // dumped, only consumed by the certification sweeps
    val altJson = SparkEntry.altOracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_alt.json"), altJson)
    // staged temp-table programs (check_oracle.py --staged); values are
    // already JSON objects — written raw
    val stagedJson = SparkEntry.stagedOracleJson.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_staged.json"), stagedJson)
    spark.stop()
  }
}
