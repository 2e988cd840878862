package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, SparkEntry, Tables}

/** One benchmark run in one JVM: set up a session three times, run one
  * workload, and write the raw record (times, outcomes, trace) as JSON.
  * `perfbench/run.py` turns the record into metrics.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --out <file>
  */
object Main {
  /** The batch workload's queries; see perfbench/README.md for why these. */
  val SqlGraph = Seq("q01_price_histogram_2d", "q04_null_audit",
    "q10_join_revenue_per_nation", "w01_top_per_group", "j01_json_extract",
    "g06_pagerank_loop")
  val Setups = 3
  val MinPasses = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    require(workload == "sql-graph" || workload == "fraud-stream",
      s"unknown workload $workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val data = o("data")
    val work = new File(o("work"))
    val trace = new Trace(o("trace") == "1")
    val cpus = Runtime.getRuntime.availableProcessors

    // Set-up: a built session with every table scanned once. The first is
    // timed from JVM start; the others stop the context and start again.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
    var spark: SparkSession = null
    val setups = (1 to Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 1) jvmStart else trace.now()
      val scan = trace.span("setup", s"setup$i") { id =>
        spark = session(cpus, work)
        trace.span("setup", "warmscan", id) { _ =>
          val w0 = trace.now()
          Tables.byName.values.foreach(load => load(spark, data).count())
          trace.now() - w0
        }
      }
      Map("setup_s" -> (trace.now() - t0), "warmscan_s" -> scan)
    }

    trace.attach(spark)
    val result =
      if (workload == "fraud-stream") Map("stream" -> FraudStream.run(spark, seed, seconds, work, trace))
      else runBatch(spark, data, SqlGraph, seed, seconds, trace)
    ListenerDrain(spark.sparkContext)
    trace.detach(spark)
    spark.stop()

    val record = Map("workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "data" -> data, "setups" -> setups) ++ result ++ trace.toMap
    Files.write(new File(o("out")).toPath, Json.write(record).getBytes(StandardCharsets.UTF_8))
  }

  /** graft.Bench's session, at local[cpus]. */
  def session(cpus: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** What graft.Bench drops between queries, so no query times a cache hit. */
  def release(spark: SparkSession): Unit = {
    Caches.release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => if (!r.isCheckpointed) r.unpersist(false))
  }

  def layer(name: String): String =
    if (graft.graph.GraphQueries.queries.contains(name) ||
        graft.graph.FacadeQueries.queries.contains(name)) "graph"
    else "operators"

  /** A correctness pass, which is also the warm-up (it runs every query
    * once on a cold JIT), then timed passes for `seconds`: a pass starts
    * only if, taking as long as the one before, it ends inside the window;
    * at least [[MinPasses]] run. Every timed pass runs the queries in an
    * order shuffled by `seed`.
    */
  def runBatch(spark: SparkSession, data: String, names: Seq[String],
      seed: Long, seconds: Double, trace: Trace): Map[String, Any] = {
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql.keySet
    val errors = ArrayBuffer.empty[Map[String, Any]]
    def fail(span: Int, name: String, e: Throwable): Unit = {
      System.err.println(s"[perfbench] $name FAILED: $e")
      errors += Map("span" -> span, "query" -> name, "error" -> e.toString)
    }

    val checks = trace.span("warmup", "check") { pid =>
      names.sorted.map { name =>
        release(spark)
        trace.span("check", name, pid) { id =>
          try {
            val rows = registry(name)(spark, data).collect()
            Map("query" -> name, "rows" -> rows.length,
              "digest" -> Digest.of(rows.iterator), "oracle" -> oracle(name))
          } catch { case e: Throwable =>
            fail(id, name, e)
            Map("query" -> name, "error" -> e.toString)
          }
        }
      }
    }

    def pass(p: Int): Unit = {
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(names)
      trace.span("pass", s"pass$p") { pid =>
        order.foreach { name =>
          release(spark)
          trace.span("query", name, pid) { qid =>
            try {
              val df: DataFrame = trace.span("build", layer(name), qid) { _ =>
                registry(name)(spark, data)
              }
              trace.span("exec", layer(name), qid) { _ =>
                df.write.mode("overwrite").format("noop").save()
              }
            } catch { case e: Throwable => fail(qid, name, e) }
          }
        }
      }
    }
    val t0 = trace.now()
    var p = 0
    var last = 0.0
    while (p < MinPasses || trace.now() - t0 + last <= seconds) {
      val s = trace.now()
      pass(p)
      last = trace.now() - s
      p += 1
    }
    release(spark)
    Map("queries" -> names, "checks" -> checks, "errors" -> errors.toList)
  }
}
