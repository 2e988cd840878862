package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL-first workflow over the whole surface: plain `spark.sql` against
  * the registered views and custom functions.
  */
class GraftSessionSpec extends AnyFunSuite with SparkTestSession {

  test("spark.sql drives relational, custom-function, and similarity SQL") {
    GraftSession.init(spark, Sf)
    // the reference's analytics shape in SQL
    val agg = spark.sql(
      """SELECT l_returnflag, count(*) AS n, round(avg(l_extendedprice), 2) AS a
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(agg.length == 3)
    // custom typed aggregate in SQL
    val wm = spark.sql(
      """SELECT weighted_mean(l_extendedprice, l_quantity) FROM lineitem""")
      .head().getDouble(0)
    assert(wm > 0)
    // native vector expression over the extension table, pure SQL
    val sim = spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |  vec_dot(a.embedding, b.embedding) /
        |    (sqrt(vec_dot(a.embedding, a.embedding)) *
        |     sqrt(vec_dot(b.embedding, b.embedding))) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC LIMIT 5""".stripMargin).collect()
    assert(sim.length == 5)
    assert(sim.forall(r => r.getDouble(2) <= 1.0 && r.getDouble(2) >= -1.0))
    // events view carries the normalized timestamp
    assert(spark.sql("SELECT count(DISTINCT date_trunc('hour', ts)) FROM events")
      .head().getLong(0) > 0)
  }

  test("the shared test session runs GraftSession's engine config") {
    // build-time conf (what the SparkContext was created with: the
    // serializer lives only there) and the session's runtime view
    val built = spark.sparkContext.getConf
    GraftSession.EngineConf.foreach { case (k, v) =>
      assert(built.getOption(k).contains(v), s"built conf: $k")
      assert(spark.conf.getOption(k).contains(v), s"session conf: $k")
    }
  }

  test("GraftExtensions injects vec_dot with no imperative registration") {
    import org.apache.spark.sql.SparkSession
    val shared = spark // force the shared session to exist first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a FRESH session (same SparkContext) built the way a cluster would:
      // the extensions class wired at build time, never register()'d
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new functions.GraftExtensions)
        .getOrCreate()
      assert(s2 ne shared, "must exercise a newly-built session")
      val d = s2.sql(
        "SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0)
      assert(d == 11.0)
      // the planner strategy rode in with the same extensions: the
      // GroupedTopK node plans WITHOUT the experimental-hook fallback
      import org.apache.spark.sql.functions.col
      import s2.implicits._
      val tiny = Seq(("a", 1L, 2.0), ("a", 2L, 3.0), ("a", 3L, 1.0))
        .toDF("g", "tie", "v")
      val analyzed = tiny.queryExecution.analyzed
      def attr(n: String) = analyzed.output.find(_.name == n).get
      val node = graft.plans.GroupedTopKNode(
        Seq(attr("g")), attr("v"), attr("tie"), 2, descending = true,
        analyzed)
      val out = org.apache.spark.sql.GraftBridge.ofRows(s2, node)
        .orderBy(col("v").desc).collect().map(_.getLong(1)).toSeq
      assert(out == Seq(2L, 1L), s"strategy not injected: $out")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
