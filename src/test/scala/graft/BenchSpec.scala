package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PageRankOps

/** Bench's two steps: [[Bench.render]] keeps the driver's stdout line
  * byte for byte (the expected lines below are the rendering of the same
  * results before the run/render split), and [[Bench.run]] reads each
  * query's jobs from the ledger.
  */
class BenchSpec extends AnyFunSuite with SparkTestSession {

  private def results(best: Seq[(String, Double)]) =
    best.map { case (name, v) => Bench.Result(name, Seq(v), None) }

  test("stdout line, full form: byte-identical, and the file line adds layers") {
    val rs = results(Seq("q01_price_histogram_2d" -> 0.512,
      "g06_pagerank_loop" -> 1.25, "d14_indexed_incremental_dedup" -> 8.5,
      "v14_ann_frontier" -> -1.0))
    val (file, stdout) = Bench.render(rs, 3, "testdata/sf0.1",
      "out/BENCH_full.json")
    assert(stdout ==
      "{\"metric\":\"total\",\"value\":10.262,\"unit\":\"sec\",\"runs\""
        + ":3,\"anchor_s\":1.25,\"anchor_ref_s\":1.43,\"anchor_norm_total\""
        + ":11.739728,\"queries\":{\"q01_price_histogram_2d\":0.512,\"g06_p"
        + "agerank_loop\":1.25,\"d14_indexed_incremental_dedup\":8.5,\"v14_"
        + "ann_frontier\":-1.0},\"sf\":\"testdata/sf0.1\"}")
    assert(file.startsWith(stdout.dropRight(1) + ",\"layers\":{"))
    assert(file.endsWith("\"v14_ann_frontier\":{\"runs_s\":[-1.0]}}}"))
  }

  test("stdout line, truncated form: byte-identical") {
    val rs = results((1 to 80).map(i =>
      f"q$i%03d_a_long_enough_query_name" -> (i * 37 % 101) / 8.0) ++
      Seq("g06_pagerank_loop" -> 2.5, "x99_failed" -> -1.0))
    val (_, stdout) = Bench.render(rs, 5, "testdata/sf1", "out/BENCH_sf1.json")
    assert(stdout ==
      "{\"metric\":\"total\",\"value\":506.625,\"unit\":\"sec\",\"runs\""
        + ":5,\"anchor_s\":2.5,\"queries_total\":82,\"queries_full\":\"out/"
        + "BENCH_sf1.json\",\"sf\":\"testdata/sf1\",\"queries\":{\"q030_a_l"
        + "ong_enough_query_name\":12.5,\"q060_a_long_enough_query_name\":1"
        + "2.375,\"q019_a_long_enough_query_name\":12.125,\"q049_a_long_eno"
        + "ugh_query_name\":12.0,\"q079_a_long_enough_query_name\":11.875,\""
        + "q008_a_long_enough_query_name\":11.75,\"q038_a_long_enough_query"
        + "_name\":11.625,\"q068_a_long_enough_query_name\":11.5,\"q027_a_l"
        + "ong_enough_query_name\":11.25,\"q057_a_long_enough_query_name\":"
        + "11.125,\"q016_a_long_enough_query_name\":10.875,\"q046_a_long_en"
        + "ough_query_name\":10.75,\"q076_a_long_enough_query_name\":10.625"
        + ",\"q005_a_long_enough_query_name\":10.5,\"q035_a_long_enough_que"
        + "ry_name\":10.375,\"q065_a_long_enough_query_name\":10.25,\"q024_"
        + "a_long_enough_query_name\":10.0,\"q054_a_long_enough_query_name\""
        + ":9.875,\"q013_a_long_enough_query_name\":9.625,\"q043_a_long_eno"
        + "ugh_query_name\":9.5,\"q073_a_long_enough_query_name\":9.375,\"q"
        + "002_a_long_enough_query_name\":9.25,\"q032_a_long_enough_query_n"
        + "ame\":9.125,\"q062_a_long_enough_query_name\":9.0,\"q021_a_long_"
        + "enough_query_name\":8.75,\"q051_a_long_enough_query_name\":8.625"
        + ",\"q010_a_long_enough_query_name\":8.375,\"q040_a_long_enough_qu"
        + "ery_name\":8.25,\"q070_a_long_enough_query_name\":8.125,\"q029_a"
        + "_long_enough_query_name\":7.875,\"q059_a_long_enough_query_name\""
        + ":7.75,\"q018_a_long_enough_query_name\":7.5,\"q048_a_long_enough"
        + "_query_name\":7.375,\"q078_a_long_enough_query_name\":7.25,\"q00"
        + "7_a_long_enough_query_name\":7.125,\"q037_a_long_enough_query_na"
        + "me\":7.0,\"q067_a_long_enough_query_name\":6.875,\"q026_a_long_e"
        + "nough_query_name\":6.625,\"q056_a_long_enough_query_name\":6.5,\""
        + "q015_a_long_enough_query_name\":6.25,\"q045_a_long_enough_query_"
        + "name\":6.125,\"q075_a_long_enough_query_name\":6.0,\"q004_a_long"
        + "_enough_query_name\":5.875,\"x99_failed\":-1.0}}")
  }

  test("g06 (sf0.001): the layers' job count is jobsOf's on the same noop write") {
    Tables.byName.values.foreach(load => load(spark, Sf))
    val Seq(r) = Bench.run(spark, Sf, Seq("g06_pagerank_loop"), 1)
    Caches.releaseAll(spark)
    val counted = jobsOf(PageRankOps.q(spark, Sf).write.mode("overwrite")
      .format("noop").save())
    assert(r.jobs.map(_.size).contains(counted), r)
    import spark.implicits._
    val (file, _) = Bench.render(Seq(r), 1, Sf, "BENCH_full.json")
    val layer = spark.read.json(Seq(file).toDS())
      .select("layers.g06_pagerank_loop.*").head()
    assert(layer.getAs[Long]("jobs") == counted)
    assert(layer.getAs[Double]("in_jobs_s") > 0)
  }
}
