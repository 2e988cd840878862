package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** `Tables`' per-session schema memo: a repeated read runs no job, yet
  * gives the schema and rows of a bare `read.parquet`, re-infers a
  * rewritten file, and stays a fresh scan that self-joins unambiguously.
  */
class TablesSpec extends AnyFunSuite with SparkTestSession {

  private def withTempDir[A](body: Path => A): A = {
    val dir = Files.createTempDirectory("tables-spec")
    try body(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  /** Writes `df` as ONE parquet file at `target`, replacing what is there
    * (the testdata layout: a table is a single file).
    */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val staging = Files.createTempDirectory("tables-staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.resolve("t").toString)
    val part = Files.list(staging.resolve("t")).filter(
      _.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.walk(staging).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  test("a repeated read of a table in one session runs no job") {
    withTempDir { dir =>
      Files.copy(Paths.get(s"$Sf/lineitem.parquet"),
        dir.resolve("lineitem.parquet"))
      // first read of a path in this session: the bare read infers
      val first = jobsOf(Tables.lineitem(spark, dir.toString))
      assert(first >= 1, "schema inference no longer runs a job: the control is void")
      assert(jobsOf(Tables.lineitem(spark, dir.toString)) == 0)
      assert(jobsOf(Tables.lineitem(spark, dir.toString).schema) == 0)
    }
  }

  test("every table reads as a bare read.parquet: same schema, same rows") {
    for ((name, load) <- Tables.byName) {
      load(spark, Sf) // the next read is a memo hit
      val hit = load(spark, Sf)
      val bare = spark.read.parquet(s"$Sf/$name.parquet")
      // events' loader normalization, applied to the bare scan
      val expected =
        if (name == "events" && bare.schema("ts").dataType == LongType)
          bare.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else bare
      assert(hit.schema == expected.schema, name)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(hit) == rows(expected), name)
    }
  }

  test("a file rewritten at the same path with a new schema is re-inferred") {
    import spark.implicits._
    withTempDir { dir =>
      val target = dir.resolve("region.parquet")
      writeFile(Seq((1L, "a"), (2L, "b")).toDF("x", "y"), target)
      assert(Tables.region(spark, dir.toString).columns.toSeq == Seq("x", "y"))
      assert(Tables.region(spark, dir.toString).count() == 2)
      writeFile(Seq((1.5, true, "c")).toDF("p", "q", "r"), target)
      val again = Tables.region(spark, dir.toString)
      assert(again.columns.toSeq == Seq("p", "q", "r"))
      assert(again.collect().map(_.toString).toSeq == Seq("[1.5,true,c]"))
    }
  }

  test("two reads of one table self-join on df(col) references without ambiguity") {
    val a = Tables.nation(spark, Sf)
    val b = Tables.nation(spark, Sf)
    val pairs = a.join(b, a("n_regionkey") === b("n_regionkey") &&
        a("n_nationkey") < b("n_nationkey"))
      .select(a("n_nationkey"), b("n_nationkey"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val nations = Tables.nation(spark, Sf)
      .select(col("n_nationkey"), col("n_regionkey")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    val expected = for {
      (ka, ra) <- nations; (kb, rb) <- nations if ra == rb && ka < kb
    } yield (ka, kb)
    assert(expected.nonEmpty)
    assert(pairs == expected.toSet)
  }
}
