package graft

import java.nio.file.Files

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The lineage-cut switch (`graft.Cut`): default local checkpoint vs the
  * `spark.graft.reliableCheckpointDir` shared-storage mode that
  * FaultDrill proves executor-loss-survivable — for Datasets and for the
  * pair-RDD state of the co-partitioned loops.
  */
class CutSpec extends AnyFunSuite with SparkTestSession {

  test("default: eager localCheckpoint (no checkpoint dir involved)") {
    spark.conf.unset("spark.graft.reliableCheckpointDir")
    val cut = Cut.cut(spark.range(100).toDF("n"))
    assert(cut.count() == 100)
    // lineage is truncated: the plan is a materialized LogicalRDD scan,
    // not the original Range (df.rdd wraps the checkpointed RDD in a
    // deserializing MapPartitionsRDD, so assert on the plan, not the rdd)
    assert(cut.queryExecution.optimizedPlan.getClass.getSimpleName
      == "LogicalRDD", "cut must be eager and truncate lineage")
  }

  test("reliableCheckpointDir: cut data lands in shared storage") {
    val dir = Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.reliableCheckpointDir", dir)
    try {
      val cut = Cut.cut(spark.range(1000).toDF("n"))
      assert(cut.count() == 1000)
      assert(cut.queryExecution.optimizedPlan.getClass.getSimpleName
        == "LogicalRDD")
      // reliable checkpoints materialize as files under the configured dir
      def filesUnder(f: java.io.File): Int =
        if (f.isFile) 1 else Option(f.listFiles()).fold(0)(_.map(filesUnder).sum)
      assert(filesUnder(new java.io.File(dir)) > 0,
        "reliable mode must write checkpoint blocks to the shared dir")
      // values survive the cut unchanged
      assert(cut.agg(org.apache.spark.sql.functions.sum("n"))
        .head.getLong(0) == 499500L)
    } finally spark.conf.unset("spark.graft.reliableCheckpointDir")
  }

  /** 100 keyed rows under a 3-way partitioner; `evals` counts how often
    * an element is computed.
    */
  private def keyed(part: HashPartitioner): (RDD[(Int, Long)],
      org.apache.spark.util.LongAccumulator) = {
    val evals = spark.sparkContext.longAccumulator("cut-evals")
    val rdd = spark.sparkContext.parallelize(1 to 100)
      .map(i => (i, i.toLong)).partitionBy(part)
      .mapValues { v => evals.add(1); v * 2 }
    (rdd, evals)
  }

  test("RDD cut, default: eager local checkpoint, partitioner kept") {
    spark.conf.unset("spark.graft.reliableCheckpointDir")
    val part = new HashPartitioner(3)
    val (rdd, evals) = keyed(part)
    val cut = Cut.cutRdd(rdd, spark)
    assert(cut.isCheckpointed, "cut must be eager")
    assert(evals.value == 100)
    // lineage is truncated to the checkpoint blocks: no shuffle left
    assert(cut.dependencies.map(_.rdd.getClass.getSimpleName)
      == Seq("LocalCheckpointRDD"), cut.toDebugString)
    assert(cut.partitioner.contains(part))
    assert(cut.values.sum() == 10100L)
    assert(evals.value == 100, "reading the cut recomputed the iteration")
  }

  test("RDD cut, reliableCheckpointDir: shared storage, one evaluation, partitioner kept") {
    val dir = Files.createTempDirectory("graft_ckpt_rdd").toString
    spark.conf.set("spark.graft.reliableCheckpointDir", dir)
    try {
      val part = new HashPartitioner(3)
      val (rdd, evals) = keyed(part)
      val cut = Cut.cutRdd(rdd, spark)
      assert(cut.isCheckpointed, "cut must be eager")
      // persisted before checkpoint(): the checkpoint write read the
      // materialized blocks instead of computing every element again
      assert(evals.value == 100)
      assert(cut.dependencies.map(_.rdd.getClass.getSimpleName)
        == Seq("ReliableCheckpointRDD"), cut.toDebugString)
      assert(cut.partitioner.contains(part))
      // the persist only served the write; reads come from the files
      assert(cut.getStorageLevel == StorageLevel.NONE)
      assert(cut.values.sum() == 10100L)
      assert(evals.value == 100)
      // the blocks are files (under the context's checkpoint dir, which
      // the first reliable cut of the context fixed)
      assert(cut.getCheckpointFile.exists(f =>
        new java.io.File(new java.net.URI(f).getPath).isDirectory))
    } finally spark.conf.unset("spark.graft.reliableCheckpointDir")
  }
}
