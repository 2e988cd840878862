package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Eager lineage cut for iterative loops and memoized pins.
  *
  * Default is `localCheckpoint(eager = true)`: blocks live on the
  * executors, the fastest cut, and the right trade on a healthy cluster
  * (see PageRankOps doc for the memory story). Its known limit is
  * executor loss — truncated lineage cannot be recomputed if the hosting
  * executor dies.
  *
  * Setting `spark.graft.reliableCheckpointDir` (any shared filesystem
  * path — HDFS/S3A on a real cluster) switches every cut in the library
  * to reliable `checkpoint(eager = true)`: blocks are written to shared
  * storage, so a re-scheduled task on a surviving executor reads them
  * back instead of failing the job. This is the executor-loss switch
  * SCALE.md documents, proven by `FaultDrill` (g06's iterative loop
  * survives a force-killed executor only under this conf).
  *
  * Both forms — [[cut]] on a Dataset, [[cutRdd]] on a loop's RDD state —
  * read the same switch and are equally eager: the returned value is
  * materialized and its lineage truncated before the call returns.
  */
object Cut {
  def cut[T](ds: Dataset[T]): Dataset[T] =
    if (reliable(ds.sparkSession)) ds.checkpoint(true)
    else ds.localCheckpoint(true)

  /** RDD form, for loops that run on co-partitioned pair RDDs: the cut
    * keeps the RDD itself, so its `partitioner` survives (a Dataset cut
    * re-plans with unknown partitioning). A local cut is one job. A
    * reliable cut is two (the count, then the checkpoint write); the RDD
    * is persisted first so the write reads the materialized blocks
    * instead of recomputing the iteration, and unpersisted once the
    * files are written.
    */
  def cutRdd[T](rdd: RDD[T], s: SparkSession): RDD[T] = {
    if (reliable(s)) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
      rdd.count()
      rdd.unpersist(blocking = false)
    } else {
      rdd.localCheckpoint()
      rdd.count()
    }
    rdd
  }

  /** Whether `s` runs in reliable mode; points the context's checkpoint
    * dir at the configured one on first use.
    */
  private def reliable(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.reliableCheckpointDir") match {
      case Some(dir) =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        true
      case None => false
    }
}
