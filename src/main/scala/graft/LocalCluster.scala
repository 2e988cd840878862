package graft

import scala.jdk.CollectionConverters._

/** The executor JVMs a `local-cluster[...]` master started for THIS
  * driver — the processes the fault drills (Bench's
  * `SPARK_GRAFT_DRILL_KILL_MS`, [[FaultDrill]], [[StreamFaultDrill]]) may
  * kill. Only descendants of this JVM are candidates: an
  * `allProcesses()` scan would also match an unrelated Spark job's
  * executor on a shared host.
  */
private[graft] object LocalCluster {
  def ownExecutors(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala.filter { p =>
      p.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false)
    }.toSeq
}
