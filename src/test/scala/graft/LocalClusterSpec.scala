package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The drills' kill candidates are this JVM's own executors only. Two
  * stand-in processes carry the executor marker on their command line:
  * one a child of this JVM, one orphaned (its parent exits at once, so it
  * belongs to no one here) — the process an `allProcesses()` scan would
  * also have matched.
  */
class LocalClusterSpec extends AnyFunSuite {

  private val Marker = "CoarseGrainedExecutorBackend"

  private def kill(p: ProcessHandle): Unit = {
    p.descendants().forEach(d => d.destroyForcibly())
    p.destroyForcibly()
  }

  test("ownExecutors never returns a process outside this JVM's descendants") {
    val pidFile = Files.createTempFile("orphan", ".pid")
    val child = new ProcessBuilder("bash", "-c", s"sleep 60; : $Marker").start()
    new ProcessBuilder("bash", "-c",
      s"(bash -c 'echo $$$$ > $pidFile; sleep 60; : $Marker' &)").start()
      .waitFor()
    try {
      val deadline = System.currentTimeMillis + 10000
      while (Files.size(pidFile) == 0 && System.currentTimeMillis < deadline)
        Thread.sleep(20)
      val orphan = ProcessHandle.of(
        Files.readString(pidFile).trim.toLong).get
      try {
        def marked(p: ProcessHandle) =
          p.info().commandLine().orElse("").contains(Marker)
        assert(orphan.isAlive && marked(orphan))
        // the whole-host scan sees both stand-ins
        val all = ProcessHandle.allProcesses().iterator().asScala
          .filter(marked).map(_.pid).toSet
        assert(all.contains(child.pid) && all.contains(orphan.pid))

        val own = LocalCluster.ownExecutors().map(_.pid).toSet
        val descendants = ProcessHandle.current().descendants()
          .iterator().asScala.map(_.pid).toSet
        assert(own.subsetOf(descendants))
        assert(own.contains(child.pid))
        assert(!own.contains(orphan.pid))
      } finally kill(orphan)
    } finally {
      kill(child.toHandle)
      Files.delete(pidFile)
    }
  }
}
