package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The drills' kill candidates are this JVM's own executors only. Two
  * stand-in processes carry the executor marker on their command line:
  * one a child of this JVM, one orphaned (its parent exits at once, so it
  * belongs to no one here) — the process an `allProcesses()` scan would
  * also have matched.
  *
  * The shared [[LocalCluster.Killer]]'s landing receipt is pinned on
  * stand-in children too (a single `bash` blocked in its `read` builtin,
  * marker as `$0`); no Spark executor is started.
  */
class LocalClusterSpec extends AnyFunSuite {

  private val Marker = "CoarseGrainedExecutorBackend"

  private def kill(p: ProcessHandle): Unit = {
    p.descendants().forEach(d => d.destroyForcibly())
    p.destroyForcibly()
  }

  /** A marked child of this JVM, once it has exec'd into `bash`. */
  private def standIn(): Process = {
    val p = new ProcessBuilder("bash", "-c", "read -t 60", Marker).start()
    val deadline = System.currentTimeMillis + 10000
    while (!LocalCluster.ownExecutors().exists(_.pid == p.pid) &&
        System.currentTimeMillis < deadline) Thread.sleep(20)
    assert(LocalCluster.ownExecutors().exists(_.pid == p.pid))
    p
  }

  private def await(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis + 10000
    while (!cond && System.currentTimeMillis < deadline) Thread.sleep(20)
    cond
  }

  test("receipt: a kill that lands during the guarded run passes") {
    val child = standIn()
    try {
      val k = new LocalCluster.Killer("during", 100)
      // the guarded run lasts until the executor is gone
      assert(await(!child.isAlive))
      val endMs = System.currentTimeMillis()
      assert(k.receipt(endMs).isEmpty)
      assert(k.killedAtMs > 0 && k.killedAtMs <= endMs)
    } finally kill(child.toHandle)
  }

  test("receipt: a kill that lands after the run ended reports a failure") {
    val child = standIn()
    try {
      val k = new LocalCluster.Killer("after", 200)
      val endMs = System.currentTimeMillis()
      // the receipt is taken late, once the kill has already landed
      assert(await(!child.isAlive))
      val r = k.receipt(endMs)
      assert(r.exists(_.contains("AFTER the run ended")), r)
      assert(k.killedAtMs > endMs)
    } finally kill(child.toHandle)
  }

  test("receipt: with no marked descendant the kill records -2 and fails") {
    assert(await(LocalCluster.ownExecutors().isEmpty))
    val k = new LocalCluster.Killer("none", 0)
    assert(await(k.killedAtMs != -1L))
    val r = k.receipt(System.currentTimeMillis() + 60000)
    assert(k.killedAtMs == -2L)
    assert(r.exists(_.contains("no executor JVM found")), r)
  }

  test("receipt: a run that ends before the delay fails and the killer kills nothing") {
    val child = standIn()
    try {
      val k = new LocalCluster.Killer("early", 1000)
      val r = k.receipt(System.currentTimeMillis())
      assert(r.exists(_.contains("never fired")), r)
      // well past the delay: the interrupted killer never fired
      Thread.sleep(2000)
      assert(k.killedAtMs == -1L)
      assert(child.isAlive)
    } finally kill(child.toHandle)
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
