package graft

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** The executor JVMs a `local-cluster[...]` master started for THIS
  * driver, and the one killer the fault drills (Bench's
  * `SPARK_GRAFT_DRILL_KILL_MS`, [[FaultDrill]], [[StreamFaultDrill]]) use
  * on them. Only descendants of this JVM are candidates: an
  * `allProcesses()` scan would also match an unrelated Spark job's
  * executor on a shared host.
  */
private[graft] object LocalCluster {
  def ownExecutors(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator().asScala.filter { p =>
      p.info().commandLine().map[Boolean](
        _.contains("CoarseGrainedExecutorBackend")).orElse(false)
    }.toSeq

  /** Force-kills one of [[ownExecutors]] `delayMs` after construction, on
    * a daemon thread, and keeps a landing receipt: when the kill landed
    * (epoch ms), -1 while pending, -2 if no executor was found.
    *
    * The receipt is what makes a fault arm mean something. A guarded run
    * that ends before the kill tested nothing, and a killer left running
    * would fire into whatever runs next in this JVM — typically the next
    * CLEAN reference run, making it depend on fault recovery.
    */
  final class Killer(tag: String, delayMs: Long) {
    private val killed = new AtomicLong(-1L)
    private val t = new Thread(() => {
      try {
        Thread.sleep(delayMs)
        if (!Thread.currentThread().isInterrupted)
          ownExecutors().headOption match {
            case Some(p) =>
              System.err.println(s"[drill] $tag: killing executor pid ${p.pid()}")
              p.destroyForcibly()
              killed.set(System.currentTimeMillis())
            case None =>
              System.err.println(s"[drill] $tag: no executor JVM found")
              killed.set(-2L)
          }
      } catch { case _: InterruptedException => () }
    })
    t.setDaemon(true); t.start()

    def killedAtMs: Long = killed.get()

    /** Call once the guarded run, which ended at `runEndMs`, is over. A
      * killer that has not fired by then can only count as a failure, so
      * it is interrupted at once: a sleeping one exits without killing,
      * and one already past its sleep gets a short bounded join to finish.
      * No kill then lands after the guarded run in any caller. Returns the
      * failure, if any: the kill must have landed at or before `runEndMs`.
      */
    def receipt(runEndMs: Long): Option[String] = {
      t.interrupt()
      t.join(5000)
      killed.get() match {
        case -1L => Some(s"$tag: killer never fired; fault arm tested nothing")
        case -2L => Some(s"$tag: no executor JVM found; fault arm tested nothing")
        case k if k > runEndMs =>
          Some(s"$tag: kill landed ${k - runEndMs} ms AFTER the run ended; fault arm tested nothing")
        case _ => None
      }
    }
  }
}
