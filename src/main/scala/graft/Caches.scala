package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Session-scoped registry of operator-internal cached frames.
  *
  * Many graft operators `cache()` an intermediate on purpose — the hot-list
  * caches in [[operators.Dedup.capShingles]] / `LmOps.t10LineDedup` are
  * LOAD-BEARING for AQE (the TableCacheQueryStage boundary is what lets the
  * runtime price the TRUE post-filter size for its broadcast-vs-shuffle
  * call), and the shared-frame caches (shingle sets, centroid assignments,
  * pre-partitioned edge sets) are what make each operator a single-pass
  * query. But a returned DataFrame is lazy: the operator cannot unpersist
  * after "the final action" because the CALLER runs the action. Left alone,
  * every such cache outlives its query — Spark's CacheManager pins the
  * InMemoryRelation until an explicit unpersist — so a long-lived consumer
  * session accumulates one hot-list/shingle/edge cache per query run, each
  * bounded only linearly in corpus size. `spark.catalog.clearCache()` is
  * the blunt fix, but it also drops every cache the CONSUMER built.
  *
  * This registry is the scoped fix: each internal `cache()` goes through
  * [[mark]] (spelled `.tracked` at call sites), and [[release]] unpersists
  * exactly the graft-registered frames of one session, leaving consumer
  * caches alone. Call it between jobs in a long-lived session (see
  * docs/QUICKSTART.md), or install [[autoRelease]] once and get the same
  * hygiene with no per-job call; the harnesses (`Bench`, `Verify`,
  * `Profile`, `FaultDrill`) sweep with [[releaseAll]] between queries.
  *
  * Lifetime notes:
  *   - References are STRONG, keyed by session identity, with the same
  *     lifetime as Spark's own CacheManager entries — registry entry and
  *     cache entry die together in [[release]]. One caveat beyond the
  *     CacheManager parallel: CacheManager entries can also die via
  *     `clearCache()`/session teardown, which this registry cannot
  *     observe. [[mark]]/[[release]] therefore SCAVENGE entries of any
  *     session whose SparkContext has stopped (their blocks died with the
  *     context; only the references linger), and long-lived multi-session
  *     JVMs should call [[release]] before `session.stop()` — documented
  *     in QUICKSTART.
  *   - Double-unpersist is a no-op, so operators that release their own
  *     intermediates early (c13's staged unpersists) still register here.
  *   - GraphX `Graph()` persists vertex/edge RDDs OUTSIDE the SQL cache;
  *     those are not Datasets and cannot register. [[releaseAll]] is the
  *     harness sweep for them and for everything else: the registry, the
  *     whole SQL cache, and every non-checkpointed persisted RDD in the
  *     context (checkpoint pins are exempt — their lineage is truncated,
  *     they cannot be recomputed; FraudML's memoized split lives there).
  *     It is context-wide by nature (an RDD has no owning session), so it
  *     also drops consumer caches and RDDs — opt-in, documented.
  */
object Caches {
  /** Per-session registry state: registered frames tagged with the
    * action-generation they were registered under, the completed-action
    * counter ([[autoRelease]]'s clock), and whether the auto listener is
    * installed.
    */
  private final class State {
    val buf = ArrayBuffer.empty[(Dataset[_], Long)]
    var gen: Long = 0L
  }

  private val reg = new java.util.IdentityHashMap[SparkSession, State]()

  /** Sessions with the auto-release listener installed. WEAK keys: this
    * map must never pin a session — the listener itself is held by the
    * session's own listener manager, so both die with the session, and
    * `reg` entries are fully removed by [[release]] (a registry entry
    * only exists while tracked frames do). Guarded by reg's lock.
    */
  private val autoInstalled =
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Callers hold reg.synchronized. */
  private def stateFor(s: SparkSession): State = {
    var st = reg.get(s)
    if (st == null) { st = new State; reg.put(s, st) }
    st
  }

  /** Drop registry entries of sessions whose SparkContext already stopped:
    * their cached blocks died with the context, so only the strong refs
    * linger. Callers hold reg.synchronized.
    */
  private def scavengeStopped(): Unit = {
    val it = reg.entrySet().iterator()
    while (it.hasNext) {
      if (it.next().getKey.sparkContext.isStopped) it.remove()
    }
  }

  /** `ds.cache()` + register for scoped release. Internal spelling:
    * `frame.tracked` via [[Tracked]].
    */
  private[graft] def mark[T](ds: Dataset[T]): Dataset[T] = {
    ds.cache()
    reg.synchronized {
      scavengeStopped()
      val st = stateFor(ds.sparkSession)
      st.buf += ((ds, st.gen))
    }
    ds
  }

  /** Unpersist every graft-internal cached frame registered by `spark`'s
    * queries and drain the registry. Non-blocking; consumer caches and
    * checkpoint pins are untouched. Returns the number of frames released.
    */
  def release(spark: SparkSession): Int = {
    val drained = reg.synchronized {
      scavengeStopped()
      val st = reg.remove(spark)
      if (st == null) Nil else st.buf.map(_._1).toList
    }
    drained.foreach(_.unpersist(blocking = false))
    drained.size
  }

  /** The harnesses' between-query sweep: [[release]], then
    * `spark.catalog.clearCache()`, then the GraphX sweep — unpersist every
    * non-checkpointed persisted RDD in the context (graph-family queries
    * persist vertex/edge RDDs outside the SQL cache). Context-wide —
    * consumer caches and consumer-persisted RDDs are dropped too (they
    * recompute lazily via lineage); checkpoint pins survive because their
    * truncated lineage CANNOT recompute. Returns [[release]]'s count.
    */
  def releaseAll(spark: SparkSession): Int = {
    val n = release(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(r => if (!r.isCheckpointed) r.unpersist(false))
    n
  }

  /** Opt-in set-and-forget hygiene for long-lived consumer sessions:
    * installs a `QueryExecutionListener` that drains graft-internal caches
    * as the session's actions complete, so a consumer that never calls
    * [[release]] still cannot accumulate one cache per query forever.
    * Idempotent per session.
    *
    * The drain is GENERATION-LAGGED, not immediate: a frame is released
    * only once the completed-action counter is ≥ 2 past the generation it
    * was registered under. Operators run internal eager actions while
    * BUILDING a frame (g23's edge count, the embedding dim probe),
    * so draining on the very next `onSuccess` would unpersist load-bearing
    * caches mid-operator; the lag keeps every cache alive through its own
    * operator's build and the caller's first action on the result.
    * Checkpoint materializations (`checkpoint`/`localCheckpoint` — fired
    * once per iteration by the graph loops) do not advance the clock.
    * Worst-case residency: the internal caches of the last two queries.
    *
    * Trade-offs (QUICKSTART): a caller that runs MANY actions over one
    * returned frame recomputes the operator's internal stages from the
    * SECOND action on, and the lag clock assumes one logical query at a
    * time — a session shared by CONCURRENT action-running threads can
    * advance the clock past a sibling query's registration mid-build
    * (correctness is unaffected; the drained frame recomputes via
    * lineage). Keep manual [[release]] for multi-action reads or
    * concurrent sharing.
    *
    * Lifetime: installation does NOT pin the session — the installed-set
    * has weak keys and the listener is held by the session's own
    * listener manager, while registry entries are fully removed by every
    * drain; session-per-job JVMs can install per session freely.
    */
  def autoRelease(spark: SparkSession): Unit = {
    val install = reg.synchronized {
      if (autoInstalled.containsKey(spark)) false
      else { autoInstalled.put(spark, java.lang.Boolean.TRUE); true }
    }
    if (install) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        if (funcName != "checkpoint" && funcName != "localCheckpoint") {
          val drained = reg.synchronized {
            val st = reg.get(spark)
            if (st == null) Nil
            else {
              st.gen += 1
              val cut = st.gen - 2
              val (old, keep) = st.buf.partition(_._2 <= cut)
              st.buf.clear(); st.buf ++= keep
              // drop the entry once empty so a drained session holds no
              // strong ref (session-per-job JVMs leak otherwise); the
              // gen clock restarting at the next registration preserves
              // the lag contract — it is relative to registration
              if (st.buf.isEmpty) reg.remove(spark)
              old.map(_._1).toList
            }
          }
          drained.foreach(_.unpersist(blocking = false))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
  }

  /** Number of currently-registered frames for `spark` (test probe). */
  private[graft] def registered(spark: SparkSession): Int =
    reg.synchronized {
      val st = reg.get(spark)
      if (st == null) 0 else st.buf.size
    }

  /** `.tracked` = `.cache()` + registration with [[Caches]]. */
  private[graft] implicit final class Tracked[T](private val ds: Dataset[T])
      extends AnyVal {
    def tracked: Dataset[T] = mark(ds)
  }
}
