package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the [[Caches]] registry: operator-internal caches register
  * per session, [[Caches.release]] drops exactly those (and drains its
  * strong refs), consumer caches survive it (the harness sweep
  * [[Caches.releaseAll]] drops them too), and the c13 pipeline keeps its
  * stronger claim — eager internal release of all four frames (canon,
  * shingles, capped rows, capShingles' hot list via capShinglesKeep), so
  * the SQL cache is EMPTY right after a run with no release call at all.
  */
class CachesSpec extends AnyFunSuite with SparkTestSession {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def drainAll(): Unit = Caches.releaseAll(spark)

  test("release drops the operator-internal caches a query materialized, not consumer caches") {
    drainAll()
    // a consumer-built cache the scoped release must NOT touch
    val mine = spark.range(0, 1000L).toDF("id").cache()
    assert(mine.count() == 1000L)
    // t10 caches `pages` + the frequent-line hot set internally; after
    // the action both are materialized and neither is reachable by the
    // caller — the registry is the only release path
    val t10 = operators.LmOps.t10LineDedup(spark, Sf)
    assert(t10.count() > 0)
    assert(!GraftBridge.sqlCacheIsEmpty(spark))
    val released = Caches.release(spark)
    assert(released >= 2, s"t10 registers pages+freq, got $released")
    // second release is a no-op: the registry drained its strong refs
    assert(Caches.release(spark) == 0)
    // the consumer cache survived the scoped release
    assert(!GraftBridge.sqlCacheIsEmpty(spark),
      "consumer cache must survive Caches.release")
    assert(mine.storageLevel.useMemory)
    mine.unpersist(blocking = true)
    assert(GraftBridge.sqlCacheIsEmpty(spark))
  }

  test("releaseAll is the whole between-query sweep: a consumer cache leaves the SQL cache too") {
    drainAll()
    val mine = spark.range(0, 1000L).toDF("id").cache()
    assert(mine.count() == 1000L)
    assert(!GraftBridge.sqlCacheIsEmpty(spark))
    Caches.releaseAll(spark)
    assert(mine.storageLevel == StorageLevel.NONE,
      "releaseAll must drop consumer SQL cache entries")
    assert(GraftBridge.sqlCacheIsEmpty(spark))
  }

  test("c13Assign leaves the SQL cache empty with NO release call — its internal release is complete") {
    drainAll()
    val before = persistedIds
    val assigned = operators.Corpus.c13Assign(spark,
      operators.Corpus.c13Canon(operators.Corpus.c13Gate(spark, Sf)))
    assert(assigned.count() > 0)
    // canon/sh0/capped/hot were all unpersisted inside c13Assign; the
    // registry still saw them (double-unpersist is a no-op) but storage
    // must already be clean. GraphX CC leaves vertex/edge RDD blocks
    // OUTSIDE the SQL cache — that is releaseAll's half, below.
    assert(GraftBridge.sqlCacheIsEmpty(spark),
      "c13 left SQL cache entries behind")
    Caches.releaseAll(spark)
    assert(persistedIds.diff(before).forall(id =>
      spark.sparkContext.getPersistentRDDs(id).isCheckpointed),
      "releaseAll must sweep the GraphX vertex/edge blocks too")
  }

  test("autoRelease: two back-to-back queries drain with ZERO manual release calls") {
    drainAll()
    // isolated child session: its own listener manager and registry key,
    // so installing the (uninstallable) listener cannot leak auto-drain
    // semantics into the other suites sharing the test session
    val s2 = spark.newSession()
    Caches.autoRelease(s2)
    Caches.autoRelease(s2) // idempotent — second install is a no-op
    // a consumer cache the auto path must never touch
    val mine = s2.range(0, 500L).toDF("id").cache()
    assert(mine.count() == 500L)
    // Q1: t10 registers pages + freq internally
    assert(operators.LmOps.t10LineDedup(s2, Sf).count() > 0)
    assert(Caches.registered(s2) >= 2,
      "Q1's internals must still be resident (generation lag)")
    // Q2 (different SF → distinct plans), two actions to advance the
    // clock past the lag for BOTH queries' generations
    val q2 = operators.LmOps.t10LineDedup(s2, SfMid)
    assert(q2.count() > 0)
    assert(q2.count() > 0)
    // QueryExecutionListener delivery is async (shared listener bus) —
    // poll for the drain instead of sleeping a fixed quantum
    val deadline = System.currentTimeMillis + 30000
    while (Caches.registered(s2) > 0 && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(Caches.registered(s2) == 0,
      s"auto-drain left ${Caches.registered(s2)} frames registered")
    // consumer cache untouched by the auto path
    assert(mine.storageLevel.useMemory, "autoRelease must not touch consumer caches")
    mine.unpersist(blocking = true)
  }
}
