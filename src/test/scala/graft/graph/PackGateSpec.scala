package graft.graph

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The 31-bit packing decision itself, at its boundary (Round15Spec pins
  * only that the packed join equals the two-key one).
  */
class PackGateSpec extends AnyFunSuite with SparkTestSession {
  private def gate(edges: (Long, Long)*): Boolean = {
    import spark.implicits._
    NeighborAgg.packable(edges.toSeq.toDF("src", "dst"))
  }

  test("packable admits ids up to 2^31-1 on both endpoints") {
    val top = (1L << 31) - 1
    assert(gate((0L, 1L), (1L, top)))
    assert(gate((0L, top), (top, top)))
  }

  test("packable rejects 2^31, a negative id and an empty edge set") {
    val over = 1L << 31
    assert(!gate((0L, over)), "dst = 2^31")
    assert(!gate((over, 1L)), "src = 2^31")
    assert(!gate((-1L, 1L)), "negative src")
    assert(!gate((0L, -1L)), "negative dst")
    assert(!gate(), "empty edge set")
  }
}
