package graft

import org.scalatest.funsuite.AnyFunSuite

/** The size-gated q_graph_triangle strategy (round 13) flips between
  * the adjacency-broadcast edge-iterator and the co-partitioned wedge
  * join at TriangleBroadcastEdgeCap. The gate is only sound if the two
  * spellings are RESULT-IDENTICAL — same triangles found exactly once,
  * same per-node rollup, same top-20 — which this spec pins on the
  * real co-purchase graph at sf0.001 (where the registered query takes
  * the broadcast path, so the wedge path would otherwise go
  * unexercised by the oracle sweep).
  */
class TriangleEquivalenceSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("wedge-join and broadcast-adjacency triangle spellings return " +
    "identical rows") {
    val oriented = operators.Retrieval.orientedTriangleEdges(spark, sf)
    val viaBroadcast = operators.Retrieval.triangleByBroadcast(oriented)
      .collect().toSeq.map(_.toSeq)
    val viaWedge = operators.Retrieval.triangleByWedge(oriented)
      .collect().toSeq.map(_.toSeq)
    assert(viaBroadcast.nonEmpty, "graph yields triangles at sf0.001")
    assert(viaBroadcast == viaWedge,
      "the two triangle strategies must be result-identical")
  }

  test("the size gate's WIRING flips plans and keeps results identical " +
    "— a tiny forced cap routes the registered query through the wedge") {
    // default cap: sf0.001's edge count is far below 200M -> broadcast
    val viaDefault = SparkEntry.queries("q_graph_triangle")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(operators.Retrieval.lastTriangleStrategy == "broadcast",
      "below the cap the registered query must take the broadcast plan")
    // force the cap below any real edge count: the SAME registered
    // query must now (a) switch to the wedge plan and (b) return the
    // identical top-20 — this exercises the gate itself, not just the
    // two spellings side by side
    System.setProperty("graft.triangle.cap", "1")
    try {
      val viaGated = SparkEntry.queries("q_graph_triangle")(spark, sf)
        .collect().toSeq.map(_.toSeq)
      assert(operators.Retrieval.lastTriangleStrategy == "wedge",
        "a cap below the edge count must flip the gate to the wedge")
      assert(viaGated == viaDefault,
        "gate flip changed the result — the two plans diverged")
    } finally System.clearProperty("graft.triangle.cap")
  }
}
