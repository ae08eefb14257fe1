package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-12 Selection block (Bradley-Terry
  * step, deterministic mix resampling, RRF quality ensemble), at
  * sf0.001.
  */
class SelectionSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("bt step: win/game accounting balances and ranks are a " +
    "permutation ordered by s2") {
    val rows = q("q_bt_step").collect()
    assert(rows.nonEmpty)
    // every match contributes one win and two game slots
    val games = rows.map(_.getLong(1)).sum
    val wins = rows.map(_.getLong(2)).sum
    assert(games == wins * 2, "sum(games) != 2 * sum(wins)")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(4) > 0.0)
    }
    val rnks = rows.map(_.getLong(5)).sorted
    assert(rnks.toSeq == (1L to rows.length).toSeq)
    // rnk really orders by s2 desc (event_type ties can't collide)
    val byRnk = rows.sortBy(_.getLong(5)).map(_.getDouble(4))
    assert(byRnk.zip(byRnk.tail).forall { case (a, b) => a >= b })
  }

  test("resample mix: the max-ratio source keeps everything, others " +
    "only shrink, and re-running is bit-identical") {
    val rows = q("q_resample_mix").collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "docs grew under resampling")
      assert(r.getLong(4) <= r.getLong(3))
    }
    // the most-upweighted source's threshold is exactly 1e6: keeps all
    val maxRatioSource = rows.maxBy(r => r.getDouble(6) / r.getDouble(5))
    assert(maxRatioSource.getLong(2) == maxRatioSource.getLong(1),
      "max-ratio source lost docs")
    // determinism: a second evaluation yields the same rows
    val again = q("q_resample_mix").collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  test("quality ensemble: top-50 with valid min-ranks and a " +
    "non-increasing fused score") {
    val rows = q("q_quality_ensemble").collect()
    assert(rows.length == 50)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 50L).toSeq)
    rows.foreach { r =>
      Seq(2, 3, 4).foreach(i => assert(r.getLong(i) >= 1L))
      // rrf is bounded by 3 * 1/61
      assert(r.getDouble(5) <= 3.0 / 61.0 + 1e-9)
    }
    val scores = rows.sortBy(_.getLong(0)).map(_.getDouble(5))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }
}
