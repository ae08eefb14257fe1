package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Stratified block (Neyman
  * allocation, Mantel-Haenszel, top-k LOO, elasticity, ABC) at
  * sf0.001.
  */
class StratifiedSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("Neyman allocation shares sum to one; counts near the budget") {
    val rows = q("q_neyman_alloc").collect()
    val shares = rows.map(_.getAs[Double]("alloc_share")).sum
    assert(math.abs(shares - 1.0) < 1e-9)
    val n = rows.map(_.getAs[Long]("alloc_n")).sum
    // floors can only lose up to one row per stratum
    assert(n <= 1000 && n >= 1000 - rows.length)
  }

  test("Mantel-Haenszel OR is positive and strata cover all users") {
    val r = q("q_mantel_haenszel").collect().head
    assert(r.getAs[Long]("n_strata") >= 1)
    assert(r.getAs[Double]("or_mh") > 0.0)
    assert(r.getAs[Double]("or_crude") > 0.0)
  }

  test("top-k LOO: common counts bounded by 10 per source") {
    val rows = q("q_topk_loo").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getAs[Long]("n_common")
      assert(c >= 0 && c <= 10)
      assert(r.getAs[Long]("churn") == 10 - c)
    }
  }

  test("elasticity slope equals a driver-side OLS per type") {
    import org.apache.spark.sql.functions._
    val rows0 = Tables.table(spark, sf, "lineitem")
      .join(Tables.table(spark, sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_type"),
        floor(col("l_extendedprice") / col("l_quantity") * 100)
          .cast("long"),
        col("l_quantity").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = rows0.groupBy(_._1)
    q("q_elasticity").collect().foreach { r =>
      val t = r.getAs[String]("p_type")
      val xs = byType(t).map(_._2.toDouble)
      val ys = byType(t).map(_._3.toDouble)
      val n = xs.length
      val slope = (n * xs.zip(ys).map { case (a, b) => a * b }.sum -
        xs.sum * ys.sum) /
        (n * xs.map(a => a * a).sum - xs.sum * xs.sum)
      assert(math.abs(r.getAs[Double]("slope_qty_per_cent") - slope)
        < math.abs(slope) * 1e-9 + 1e-15, t)
    }
  }

  test("ABC classes tile revenue with the 80/95 structure") {
    val rows = q("q_abc_class").collect()
      .map(r => (r.getAs[String]("cls"), r.getAs[Long]("n_parts"),
        r.getAs[Double]("revenue_share"))).sortBy(_._1)
    val shareSum = rows.map(_._3).sum
    assert(math.abs(shareSum - 1.0) < 1e-9)
    val m = rows.map(r => r._1 -> r._3).toMap
    assert(m("A") <= 0.8 + 1e-9)
    assert(m("A") + m.getOrElse("B", 0.0) <= 0.95 + 1e-9)
    // A holds the most revenue per part (the point of the ranking)
    val perPart = rows.map(r => r._1 -> r._3 / r._2).toMap
    assert(perPart("A") > perPart("C"))
  }
}
