package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Activity block (new/returning,
  * stickiness, knee point, null patterns, share-of-parent) at sf0.001.
  */
class ActivitySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("new + returning = active; new sums to the user count") {
    val rows = q("q_new_returning").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_new") + r.getAs[Long]("n_returning") ==
        r.getAs[Long]("n_active"))
    }
    import org.apache.spark.sql.functions._
    val users = Tables.table(spark, sf, "events")
      .select(countDistinct("user_id")).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("n_new")).sum == users)
  }

  test("stickiness is within (0, 1] and DAU <= MAU") {
    q("q_stickiness").collect().foreach { r =>
      val (dau, mau) = (r.getAs[Long]("dau"), r.getAs[Long]("mau"))
      assert(dau <= mau)
      val st = r.getAs[Double]("stickiness")
      assert(st > 0.0 && st <= 1.0)
      assert(st == dau.toDouble / mau)
    }
  }

  test("knee point maximizes the integer chord distance") {
    val r = q("q_knee_point").collect().head
    val k = r.getAs[Long]("knee_k")
    val v = r.getAs[Long]("vocab")
    assert(k >= 1 && k <= v)
    assert(r.getAs[Long]("score") >= 0)
    val cov = r.getAs[Double]("knee_coverage")
    // the knee lies above the diagonal: coverage > k/V
    assert(cov > k.toDouble / v)
  }

  test("null patterns partition the table and flags match the bitmask") {
    val rows = q("q_null_patterns").collect()
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    import org.apache.spark.sql.functions._
    val n = Tables.table(spark, sf, "customer").count()
    assert(total == n)
    rows.foreach { r =>
      val p = r.getAs[Long]("pattern")
      assert(r.getAs[Long]("miss_bal") == (p >> 2) % 2)
      assert(r.getAs[Long]("miss_phone") == (p >> 1) % 2)
      assert(r.getAs[Long]("miss_seg") == p % 2)
    }
  }

  test("share-of-parent shares sum to one within each region") {
    val rows = q("q_share_of_parent").collect()
    rows.groupBy(_.getAs[String]("r_name")).foreach { case (_, rs) =>
      val s = rs.map(_.getAs[Double]("share_of_region")).sum
      assert(math.abs(s - 1.0) < 1e-9)
    }
    val regShares = rows.map(r => (r.getAs[String]("r_name"),
      r.getAs[Double]("region_share"))).distinct
    assert(math.abs(regShares.map(_._2).sum - 1.0) < 1e-9)
  }
}
