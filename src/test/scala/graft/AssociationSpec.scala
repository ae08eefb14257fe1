package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Association block (reciprocity,
  * Poisson dispersion, Kendall tau, seasonality strength, capture-
  * recapture, odds ratio) at sf0.001.
  */
class AssociationSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("reciprocity equals a driver-side edge-set check") {
    import org.apache.spark.sql.functions._
    val texts = Tables.table(spark, sf, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val edges = texts.flatMap { t =>
      val w = t.split(" ", -1)
      w.sliding(2).collect { case Array(a, b) => (a, b) }
    }.toSet.filter(e => e._1 != e._2)
    val recip = edges.count(e => edges.contains((e._2, e._1)))
    val r = q("q_graph_recip").collect().head
    assert(r.getAs[Long]("n_edges") == edges.size)
    assert(r.getAs[Long]("n_recip") == recip)
  }

  test("Poisson dispersion chi2 is nonnegative and vmr-consistent") {
    q("q_poisson_disp").collect().foreach { r =>
      val chi2 = r.getAs[Double]("chi2")
      val vmr = r.getAs[Double]("vmr")
      val df = r.getAs[Long]("df")
      assert(chi2 >= 0.0)
      assert(math.abs(vmr - chi2 / df) < 1e-12)
    }
  }

  test("Kendall tau: C + D = m(m-1)/2 over the shared top-20 tokens") {
    val r = q("q_kendall_tau").collect().head
    val np = r.getAs[Long]("n_pairs")
    val c = r.getAs[Long]("concordant")
    val dd = r.getAs[Long]("discordant")
    assert(c + dd == np)
    val tau = r.getAs[Double]("tau")
    assert(tau >= -1.0 && tau <= 1.0)
    assert(tau == (2.0 * c - np) / np)
  }

  test("seasonality strength is an R-squared in [0, 1]") {
    q("q_seasonality_strength").collect().foreach { r =>
      val st = r.getAs[Double]("strength")
      assert(st >= -1e-9 && st <= 1.0 + 1e-9,
        s"${r.getAs[String]("event_type")}: $st")
    }
  }

  test("capture-recapture: Chapman estimate brackets the truth loosely") {
    val r = q("q_capture_recapture").collect().head
    val (nt, n1, n2, m) = (r.getAs[Long]("n_true"), r.getAs[Long]("n1"),
      r.getAs[Long]("n2"), r.getAs[Long]("m"))
    assert(m <= math.min(n1, n2))
    val nhat = r.getAs[Double]("n_hat")
    assert(nhat == (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0)
    // with two fair half-samples the estimate lands within 2x truth
    assert(nhat > nt / 2.0 && nhat < nt * 2.0)
  }

  test("odds ratio cells partition users; ratios are positive") {
    import org.apache.spark.sql.functions._
    val r = q("q_odds_ratio").collect().head
    val users = Tables.table(spark, sf, "events")
      .select(countDistinct("user_id")).collect().head.getLong(0)
    val total = r.getAs[Long]("a") + r.getAs[Long]("b") +
      r.getAs[Long]("c") + r.getAs[Long]("dd")
    assert(total == users)
    assert(r.getAs[Double]("odds_ratio") > 0.0)
    assert(r.getAs[Double]("risk_ratio") > 0.0)
  }
}
