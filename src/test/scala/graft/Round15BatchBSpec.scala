package graft

import org.scalatest.funsuite.AnyFunSuite

/** Fixture specs for the second round-15 query block (price index,
  * chain ladder, Fleiss/Cochran, resource-allocation link prediction,
  * Hurst R/S, SAX motifs, Nelson-Aalen). Same discipline as
  * Round15NewQueriesSpec: every query lands WITH hand-computable edge
  * pins; the inventory-wide PlanQualitySpec sweep pins the plans.
  */
class Round15BatchBSpec extends AnyFunSuite with SharedSpark {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rm(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    ()
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s + " 00:00:00")

  test("q_fleiss_kappa: hand-computed kappa on two planted items; " +
    "3-line orders excluded, 5-line orders keep their first four") {
    import spark.implicits._
    val dir = tmpDir("fleiss")
    // order 1: R R R R (perfect agreement); order 2: R R A N;
    // order 3: 3 lines only (excluded); order 4: 5 lines, first four
    // R R R R (line 5's flag must not count)
    val rows =
      (1 to 4).map(j => (1L, j, "R")) ++
        Seq((2L, 1, "R"), (2L, 2, "R"), (2L, 3, "A"), (2L, 4, "N")) ++
        (1 to 3).map(j => (3L, j, "R")) ++
        (1 to 4).map(j => (4L, j, "R")) :+ ((4L, 5, "A"))
    rows.toDF("l_orderkey", "l_linenumber", "l_returnflag")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_fleiss_kappa")(spark, dir).head()
    // N=3 items (1, 2, 4); ss2 = 16 + (4+1+1) + 16 = 38;
    // G_R = 4+2+4 = 10, G_A = 1, G_N = 1 -> sg2 = 102
    val n = 3.0
    val pBar = (38.0 - 4 * 3) / (12.0 * n)
    val pE = 102.0 / (16.0 * n * n)
    assert(got.getAs[Long]("n_items") == 3L)
    assert(got.getAs[Long]("m") == 4L)
    assert(got.getAs[Double]("p_bar") == pBar)
    assert(got.getAs[Double]("p_e") == pE)
    assert(got.getAs[Double]("kappa") == (pBar - pE) / (1.0 - pE))
    rm(dir)
  }

  test("q_cochran_q: hand-computed Q on three planted blocks; " +
    "2-line orders excluded") {
    import spark.implicits._
    val dir = tmpDir("cochran")
    // blocks (x = qty >= 25): o1 (1,0,1) L=2; o2 (1,1,1) L=3;
    // o3 (0,0,0) L=0; o4 has 2 lines -> excluded.
    // G = (2,1,2), T=5, sumG2=9, sumL2=13
    // Q = 2*(3*9 - 25)/(3*5 - 13) = 4/2 = 2.0
    val rows = Seq(
      (1L, 1, 30.0), (1L, 2, 10.0), (1L, 3, 30.0),
      (2L, 1, 30.0), (2L, 2, 30.0), (2L, 3, 30.0),
      (3L, 1, 10.0), (3L, 2, 10.0), (3L, 3, 10.0),
      (4L, 1, 30.0), (4L, 2, 30.0))
    rows.toDF("l_orderkey", "l_linenumber", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_cochran_q")(spark, dir).head()
    assert(got.getAs[Long]("n_blocks") == 3L)
    assert(got.getAs[Long]("k") == 3L)
    assert(got.getAs[Long]("t") == 5L)
    assert(got.getAs[Double]("q_stat") == 2.0)
    rm(dir)
  }

  test("q_price_index: two-part two-month hand index (Laspeyres " +
    "base-weighted, Paasche current-weighted, Fisher geometric)") {
    import spark.implicits._
    val dir = tmpDir("priceidx")
    // Jan (base): part1 p=1000c q=1; part2 p=2000c q=2
    // Feb: part1 p=1100c q=2; part2 p=3000c q=1
    // L = (1100*1 + 3000*2)/(1000*1 + 2000*2) = 7100/5000 = 1.42
    // P = (1100*2 + 3000*1)/(1000*2 + 2000*1) = 5200/4000 = 1.30
    val rows = Seq(
      (1L, ts("2024-01-05"), 10.0, 1.0),
      (2L, ts("2024-01-06"), 40.0, 2.0),
      (1L, ts("2024-02-05"), 22.0, 2.0),
      (2L, ts("2024-02-06"), 30.0, 1.0))
    rows.toDF("l_partkey", "l_shipdate", "l_extendedprice",
        "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_price_index")(spark, dir).collect()
    assert(got.length == 2)
    val jan = got(0); val feb = got(1)
    assert(jan.getAs[Long]("n_parts") == 2L)
    assert(jan.getAs[Double]("laspeyres") == 1.0)
    assert(jan.getAs[Double]("paasche") == 1.0)
    assert(feb.getAs[Double]("laspeyres") == 7100.0 / 5000.0)
    assert(feb.getAs[Double]("paasche") == 5200.0 / 4000.0)
    assert(feb.getAs[Double]("fisher") ==
      math.sqrt((7100.0 / 5000.0) * (5200.0 / 4000.0)))
    rm(dir)
  }

  test("q_chain_ladder: hand-built 2-cohort triangle; young cohorts " +
    "don't vote on factors they haven't reached") {
    import spark.implicits._
    val dir = tmpDir("chainladder")
    Seq((1L, ts("2024-01-10")), (2L, ts("2024-02-10")))
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // cohort Jan: dev 0/1/2 cents 10000/5000/2500 -> cum 10000/15000/17500
    // cohort Feb: dev 0/1 cents 20000/10000 -> cum 20000/30000
    Seq((1L, ts("2024-01-15"), 100.0), (1L, ts("2024-02-15"), 50.0),
        (1L, ts("2024-03-15"), 25.0),
        (2L, ts("2024-02-20"), 200.0), (2L, ts("2024-03-20"), 100.0))
      .toDF("l_orderkey", "l_shipdate", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_chain_ladder")(spark, dir)
      .collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("dev") == 0L)
    assert(got(0).getAs[Long]("n_cohorts") == 2L)
    assert(got(0).getAs[Long]("c_d") == 30000L)
    assert(got(0).getAs[Long]("c_d1") == 45000L)
    assert(got(0).getAs[Double]("factor") == 1.5)
    assert(got(1).getAs[Long]("dev") == 1L)
    assert(got(1).getAs[Long]("n_cohorts") == 1L)
    assert(got(1).getAs[Double]("factor") == 17500.0 / 15000.0)
    rm(dir)
  }

  test("q_graph_resource_alloc: df-weighted shared-neighbor teeth; " +
    "df=1 parts excluded, rarer shared parts weigh more") {
    import spark.implicits._
    val dir = tmpDir("ralloc")
    // part 100 {1,2} df=2 w=5e8; part 200 {1,2,3} df=3 w=333333333;
    // part 300 {1} df=1 excluded
    val rows = Seq((1L, 100L), (2L, 100L), (1L, 200L), (2L, 200L),
      (3L, 200L), (1L, 300L))
    rows.toDF("l_suppkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_graph_resource_alloc")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("sa"), r.getAs[Long]("sb"),
        r.getAs[Long]("common"), r.getAs[Double]("ra")))
    assert(got.length == 3)
    assert(got(0) == ((1L, 2L, 2L, 833333333L.toDouble / 1e9)))
    assert(got(1) == ((1L, 3L, 1L, 333333333L.toDouble / 1e9)))
    assert(got(2) == ((2L, 3L, 1L, 333333333L.toDouble / 1e9)))
    rm(dir)
  }

  test("q_hurst_rs: alternating two-level series has exact R/S = 1 " +
    "at every window size; incomplete windows dropped") {
    import spark.implicits._
    val dir = tmpDir("hurst")
    // 16 days alternating $1/$3: for w=8, y_t alternates -8/0 so
    // Ry=8, den2 = 8*40 - 16^2 = 64, rs = 8/8 = 1. Same at w=16.
    // w=32 has no complete window.
    val rows = (1 to 16).map { i =>
      (ts(f"2024-01-${i}%02d"), if (i % 2 == 1) 1.0 else 3.0, 0L)
    }
    rows.toDF("ts", "value", "event_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_hurst_rs")(spark, dir).collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[Long]("n_windows"),
        r.getAs[Double]("mean_rs"), r.getAs[Double]("rs_ratio_vs8")))
    assert(got.toSeq == Seq((8L, 2L, 1.0, 1.0), (16L, 1L, 1.0, 1.0)))
    rm(dir)
  }

  test("q_sax_motifs: strictly increasing series symbolizes a,a,c,d,d " +
    "and yields exactly its three 3-day motifs") {
    import spark.implicits._
    val dir = tmpDir("sax")
    // v=1..5 dollars: mu=3, sigma=sqrt(2); z = +-1.414, +-0.707, 0
    // -0.707 < -0.6745 -> a; z=0 -> c; +0.707 -> d
    val rows = (1 to 5).map(i =>
      ("t", ts(f"2024-01-${i}%02d"), i.toDouble, 0L))
    rows.toDF("event_type", "ts", "value", "event_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_sax_motifs")(spark, dir).collect()
      .map(r => (r.getAs[String]("et"), r.getAs[String]("motif"),
        r.getAs[Long]("c"), r.getAs[Long]("rnk")))
    assert(got.toSeq == Seq(("t", "aac", 1L, 1L), ("t", "acd", 1L, 2L),
      ("t", "cdd", 1L, 3L)))
    rm(dir)
  }

  test("q_nelson_aalen: hand-computed weekly hazard; censored users " +
    "hold the risk set without contributing hazard") {
    import spark.implicits._
    val dir = tmpDir("nelson")
    // max ts = day 30 (u99). u1 dur 1d (wk0, death), u2 dur 8d (wk1,
    // death), u3 dur 16d (wk2, death), u99 dur 0 (wk0, censored:
    // t1 = mx). H: wk0 1/4; wk1 +1/2; wk2 +1/1.
    val rows = Seq(
      (1L, ts("2024-01-01"), 1L, "x"), (1L, ts("2024-01-02"), 2L, "x"),
      (2L, ts("2024-01-01"), 3L, "x"), (2L, ts("2024-01-09"), 4L, "x"),
      (3L, ts("2024-01-01"), 5L, "x"), (3L, ts("2024-01-17"), 6L, "x"),
      (99L, ts("2024-01-31"), 7L, "x"))
    rows.toDF("user_id", "ts", "event_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_nelson_aalen")(spark, dir).collect()
      .map(r => (r.getAs[String]("cohort"), r.getAs[Long]("wk"),
        r.getAs[Long]("at_risk"), r.getAs[Long]("d"),
        r.getAs[Double]("h")))
    assert(got.toSeq == Seq(
      ("x", 0L, 4L, 1L, 0.25),
      ("x", 1L, 2L, 1L, 0.75),
      ("x", 2L, 1L, 1L, 1.75)))
    rm(dir)
  }
}
