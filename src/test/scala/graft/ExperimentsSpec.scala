package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Experiments block (CUPED,
  * regularity, peaks, equi-depth histogram) at sf0.001.
  */
class ExperimentsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("CUPED never increases variance and preserves the global mean") {
    val rows = q("q_cuped_adjust").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      val ratio = r.getAs[Double]("var_ratio")
      // CUPED with the pooled OLS theta reduces (or at worst roughly
      // preserves) per-arm variance; allow slack for arm-vs-pooled theta
      assert(ratio > 0.0 && ratio < 1.5, s"arm ${r.getAs[Long]("arm")}")
      assert(r.getAs[Double]("var_y_adj") >= 0.0)
    }
  }

  test("gap CV matches a driver-side recomputation per type") {
    import org.apache.spark.sql.functions._
    val evs = Tables.table(spark, sf, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byType = evs.groupBy(_._2)
    q("q_order_gap_cv").collect().foreach { r =>
      val t = r.getAs[String]("event_type")
      val g = byType(t).groupBy(_._1).toSeq.flatMap { case (_, rows0) =>
        val ts = rows0.sortBy(x => (x._3, x._4)).map(_._3)
        ts.sliding(2).collect {
          case Array(a, b) => Math.floorDiv(b - a, 1000000L)
        }
      }
      val n = g.size
      val mean = g.sum.toDouble / n
      val varr = (g.map(x => x.toDouble * x).sum - g.sum.toDouble *
        g.sum / n) / n
      assert(r.getAs[Long]("n") == n, s"$t n")
      assert(math.abs(r.getAs[Double]("cv") -
        math.sqrt(varr) / mean) < 1e-9, s"$t cv")
    }
  }

  test("local peaks beat both neighbors with prominence") {
    q("q_local_peaks").collect().foreach { r =>
      val (c, p, nx) = (r.getAs[Long]("cnt"), r.getAs[Long]("prev"),
        r.getAs[Long]("nxt"))
      assert(c > p && c > nx && c * 5 >= (p + nx) * 3)
    }
  }

  test("equi-depth bins are ordered, disjoint, and roughly balanced") {
    val rows = q("q_histogram_equidepth").collect()
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (t, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("bin"))
      assert(sorted.map(_.getAs[Long]("bin")).toSeq ==
        (1L to sorted.length))
      // bins tile the domain without overlap
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("hi") < b.getAs[Long]("lo"), t)
        case _ =>
      }
      // depth balance: each bin within [10%, 45%] of the total
      val tot = sorted.map(_.getAs[Long]("n_rows")).sum.toDouble
      sorted.foreach { r =>
        val share = r.getAs[Long]("n_rows") / tot
        assert(share > 0.10 && share < 0.45, s"$t share $share")
      }
    }
  }
  test("fdr_bh degenerate grids: zero margins yield chi2 = 0, p = 1, " +
      "no NaN and no rejections (ADVICE r10 #2)") {
    import spark.implicits._
    def run(docs: Seq[(Long, String, String, Long)]): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("fdrdeg").toString
      docs.toDF("doc_id", "source", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("q_fdr_bh")(spark, dir).collect()
      assert(got.nonEmpty)
      got.foreach { r =>
        val chi2 = r.getDouble(r.fieldIndex("chi2"))
        val p = r.getDouble(r.fieldIndex("p"))
        assert(!chi2.isNaN && !p.isNaN, s"NaN in $r")
        assert(chi2 == 0.0 && p == 1.0, s"degenerate cell not zeroed: $r")
        assert(!r.getBoolean(r.fieldIndex("rejected")), s"rejected: $r")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
    // all docs long (b + dd margin = 0) across two cells
    run(Seq((1L, "a", "en", 400L), (2L, "a", "en", 500L),
      (3L, "b", "de", 360L)))
    // no long docs anywhere (a + c margin = 0)
    run(Seq((1L, "a", "en", 10L), (2L, "b", "de", 20L)))
    // single cell (c + dd margin = 0), mixed lengths
    run(Seq((1L, "a", "en", 400L), (2L, "a", "en", 10L)))
  }
}
