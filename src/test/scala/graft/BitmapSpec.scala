package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the native bitmap-index aggregate
  * (functions/Bitmap.scala) and brute-force re-derivations of the
  * decay-score and Gini queries.
  */
class BitmapSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("bitmap cardinality is exact and partition-invariant") {
    import graft.functions.BitmapAgg.{bitmap, cardinality}
    val base = Tables.table(spark, sf, "orders")
      .select(floor(col("o_custkey") / 1024.0).cast("long").as("bkt"),
        pmod(col("o_custkey"), lit(1024L)).as("pos"))
    val exact = base.groupBy("bkt")
      .agg(count_distinct(col("pos")).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    for (parts <- Seq(1, 7)) {
      val got = base.repartition(parts).groupBy("bkt")
        .agg(cardinality(bitmap(col("pos"))).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == exact, s"parts=$parts")
    }
    // identical BYTES across partitionings (merge is truly associative)
    val bytes = Seq(1, 7).map { parts =>
      base.repartition(parts).groupBy("bkt")
        .agg(bitmap(col("pos")).as("bm")).orderBy("bkt").collect()
        .map(_.getAs[Array[Byte]]("bm").toSeq)
    }
    assert(bytes(0).toSeq == bytes(1).toSeq)
  }

  test("bitmap AND-cardinality equals the exact distinct-key " +
      "intersection in q_bitmap_index") {
    val got = q("q_bitmap_index").collect()
      .map(r => (r.getAs[Long]("bkt"), r.getAs[Long]("n_1996"),
        r.getAs[Long]("n_1997"), r.getAs[Long]("n_both")))
    val o = Tables.table(spark, sf, "orders")
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    def keys(y: Int) = o.filter(_._2 == y).map(_._1).toSet
    val (a, b) = (keys(1996), keys(1997))
    got.foreach { case (bkt, n96, n97, both) =>
      def in(s: Set[Long]) = s.filter(k => k / 1024 == bkt)
      assert(n96 == in(a).size && n97 == in(b).size)
      assert(both == (in(a) & in(b)).size)
    }
    // every bucket present in both years is reported
    assert(got.map(_._1).toSet == (a.map(_ / 1024) & b.map(_ / 1024)))
  }

  test("bitmap rejects non-long input at analysis and out-of-range " +
      "positions at runtime") {
    import graft.functions.BitmapAgg.bitmap
    val df = Tables.table(spark, sf, "orders")
    intercept[Exception] {
      df.agg(bitmap(col("o_orderstatus"))).collect()
    }
    intercept[Exception] {
      df.agg(bitmap(col("o_orderkey"))).collect() // orderkey >= 1024
    }
  }

  test("streamed bitmap maintenance equals the batch distinct-join " +
      "recompute over the same rows") {
    val got = q("q_streaming_bitmap").collect()
      .map(r => (r.getAs[Long]("bkt"), r.getAs[Long]("n_view"),
        r.getAs[Long]("n_buy"), r.getAs[Long]("n_both"))).toSeq
    val ev = Tables.table(spark, sf, "events")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def users(t: String) = ev.filter(_._2 == t).map(_._1).toSet
    val (v, p) = (users("view"), users("purchase"))
    val want = (v ++ p).groupBy(_ / 1024).toSeq.sortBy(_._1)
      .map { case (bkt, us) =>
        (bkt, (us & v).size.toLong, (us & p).size.toLong,
          (us & v & p).size.toLong)
      }
    assert(got == want)
  }

  test("decay score equals the driver-side dyadic recompute") {
    val got = q("q_decay_score").collect()
      .map(r => (r.getAs[Long]("o_custkey"),
        (r.getAs[Long]("n_recent"), r.getAs[Double]("decayed")))).toMap
    val ref = java.time.LocalDate.parse("2002-01-01")
    val want = Tables.table(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("date"),
        col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0),
        java.time.temporal.ChronoUnit.DAYS
          .between(r.getDate(1).toLocalDate, ref) / 30, r.getDouble(2)))
      .filter(t => t._2 >= 0 && t._2 <= 15)
      .groupBy(_._1).map { case (ck, os) =>
        val num = os.map { case (_, k, p) =>
          BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP) *
            BigDecimal(1L << (15 - k))
        }.sum
        (ck, (os.size.toLong, num.toDouble / 32768.0))
      }
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("gini matches the banded Lorenz recompute and sits in [0,1)") {
    val row = q("q_gini").collect().head
    val (n, tot, gini) = (row.getAs[Long]("n_customers"),
      row.getAs[Double]("total_spend"), row.getAs[Double]("gini"))
    val spend = Tables.table(spark, sf, "orders")
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).map { case (_, os) => os.map(_._2).sum }.toSeq
    assert(n == spend.size)
    val bands = spend.groupBy(sp => (sp.toDouble / 1000.0).floor.toLong)
      .toSeq.sortBy(_._1)
    var before = BigDecimal(0)
    var lorenz = BigDecimal(0)
    bands.foreach { case (_, ms) =>
      val sb = ms.sum
      lorenz += BigDecimal(ms.size) * (2 * before + sb)
      before += sb
    }
    val want = 1.0 - lorenz.toDouble / (n.toDouble * before.toDouble)
    assert(tot == before.toDouble)
    assert(gini == want)
    assert(gini >= 0.0 && gini < 1.0)
  }
}
