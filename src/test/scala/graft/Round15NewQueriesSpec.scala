package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit/fixture specs for the round-15 query additions — every new
  * query lands WITH its edge pins (the round-14 lesson: the six
  * post-pin queries shipped oracle-only and became the verdict's top
  * ask). The inventory-wide PlanQualitySpec sweep pins their plans;
  * these pin their semantics on hand-computable fixtures.
  */
class Round15NewQueriesSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def rm(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    ()
  }

  test("q_hapax_ratio: corpus-hapax tokens partition across sources; " +
    "shared and repeated tokens never count") {
    import spark.implicits._
    val dir = tmpDir("hapax")
    // A: x x y -> types {x,y}, 3 tokens, 0 hapax (x repeats in A,
    // y recurs in B); B: y z -> types {y,z}, 2 tokens, 1 hapax (z)
    Seq((1L, "x x y", "en", "A", 5L), (2L, "y z", "en", "B", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q_hapax_ratio")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_types"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_hapax"), r.getAs[Double]("hapax_share"))))
      .toMap
    assert(got("A") == ((2L, 3L, 0L, 0.0)), got.toString)
    assert(got("B") == ((2L, 2L, 1L, 0.5)), got.toString)
    rm(dir)
  }

  test("q_heaps_law: first-appearance bands partition the vocabulary " +
    "and the cumulative curve is monotone to the full vocab size") {
    import spark.implicits._
    val dir = tmpDir("heaps")
    // ids 0..9, mxid 10 -> band == doc_id; new vocab lands in bands
    // 0 (a,b), 1 (c), 5 (d), 9 (e); all other docs repeat "a"
    val text = Map(0L -> "a b", 1L -> "a c", 5L -> "c d", 9L -> "e")
    val docs = (0L to 9L).map(i =>
      (i, text.getOrElse(i, "a"), "en", "s", 3L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_heaps_law")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("band")).toSeq == (0L to 9L))
    assert(rows.map(_.getAs[Long]("new_types")).toSeq ==
      Seq(2L, 1L, 0L, 0L, 0L, 1L, 0L, 0L, 0L, 1L))
    assert(rows.last.getAs[Long]("cum_types") == 5L)
    assert(rows.map(_.getAs[Long]("new_types")).sum == 5L,
      "bands must partition the vocabulary")
    val cums = rows.map(_.getAs[Long]("cum_tokens"))
    assert(cums.zip(cums.tail).forall { case (a, b) => b >= a })
    assert(cums.last == docs.map(_._2.split(" ").length.toLong).sum)
    rm(dir)
  }

  test("q_mcnemar: cells match an independent md5 recompute and the " +
    "statistic is (b-c)^2/(b+c) off the disagreement cells only") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val dir = tmpDir("mcnemar")
    val ids = (0L until 200L).toSeq
    ids.map(i => (i, s"t $i", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cells = ids.map { i =>
      val h = md5hex(i.toString)
      (h.charAt(0) <= '7', h.charAt(1) <= '7')
    }
    val a = cells.count { case (ca, cb) => ca && !cb }.toLong
    val b = cells.count { case (ca, cb) => !ca && cb }.toLong
    val r = SparkEntry.queries("q_mcnemar")(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 200L)
    assert(r.getAs[Long]("a_only") == a && r.getAs[Long]("b_only") == b)
    assert(r.getAs[Long]("both_ok") ==
      cells.count { case (ca, cb) => ca && cb }.toLong)
    assert(a + b > 0, "fixture has no disagreements — no teeth")
    val want = (a - b).toDouble * (a - b).toDouble / (a + b).toDouble
    assert(r.getAs[Double]("mcnemar_chi2") == want)
    rm(dir)
  }

  test("q_levene_bf: unequal spreads push F up; identical deviation " +
    "profiles collapse it to ~0 (quantization-level residual only)") {
    import spark.implicits._
    val dir = tmpDir("levene")
    def write(rows: Seq[(String, Double)]): Unit =
      rows.zipWithIndex.map { case ((t, v), i) =>
        (i.toLong, i.toLong, t,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), v) }
        .toDF("event_id", "user_id", "event_type", "ts", "value")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // unequal: a = {1,2,3} (dev 100,0,100 cents), b = {1,5,9}
    // (dev 400,0,400) -> hand-computed F = ssb / (ssw/4)
    write(Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 1.0, "b" -> 5.0, "b" -> 9.0))
    val r = SparkEntry.queries("q_levene_bf")(spark, dir).collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    // sum_s2n = round(200^2/3) + round(800^2/3) = 13333 + 213333;
    // ssb = sum_s2n - round(1000^2/6); ssw = 340000 - sum_s2n
    // (integer cent^2 quantization — see the query comment)
    val s2n = 13333.0 + 213333.0
    val ssb = s2n - 166667.0
    val ssw = 340000.0 - s2n
    val want = (ssb / 1) / (ssw / 4)
    assert(r.getAs[Double]("f_bf") == want,
      s"got ${r.getAs[Double]("f_bf")}, want $want")
    assert(r.getAs[Double]("f_bf") > 2.0, "unequal spread must score")
    // identical deviation profiles -> F collapses to quantization dust
    write(Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0,
      "b" -> 5.0, "b" -> 6.0, "b" -> 7.0))
    val r2 = SparkEntry.queries("q_levene_bf")(spark, dir).collect().head
    assert(math.abs(r2.getAs[Double]("f_bf")) < 1e-3, r2.toString)
    rm(dir)
  }

  test("q_image_aspect and q_media_format_mix surface all four parsed " +
    "formats (and the unknown class in the mix) at sf0.001") {
    val fmts = SparkEntry.queries("q_image_aspect")(spark, sf)
      .collect().map(_.getAs[String]("fmt")).toSet
    assert(fmts == Set("png", "jpeg", "gif", "webp"), fmts.toString)
    val mix = SparkEntry.queries("q_media_format_mix")(spark, sf)
      .collect()
    assert(mix.map(_.getAs[String]("fmt")).toSet ==
      Set("png", "jpeg", "gif", "webp", "unknown"))
    // byte shares within each source sum to 1
    mix.groupBy(_.getAs[String]("source")).foreach { case (src, rows) =>
      val sum = rows.map(_.getAs[Double]("byte_share")).sum
      assert(math.abs(sum - 1.0) < 1e-9, s"$src shares sum $sum")
    }
  }
}
