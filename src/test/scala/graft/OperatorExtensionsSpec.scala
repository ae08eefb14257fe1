package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.XmlQueries
import graft.xml.XmlToParquetJob

/** Semantics checks for the round-2 extension operators: multimodal
  * decode batching, as-of join, salted join, pivot, and per-member
  * archive conversion — each verified against an independent
  * re-derivation of the same result.
  */
class OperatorExtensionsSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("multimodal decode is batch-shape independent") {
    // partition-batched decode must equal a 1-row-at-a-time decode:
    // batching is an efficiency shape, never a semantics change
    val batched = SparkEntry.queries("q_multimodal_decode")(spark, sf)
      .collect().toSet
    val single = {
      import spark.implicits._
      Tables.table(spark, sf, "documents")
        .repartition(7) // different partitioning, different batch cuts
        .select(col("doc_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
          col("text").cast("binary").as("payload"))
        .as[operators.Multimodal.MediaRow]
        .map(m => operators.Multimodal.decodeOne(m))
        .toDF().orderBy("doc_id").collect().toSet
    }
    assert(batched == single && batched.nonEmpty)
  }

  test("frame sampling strides by 10 within each video's frame count") {
    val rows = SparkEntry.queries("q_multimodal_frames")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val idx = r.getAs[Long]("frame_idx")
      assert(idx % 10 == 0)
      assert(r.getAs[Long]("byte_offset") == idx * 256)
    }
  }

  test("resize plan: max dimension maps to exactly 224, pads reconcile") {
    val rows = SparkEntry.queries("q_multimodal_resize")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (w, h, ow, oh, pw, ph) = (r.getAs[Long]("width"),
        r.getAs[Long]("height"), r.getAs[Long]("out_w"),
        r.getAs[Long]("out_h"), r.getAs[Long]("pad_w"),
        r.getAs[Long]("pad_h"))
      // aspect-preserving fit: the larger input dimension lands exactly
      // on the 224 box edge, the other scales proportionally under it
      assert((if (w >= h) ow else oh) == 224L)
      assert(ow <= 224L && oh <= 224L)
      assert(pw == 224L - ow && ph == 224L - oh)
      // proportionality within integer truncation
      assert(ow == w * 224L / math.max(w, h))
      assert(oh == h * 224L / math.max(w, h))
    }
  }

  test("scd2 lookup equals brute-force latest-prior-version resolution") {
    val ev = Tables.table(spark, sf, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tu"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.toSeq.sortBy(r => (r._4, r._3))
      var ver: Option[(Long, Double)] = None
      ordered.flatMap { case (_, et, id, _, v) =>
        if (et == "view") { ver = Some((id, v)); None }
        else ver.map { case (vid, vv) => id -> ((vid, vv)) }
      }
    }.toMap
    val got = SparkEntry.queries("q_scd2_lookup")(spark, sf).collect()
      .map(r => r.getLong(1) -> ((r.getLong(3), r.getDouble(4)))).toMap
    assert(got == want && got.nonEmpty)
  }

  test("as-of join equals brute-force latest-prior-view") {
    val asof = SparkEntry.queries("q_join_asof")(spark, sf)
      .select("event_id", "asof_view_ts").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    val ev = Tables.table(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("cu"), col("ts").as("cts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("vu"), col("ts").as("vts"))
    // quadratic range join + max: the obviously-correct formulation
    val brute = clicks.join(views,
        col("cu") === col("vu") && col("vts") <= col("cts"), "left")
      .groupBy("event_id")
      .agg(Det.fmtTs(max(col("vts"))).as("asof"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(asof == brute && asof.nonEmpty)
  }

  test("salted join equals plain join") {
    val salted = SparkEntry.queries("q_join_salted")(spark, sf).collect()
    val plain = Tables.table(spark, sf, "lineitem")
      .join(Tables.table(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), Det.sumd(col("l_extendedprice")).as("rev"))
      .orderBy("o_orderpriority").collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("pivot cells sum to the plain group counts") {
    val pivoted = SparkEntry.queries("q_pivot")(spark, sf)
      .withColumn("total", col("F") + col("O") + col("P"))
      .select("o_orderpriority", "total").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = Tables.table(spark, sf, "orders")
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pivoted == plain)
  }

  test("custom TopKPerKey operator equals the window spelling") {
    import org.apache.spark.sql.expressions.Window
    val native = SparkEntry.queries("q_topk_native")(spark, sf).collect()
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    // keep rn in the output so RowNumberTopKRewrite does NOT fire here —
    // this must remain an independent WindowExec execution
    val windowed = Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .orderBy(col("l_returnflag"), col("l_extendedprice").desc,
        col("l_orderkey"), col("l_linenumber"))
      .collect()
      .map(r => r.toSeq.dropRight(1))
    assert(native.map(_.toSeq).toSeq == windowed.toSeq && native.nonEmpty)
  }

  test("RowNumberTopKRewrite turns the window spelling into TopKPerKey") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    val df = Tables.table(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn") // rank discarded -> rewrite fires
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey ["), plan.take(1500))
    assert(!plan.contains("Window"), "rewrite did not fire:\n" + plan.take(1500))
    // and the rewritten plan returns the right rows
    val native = SparkEntry.queries("q_topk_native")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == native)
  }

  test("HLL sketch estimates within the p=12 error envelope") {
    val rows = SparkEntry.queries("q_agg_hll")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_custs").toDouble
      val exact = r.getAs[Long]("exact_custs").toDouble
      // 1.04/sqrt(4096) ~= 1.6% standard error; allow 4 sigma
      assert(math.abs(approx - exact) / exact < 0.065,
        s"HLL off: approx=$approx exact=$exact")
    }
  }

  test("HLL sketch rollup: two-level sketch->merge is bit-identical to " +
      "the direct pass, per-cell rows match q_agg_hll, envelope holds") {
    val rows = SparkEntry.queries("q_hll_rollup")(spark, sf).collect()
      .map(r => (r.getAs[String]("o_orderpriority"),
        r.getAs[Long]("approx_custs"), r.getAs[Long]("exact_custs")))
    // the merged ALL estimate equals a DIRECT single-pass HLL over the
    // same rows — not just within error, BIT-EQUAL (same register
    // algebra at both levels)
    val direct = Tables.table(spark, sf, "orders")
      .createOrReplaceTempView("orders_hllr")
    graft.functions.HyperLogLog.register(spark)
    val one = spark.sql(
      "SELECT graft_hll(o_custkey) AS e FROM orders_hllr")
      .head().getAs[Long]("e")
    val all = rows.find(_._1 == "ALL").get
    assert(all._2 == one, s"rollup ${all._2} != direct $one")
    // per-cell rows agree with q_agg_hll (same sketches, different tier)
    val viaAgg = SparkEntry.queries("q_agg_hll")(spark, sf).collect()
      .map(r => (r.getAs[String]("o_orderpriority"),
        r.getAs[Long]("approx_custs"), r.getAs[Long]("exact_custs")))
      .toSet
    assert(rows.filterNot(_._1 == "ALL").toSet == viaAgg)
    rows.foreach { case (pri, approx, exact) =>
      assert(math.abs(approx.toDouble - exact) / exact < 0.065,
        s"$pri: approx=$approx exact=$exact")
    }
  }

  test("HDR quantile sketch: partition invariant and inside the " +
      "sub-bucket error envelope") {
    graft.functions.HdrHistogram.register(spark)
    Tables.table(spark, sf, "lineitem").createOrReplaceTempView("li_hdr")
    def run(parts: Int): Array[org.apache.spark.sql.Row] =
      spark.sql(
        s"""SELECT l_returnflag,
           |  graft_hdr(l_extendedprice, array(0.5D, 0.9D, 0.99D)) AS qs
           |FROM (SELECT /*+ REPARTITION($parts) */ * FROM li_hdr)
           |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
        .collect()
    // merge associativity: estimates must be bit-identical whatever the
    // partitioning (and therefore whatever the partial-merge order)
    val a = run(3)
    assert(a.sameElements(run(17)), "sketch not partition-invariant")
    // error envelope: each estimate within one sub-bucket (1/16
    // relative, plus the 1-unit docking offset) of the exact quantile
    val exact = spark.sql(
      """SELECT l_returnflag, percentile(l_extendedprice, 0.5) AS p50,
        |  percentile(l_extendedprice, 0.9) AS p90,
        |  percentile(l_extendedprice, 0.99) AS p99
        |FROM li_hdr GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin).collect()
    a.zip(exact).foreach { case (est, ex) =>
      val qs = est.getSeq[Double](1)
      for ((q, i) <- Seq("p50", "p90", "p99").zipWithIndex) {
        val e = ex.getAs[Double](q)
        assert(math.abs(qs(i) - e) <= e / 16.0 + 1.0,
          s"${est.getString(0)} $q: sketch=${qs(i)} exact=$e")
      }
    }
  }

  test("ReservoirTopK: partition-count invariant, equals the window " +
      "spelling, and plans with map-side partials") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.table(spark, sf, "documents")
      .select(col("source"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("pri"))
    def sample(parts: Int): Seq[Seq[Any]] =
      docs.repartition(parts)
        .groupBy("source")
        .agg(graft.functions.ReservoirTopK(col("pri"), col("doc_id"), 5)
          .as("s"))
        .select(col("source"), col("s"))
        .orderBy("source").collect()
        .map(r => Seq(r.getString(0), r.getSeq[Long](1).toSeq)).toSeq
    // associative/commutative merge: any partitioning yields the result
    val one = sample(1)
    assert(one == sample(7) && one.nonEmpty)
    // equals the (corpus-sorting) window spelling it replaces
    val w = Window.partitionBy("source").orderBy(col("pri"), col("doc_id"))
    val windowed = docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .groupBy("source").agg(sort_array(collect_list(
        struct(col("pri"), col("doc_id")))).as("s"))
      .select(col("source"), col("s.doc_id").as("s"))
      .orderBy("source").collect()
      .map(r => Seq(r.getString(0), r.getSeq[Long](1).toSeq)).toSeq
    assert(one == windowed)
    // the aggregate must combine map-side (partial before the exchange)
    val plan = SparkEntry.queries("q_sample_reservoir")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_reservoir_topk"), plan.take(2000))
  }

  test("ExactTopK: partition-count invariant, equals the window " +
      "spelling, and plans with map-side partials") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"),
        round(col("value"), 0).cast("long").as("vq"), col("event_id"))
    def top(parts: Int): Seq[Seq[Any]] =
      ev.repartition(parts)
        .groupBy("event_type")
        .agg(graft.functions.ExactTopK(col("vq"), col("event_id"), 5)
          .as("t"))
        .select(col("event_type"), posexplode(col("t")).as(Seq("pos", "p")))
        .select(col("event_type"), col("pos"), col("p.v"), col("p.id"))
        .orderBy("event_type", "pos").collect().map(_.toSeq).toSeq
    // associative/commutative merge: any partitioning yields the result
    val one = top(1)
    assert(one == top(7) && one.nonEmpty)
    // equals the (corpus-sorting) window spelling it replaces
    val w = Window.partitionBy("event_type")
      .orderBy(col("vq").desc, col("event_id").desc)
    val windowed = ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("event_type"), (col("rn") - 1).cast("int").as("pos"),
        col("vq"), col("event_id"))
      .orderBy("event_type", "pos").collect().map(_.toSeq).toSeq
    assert(one == windowed)
    // the aggregate must combine map-side (partial before the exchange)
    val plan = SparkEntry.queries("q_agg_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_exact_topk"), plan.take(2000))
  }

  test("streamed exact top-k equals the batch aggregate exactly") {
    // associative k-bounded merges + total tie order: the top-k
    // maintained across microbatches must equal the one-shot batch run
    val streamed = SparkEntry.queries("q_streaming_topk")(spark, sf)
      .collect().map(_.toSeq)
    val batch = SparkEntry.queries("q_agg_topk")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("Count-Min sketch: estimates bound exact counts within the " +
      "envelope, partition-invariant") {
    val rows = SparkEntry.queries("q_agg_cms")(spark, sf).collect()
    assert(rows.nonEmpty)
    val total = Tables.table(spark, sf, "events").count()
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_n")
      val est = r.getAs[Long]("est_n")
      assert(est >= exact, s"CMS under-estimated: $est < $exact")
      // overshoot per row ~ 2N/w; min over 4 rows stays well inside 3N/w
      assert(est - exact <= 3 * total / 2048 + 1,
        s"CMS overshoot ${est - exact} beyond envelope (N=$total)")
    }
    // associative/commutative merge: the sketch is partitioning-invariant
    val ev = Tables.table(spark, sf, "events")
    def sketchOf(parts: Int): Seq[Byte] =
      ev.repartition(parts)
        .agg(graft.functions.CountMin.agg(col("user_id")).as("sk"))
        .collect().head.getAs[Array[Byte]]("sk").toSeq
    assert(sketchOf(1) == sketchOf(7))
  }

  test("streamed Count-Min sketch equals the batch sketch row-for-row") {
    // merge associativity makes the sketch incrementally maintainable:
    // the complete-mode streamed aggregate must land on the identical
    // sketch, so the probe outputs match q_agg_cms exactly
    val streamed = SparkEntry.queries("q_streaming_cms")(spark, sf)
      .collect().map(_.toSeq)
    val batch = SparkEntry.queries("q_agg_cms")(spark, sf)
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("streamed HLL registers equal the batch aggregate bit-for-bit") {
    // register-max merges are associative+commutative, so the
    // complete-mode streamed sketch must land on the identical
    // registers — estimates AND counts match a one-shot batch pass
    // over the same events
    val streamed = SparkEntry.queries("q_streaming_hll")(spark, sf)
      .collect().map(_.toSeq)
    val batch = Tables.table(spark, sf, "events")
      .filter(col("user_id") =!= -1L)
      .groupBy("event_type")
      .agg(graft.functions.HyperLogLog.sketch(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        graft.functions.HyperLogLog.estimate(col("sk"))
          .as("approx_users"), col("n_events"))
      .orderBy("event_type")
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("streamed reservoir sample equals the batch aggregate exactly") {
    // deterministic md5 priorities + associative k-bounded merges: the
    // sample maintained across microbatches must be the identical rows
    // the one-shot batch aggregate produces over the same events
    val streamed = SparkEntry.queries("q_streaming_reservoir")(spark, sf)
      .collect().map(_.toSeq)
    val batch = Tables.table(spark, sf, "events")
      .groupBy("event_type")
      .agg(graft.functions.ReservoirTopK(
        md5(col("event_id").cast("string")), col("event_id"), 5)
        .as("sample"))
      .select(col("event_type"),
        posexplode(col("sample")).as(Seq("pos", "event_id")))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
        col("event_id"))
      .orderBy("event_type", "rn")
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq)
  }

  test("bloom-pruned join equals the plain join") {
    val bloom = SparkEntry.queries("q_join_bloom")(spark, sf)
      .collect().map(_.toSeq)
    val plain = {
      val l = Tables.table(spark, sf, "lineitem")
      val s2 = Tables.table(spark, sf, "supplier")
        .filter(col("s_nationkey") < 5)
      l.join(s2, col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"), Det.sumd(col("l_extendedprice")).as("rev"))
        .orderBy("s_name").collect().map(_.toSeq)
    }
    assert(bloom.toSeq == plain.toSeq && bloom.nonEmpty)
  }

  test("NGramGenerator: column API, SQL registration, edge cases") {
    import spark.implicits._
    functions.NGramGenerator.register(spark)
    val df = Seq((1L, "a b c d"), (2L, "x y"), (3L, "solo"), (4L, ""))
      .toDF("id", "t")
    df.createOrReplaceTempView("ngram_fixture")
    val viaCol = df
      .select(col("id"), functions.NGramGenerator(split(col("t"), " "), 2)
        .alias("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // sliding bigrams; <n tokens -> no rows ("" splits to one token)
    assert(viaCol == Seq((1L, "a b"), (1L, "b c"), (1L, "c d"), (2L, "x y")))
    val viaSql = spark.sql(
      "SELECT id, graft_ngrams(split(t, ' '), 2) AS gram FROM ngram_fixture")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql == viaCol)
    // trigram path agrees with the HOF spelling on real documents
    val docs = Tables.table(spark, sf, "documents").limit(50)
    val gen = docs.select(col("doc_id"),
        functions.NGramGenerator(split(col("text"), " "), 3).alias("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val hof = docs.select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(split(text, ' ')) - 2),
          |  i -> concat_ws(' ', element_at(split(text, ' '), i),
          |    element_at(split(text, ' '), i + 1),
          |    element_at(split(text, ' '), i + 2)))""".stripMargin))
        .as("gram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gen == hof && gen.nonEmpty)
  }

  test("native SimHash64 equals the SQL-HOF spelling bit-for-bit") {
    // the round-2 reference spelling, kept here as the oracle (round 11:
    // per-token hash basis is md5-prefix-64 -> seed-42 hashLong, so the
    // HOF twin hashes md5_long64(t); the base itself is independently
    // pinned against a conv(md5) spelling in FunctionsPropertySpec):
    // per-token hash -> per-bit +-1 counts -> sign bits packed into a long
    graft.functions.Md5Long.register(spark)
    val hofSig = expr(
      """aggregate(sequence(0, 63), cast(0 as bigint),
        |  (acc, i) -> acc + if(element_at(
        |      aggregate(transform(split(text, ' '),
        |                          t -> xxhash64(md5_long64(t))),
        |        array_repeat(0, 64),
        |        (acc2, h) -> zip_with(acc2,
        |           transform(sequence(0, 63),
        |                     j -> if((shiftright(h, j) & 1) = 1, 1, -1)),
        |           (a, b) -> a + b)), i + 1) > 0,
        |    shiftleft(cast(1 as bigint), i), cast(0 as bigint)))""".stripMargin)
    val rows = Tables.table(spark, sf, "documents")
      .select(col("doc_id"),
        functions.SimHash64(split(col("text"), " ")).as("native"),
        hofSig.as("hof"))
      .collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(1) == r.getLong(2)))
  }

  test("archive convert writes one parquet per member with reference naming") {
    val target = java.nio.file.Files.createTempDirectory("arch_sink").toString
    val zipIn = XmlQueries.fixtureDir.resolve("books.zip").toString
    val written = XmlToParquetJob.convert(spark, XmlQueries.xsd,
      Seq(zipIn), target)
    assert(written.sorted == Seq(
      s"$target/books.order1.xml.parquet",
      s"$target/books.order2.xml.parquet"))
    written.foreach { out =>
      val back = spark.read.parquet(out)
      assert(back.count() == 1 && back.columns.contains("bookOrder"))
    }
  }
}
