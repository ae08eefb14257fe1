package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-8 Integrity + Relevance blocks
  * (checksums, range bounds, delta encoding, bloom audit, temporal
  * split; HITS, phrase match, keyness, feature hash, rare collapse,
  * PR curve, lift deciles), at sf0.001.
  */
class IntegritySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("table checksum: matches a driver-side recomputation and is " +
    "partitioning-independent") {
    val rows = q("q_table_checksum").collect()
    val li = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("l_returnflag")).collect()
    assert(rows.map(_.getLong(1)).sum == li.length)
    val expect = li.groupBy(_.getString(3)).view.mapValues { rs =>
      rs.map { r =>
        val s = s"${r.getLong(0)}|${r.getInt(1)}|${r.getLong(2)}|${
          r.getString(3)}"
        BigInt(md5hex(s).take(15), 16)
      }.sum
    }.toMap
    rows.foreach { r =>
      val ck = BigInt(r.getLong(2)) * BigInt("1000000000000000000") +
        BigInt(r.getLong(3))
      assert(ck == expect(r.getString(0)), s"flag ${r.getString(0)}")
      assert(r.getLong(3) >= 0L && r.getLong(3) < 1000000000000000000L)
    }
  }

  test("range bounds: tiles cover the deterministic sample with " +
    "nondecreasing upper bounds") {
    val rows = q("q_range_bounds").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    val total = Tables.table(spark, sf, "lineitem").count()
    val b = math.max(64 - java.lang.Long.numberOfLeadingZeros(total) - 13, 0)
    val sampleN = Tables.table(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().count { r =>
        val h = java.lang.Long.parseLong(
          md5hex(s"rb${r.getLong(0)}-${r.getInt(1)}").take(8), 16)
        h % (1L << b) == 0
      }
    assert(rows.map(_.getLong(1)).sum == sampleN)
    assert(sampleN <= 8192L, "gate width must bound the sample")
    val ub = rows.map(_.getDouble(2)).toSeq
    assert(ub == ub.sorted, "boundaries must be monotone")
  }

  test("delta encode: per-type delta count is rows-1 and varint cost " +
    "matches a driver recomputation") {
    val rows = q("q_delta_encode").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byType = ev.groupBy(_._1)
    rows.foreach { r =>
      val t = r.getString(0)
      val sorted = byType(t).sortBy(e => (e._2, e._3))
      val deltas = sorted.sliding(2).collect {
        case Array(a, b) => b._2 - a._2
      }.toSeq
      assert(r.getLong(1) == deltas.length, s"$t n_deltas")
      val vb = deltas.map { d =>
        if (d == 0) 1L
        else ((64 - java.lang.Long.numberOfLeadingZeros(d) + 6) / 7).toLong
      }.sum
      assert(r.getLong(3) == vb, s"$t delta_bytes")
      assert(r.getLong(4) == deltas.length * 8L, s"$t raw_bytes")
    }
  }

  test("bloom audit: no false negatives, sane fill, fpr in [0,1]") {
    val r = q("q_bloom_audit").collect().head
    val (bits, probes, maybe, member, fp, fpr) = (r.getLong(0),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getDouble(5))
    assert(bits > 0 && bits <= 150, "k=3 over <=50 build keys")
    assert(maybe >= member, "a bloom filter can never miss a member")
    assert(fp == maybe - member)
    assert(fpr >= 0.0 && fpr <= 1.0)
    assert(probes > member, "probe population must include absentees")
  }

  test("temporal split: partitions all events with exact integer cuts") {
    val rows = q("q_temporal_split").collect()
    val ev = Tables.table(spark, sf, "events")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(rows.map(_.getLong(2)).sum == ev.length)
    val (t0, t1) = (ev.min, ev.max)
    val cut1 = t0 + (t1 - t0) * 7 / 10
    val cut2 = t0 + (t1 - t0) * 8 / 10
    val expTrain = ev.count(_ < cut1)
    val expEmb = ev.count(u => u >= cut1 && u < cut2)
    assert(rows.filter(_.getString(0) == "train").map(_.getLong(2)).sum
      == expTrain)
    assert(rows.filter(_.getString(0) == "embargo").map(_.getLong(2)).sum
      == expEmb)
  }

  test("hits iteration: auth and hub each normalize to 1") {
    val rows = q("q_hits_iter").collect()
    val authSum = rows.map(_.getDouble(4)).sum
    val hubSum = rows.map(_.getDouble(5)).sum
    assert(math.abs(authSum - 1.0) < 1e-9, s"auth sums to $authSum")
    assert(math.abs(hubSum - 1.0) < 1e-9, s"hub sums to $hubSum")
    // a1 totals must equal the corpus bigram count
    val bigrams = Tables.table(spark, sf, "documents")
      .select(size(split(col("text"), " ")) - 1).collect()
      .map(_.getInt(0).toLong max 0L).sum
    assert(rows.map(_.getLong(1)).sum == bigrams)
  }

  test("phrase match: counts equal a driver-side sliding-window scan") {
    val rows = q("q_phrase_match").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val tk = r.getString(1).split(" ", -1)
        r.getLong(0) -> tk.sliding(2).count(w =>
          w.length == 2 && w(0) == "table" && w(1) == "hash").toLong
      }.filter(_._2 > 0).toMap
    assert(rows == expect)
  }

  test("keyness: scores match a driver-side smoothed-ratio " +
    "recomputation for every token") {
    val rows = q("q_keyness_llr").collect()
    val tk = Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1)
        .map(t => (t, r.getLong(0) % 2 == 0)))
    val na = tk.count(_._2).toLong
    val nb = tk.length - na
    rows.foreach { r =>
      val (tok, a, b, bits) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))
      assert(tk.count(t => t._1 == tok && t._2).toLong == a)
      assert(tk.count(t => t._1 == tok && !t._2).toLong == b)
      val ra = (a + 1) * nb
      val rb = (b + 1) * na
      val expect =
        if (ra >= rb) 63 - java.lang.Long.numberOfLeadingZeros(ra / rb)
        else -(63 - java.lang.Long.numberOfLeadingZeros(rb / ra))
      assert(bits == expect, s"token $tok")
    }
  }

  test("feature hash: buckets in [0,64) and counts cover every token") {
    val rows = q("q_feature_hash").collect()
    assert(rows.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 64))
    val total = Tables.table(spark, sf, "documents")
      .select(size(split(col("text"), " "))).collect()
      .map(_.getInt(0).toLong).sum
    assert(rows.map(_.getLong(2)).sum == total)
    // spot-check the md5 bucket decode against the JVM md5
    val one = rows.head
    val docToks = Tables.table(spark, sf, "documents")
      .filter(col("doc_id") === one.getLong(0))
      .select(col("text")).collect().head.getString(0).split(" ", -1)
    val expect = docToks.map(t =>
      java.lang.Long.parseLong(md5hex(t).take(2), 16) % 64)
      .count(_ == one.getLong(1)).toLong
    assert(one.getLong(2) == expect)
  }

  test("rare collapse: unk accounting reconciles per source") {
    val rows = q("q_rare_collapse").collect()
    val tk = Tables.table(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).split(" ", -1)
        .map(t => (r.getString(0), t)))
    val vocab = tk.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val src = r.getString(0)
      val mine = tk.filter(_._1 == src)
      assert(r.getLong(1) == mine.length.toLong, s"$src total")
      val unk = mine.count(t => vocab(t._2) < 100).toLong
      assert(r.getLong(2) == unk, s"$src unk")
      val kept = mine.map(t =>
        if (vocab(t._2) < 100) "<unk>" else t._2).distinct.length.toLong
      assert(r.getLong(3) == kept, s"$src vocab_size")
      assert(math.abs(r.getDouble(4) - unk.toDouble / mine.length) == 0.0)
    }
  }

  test("pr curve: recall is monotone nonincreasing in threshold and " +
    "reaches 1 at the lowest threshold") {
    val rows = q("q_pr_curve").collect() // ordered thr desc
    val recalls = rows.map(_.getDouble(4)).toSeq
    assert(recalls == recalls.sorted,
      "recall grows as the threshold drops")
    assert(math.abs(recalls.last - 1.0) < 1e-12)
    rows.foreach { r =>
      val (tp, fp) = (r.getLong(1), r.getLong(2))
      assert(math.abs(r.getDouble(3) - tp.toDouble / (tp + fp)) == 0.0)
    }
  }

  test("lift deciles: cumulative capture reconciles and ends at lift 1") {
    val rows = q("q_lift_deciles").collect()
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0))
      .toSeq.sorted)
    assert(rows.map(_.getLong(1)).sum == rows.last.getLong(3),
      "decile sizes sum to the final cumulative")
    assert(math.abs(rows.last.getDouble(5) - 1.0) < 1e-12,
      "full-population lift is exactly 1")
    // lift must be nonincreasing when ordering by score works at all
    val lifts = rows.map(_.getDouble(5)).toSeq
    assert(lifts.zip(lifts.tail).count { case (a, b) => b > a + 1e-9 }
      <= lifts.length / 2, "cumulative lift should mostly decay")
  }

  test("encoding advisor: distinct/run stats reconcile and advice " +
    "follows its thresholds") {
    val rows = q("q_encoding_advise").collect()
    val n = Tables.table(spark, sf, "lineitem").count()
    rows.foreach { r =>
      assert(r.getLong(1) == n)
      assert(r.getLong(2) <= r.getLong(3),
        "each distinct value starts at least one run")
      assert(r.getLong(3) <= r.getLong(1))
      val expect =
        if (r.getLong(2) <= 64) "dict"
        else if (r.getLong(3) * 2 <= r.getLong(1)) "rle"
        else "plain"
      assert(r.getString(5) == expect, s"column ${r.getString(0)}")
    }
    assert(rows.map(_.getString(0)).toSet == Set("l_returnflag",
      "l_linestatus", "l_quantity", "l_extendedprice"))
  }

  test("partition planner: exact byte accounting and ceiling division") {
    val rows = q("q_partition_plan").collect()
    rows.foreach { r =>
      val (nRows, bytes, files) =
        (r.getLong(1), r.getLong(2), r.getLong(4))
      assert(bytes > 0 && nRows > 0)
      assert(math.abs(r.getDouble(3) - bytes.toDouble / nRows) == 0.0)
      assert(files == (bytes + 134217727L) / 134217728L)
      assert(files >= 1)
    }
    val li = rows.find(_.getString(0) == "lineitem").get
    val expect = Tables.table(spark, sf, "lineitem")
      .selectExpr("64 + length(l_returnflag) + length(l_linestatus)")
      .collect().map(_.getInt(0).toLong).sum
    assert(li.getLong(2) == expect)
  }
}
