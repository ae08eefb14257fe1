package graft

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed golden fixtures for the q_bpe_train merge loop (r17
  * verdict task #8's "bounded driver state asserted in a spec"): the
  * trainer's driver state is the merge table plus ONE argmax row per
  * round (TakeOrdered limit(1) — never the vocab relation, never the
  * corpus), so the spec pins (a) the exact merge sequence on a corpus
  * small enough to derive by hand, including the greedy non-overlapping
  * rewrite on a run of repeated symbols, (b) the lexicographic
  * tie-break, and (c) early exhaustion: when every word is a single
  * symbol the loop stops, emitting fewer than Rounds rows rather than
  * degenerate merges.
  */
class BpeTrainSpec extends AnyFunSuite with SharedSpark {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def cleanup(dir: String): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    ()
  }

  private def writeDocs(dir: String,
      rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("golden merge sequence on {aaab x2, ab}: (a a)->aa via greedy " +
    "non-overlapping rewrite, then (a b)->ab, then (aa ab)->aaab, " +
    "then exhaustion stops the loop at 3 of 6 rounds") {
    val dir = tmpDir("bpe1")
    // words: 'aaab' freq 2, 'ab' freq 1
    // r1: pairs (a,a)=4 [two per 'aaab' occurrence], (a,b)=3 -> merge
    //     'a a'->'aa'; ' a a a b '->' aa a b ' (greedy left-to-right,
    //     NOT ' a aa b ')
    // r2: (aa,a)=2, (a,b)=3 -> 'a b'->'ab'
    // r3: (aa,ab)=2 -> 'aa ab'->'aaab'; all words single symbols
    // r4: no pairs -> exhausted
    writeDocs(dir, Seq((1L, "s", "aaab aaab"), (2L, "s", "ab")))
    val r = SparkEntry.queries("q_bpe_train")(spark, dir).collect()
    assert(r.map(h => (h.getAs[Long]("step"), h.getAs[String]("pair"),
      h.getAs[String]("merged"), h.getAs[Long]("n"))).toSeq ==
      Seq((1L, "a a", "aa", 4L), (2L, "a b", "ab", 3L),
        (3L, "aa ab", "aaab", 2L)))
    cleanup(dir)
  }

  test("equal-frequency pairs break ties lexicographically on the " +
    "pair string") {
    val dir = tmpDir("bpe2")
    // 'ab' and 'cd' both once: (a,b)=1, (c,d)=1 -> 'a b' wins round 1
    writeDocs(dir, Seq((1L, "s", "ab cd")))
    val r = SparkEntry.queries("q_bpe_train")(spark, dir).collect()
    assert(r.head.getAs[String]("pair") == "a b")
    assert(r.map(_.getAs[String]("pair")).toSeq ==
      Seq("a b", "c d"))
    cleanup(dir)
  }

  test("the merge table is bounded by the round budget even when " +
    "pairs never run dry (driver state stays O(rounds))") {
    val dir = tmpDir("bpe3")
    // long distinct words keep pair supply alive past 6 rounds
    writeDocs(dir, Seq(
      (1L, "s", "abcdefgh ijklmnop qrstuvwx"),
      (2L, "s", "abcdefgh ijklmnop"),
      (3L, "s", "abcdefgh")))
    val r = SparkEntry.queries("q_bpe_train")(spark, dir).collect()
    assert(r.length == 6, s"expected the 6-round budget, got ${r.length}")
    // steps are dense 1..6 and counts never increase as the vocab
    // coarsens (a merged symbol can only tie or shrink pair supply)
    assert(r.map(_.getAs[Long]("step")).toSeq == (1L to 6L))
    cleanup(dir)
  }
}
