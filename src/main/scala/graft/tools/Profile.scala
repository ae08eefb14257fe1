package graft.tools

/** Dev utility: time (and optionally explain) individual registered
  * queries at an arbitrary scale factor.
  *
  * {{{
  *   sbt "runMain graft.tools.Profile q_dedup_ngram q_dedup_minhash"
  *   SPARK_GRAFT_EXPLAIN=1 sbt "runMain graft.tools.Profile q_dedup_ngram"
  * }}}
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val spark = graft.GraftSession()
    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      if (explain) df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[profile] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
    }
    spark.stop()
  }
}
