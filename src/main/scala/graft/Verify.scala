package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Optional subset for local iteration (driver never sets this):
    // SPARK_GRAFT_ONLY=q_a,q_b dumps just those queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val dumped = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      dumped += name
      // a marker from an earlier run into the same outDir must not
      // survive a now-successful query
      try Files.deleteIfExists(Paths.get(s"$outDir/$name.failed"))
      catch { case _: Throwable => () }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Explicit artifact marker: a broken query must be legible from
        // the dump directory alone, not only from a missing entry.
        try Files.writeString(Paths.get(s"$outDir/$name.failed"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
        catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of the dumped query set: a reused outDir keeps parquet
    // dirs of renamed/removed queries, and the oracle compare then
    // reports confusing schema FAILs against ghosts. The checker
    // iterates the manifest and prunes per-query dirs not in it.
    // Full runs REPLACE the manifest (so renamed queries get pruned);
    // SPARK_GRAFT_ONLY subset runs MERGE into any existing manifest —
    // replacing it would make the checker rmtree every other query's
    // dump and report green over only the subset (ADVICE r13).
    val manifestPath = Paths.get(s"$outDir/manifest.json")
    val manifestNames: Seq[String] =
      if (only.isEmpty) dumped.toSeq
      else {
        val prior: Seq[String] =
          if (Files.exists(manifestPath)) {
            // minimal parse of our own ["a","b",...] format
            val txt = Files.readString(manifestPath)
            "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(txt)
              .map(_.group(1)).toSeq
          } else Seq.empty
        (prior ++ dumped).distinct
      }
    Files.writeString(manifestPath,
      manifestNames.sorted.map(q).mkString("[", ",", "]"))
    // Stamp the dump with the tree it came from, so a stale artifact
    // is distinguishable from a live regression (round-8 lesson).
    Files.writeString(Paths.get(s"$outDir/git_sha.txt"),
      GitSha.resolve() + "\n")
    spark.stop()
  }
}
