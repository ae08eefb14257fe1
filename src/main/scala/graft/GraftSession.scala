package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every `main` and the
  * test fixture take their session from here, so the confs and the
  * native planner surface are the same in Bench, Verify, the tools,
  * the CLI and the suites.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` if set, else the host's processor count. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `getOrCreate` with the shared confs. `local[cpus]` and `cpus`
    * shuffle partitions apply only when no master is configured yet (on
    * a cluster, parallelism is the cluster's). A live session keeps its
    * static confs and takes the runtime ones. Registering the planner
    * surface is idempotent, so calling this again is safe.
    */
  def apply(cpus: Int = defaultCpus): SparkSession = {
    val builder = SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Netty event loops that idle out mid-run (default 120 s) spin in
      // prepareToDestroy on this netty version, permanently burning ~20
      // cores and poisoning every later measurement — keep connections
      // alive for the whole run instead.
      .config("spark.network.timeout", "3600s")
      // shuffle/spill on tmpfs: the bench VM's block device stalls
      // under load (idle iowait load ~6), and disk-backed shuffle files
      // made identical queries 2-10x slower run-to-run
      .config("spark.local.dir", s"${Scratch.root}/spark-local")
    if (!sys.props.contains("spark.master") &&
        !sys.env.contains("SPARK_MASTER"))
      builder.master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The native top-k operator and its window rewrite are part of the
    // library: every run and every suite plans the queries a library
    // user gets.
    plans.TopKPerKey.register(spark)
    spark
  }
}
