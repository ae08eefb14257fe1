package graft

import org.apache.spark.sql.SparkSession

/** The suites' session: the `GraftSession` factory with cpus pinned to
  * 4. All suites share one forked JVM, so whichever runs first they
  * all see the same master, confs and planner surface.
  */
trait SharedSpark {
  lazy val spark: SparkSession = GraftSession(4)
}
