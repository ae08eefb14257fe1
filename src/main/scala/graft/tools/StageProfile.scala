package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev utility (optimization rounds): per-STAGE breakdown of individual
  * registered queries — wall duration, summed executor task time, input
  * bytes, shuffle read/write bytes, task count — attributed by stage
  * callsite. The empirical half of guide §1: says WHICH operator of a
  * slow query owns the time, where Profile.scala only gives the total.
  *
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.StageProfile q_graph_triangle"
  * }}}
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession()
    // A/B hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies runtime SQL
    // confs so a candidate setting can be profiled without a rebuild.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach {
      _.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      }
    }

    final case class Row(id: Int, name: String, wallMs: Long, taskMs: Long,
        inMB: Double, srMB: Double, swMB: Double, spillMB: Double,
        gcMs: Long, tasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b).getOrElse(-1L)
        stages.add(Row(si.stageId, si.name.takeWhile(_ != '\n').take(90),
          wall, m.executorRunTime,
          m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.memoryBytesSpilled / 1e6,
          m.jvmGCTime,
          si.numTasks))
      }
    })

    // Same pre-warm surface as Bench so the first profiled query does not
    // absorb one-time materialization cost.
    spark.range(100000).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count().count()
    graft.operators.Advanced.bucketize(spark, sfDir, "lineitem", "l_orderkey")
    graft.operators.Advanced.bucketize(spark, sfDir, "orders", "o_orderkey")
    graft.operators.Advanced.bucketize(spark, sfDir, "events", "user_id")
    graft.operators.Formats.prewarm(spark, sfDir)
    graft.operators.TextPipeline.prewarmTruth(spark, sfDir)

    val names = if (args.nonEmpty) args.toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      stages.clear()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t0 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus before reading/clearing the queue,
      // so no late stage-completed event is dropped or attributed to the
      // next query's breakdown
      org.apache.spark.sql.graft.Bridge.drainListenerBus(spark)
      println(f"==== $name  total=$dt%.2fs rows=$n")
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(-_.taskMs).foreach { r =>
        println(f"  stage ${r.id}%4d wall=${r.wallMs}%6dms task=${r.taskMs}%7dms " +
          f"in=${r.inMB}%8.1fMB sr=${r.srMB}%8.1fMB sw=${r.swMB}%8.1fMB " +
          f"spill=${r.spillMB}%7.1fMB gc=${r.gcMs}%5dms n=${r.tasks}%3d  ${r.name}")
      }
    }
    spark.stop()
  }
}
