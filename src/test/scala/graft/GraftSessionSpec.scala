package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{RowNumberTopKRewrite, TopKStrategy}

/** The session surface every main and suite shares: `GraftSession` is
  * its only builder, and the session it returns carries the shared
  * confs and the native planner surface.
  */
class GraftSessionSpec extends AnyFunSuite with SharedSpark {

  test("the shared session has UTC, no UI and the native planner") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.experimental.extraStrategies.contains(TopKStrategy))
    assert(spark.experimental.extraOptimizations
      .contains(RowNumberTopKRewrite))
  }

  test("no file under src/ but GraftSession.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val hits = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && new String(
        Files.readAllBytes(p), "ISO-8859-1").contains(needle))
      .map(_.getFileName.toString).toSeq
    assert(hits == Seq("GraftSession.scala"))
  }
}
