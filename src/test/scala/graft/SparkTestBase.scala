package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole forked test JVM (SURVEY.md §5). */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Session.builder(4)
      .appName("graft-tests")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sfDir: String = SparkTestBase.sfDir
}
