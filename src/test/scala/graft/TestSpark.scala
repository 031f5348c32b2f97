package graft

import org.apache.spark.sql.SparkSession

/** One shared session across all suites (Spark startup dominates test
  * time otherwise): the engine's profile at local[4], the same session
  * PlanShapes fingerprints. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
