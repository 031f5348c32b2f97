package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's one session profile ([[GraftSession.builder]]): what
  * it sets, that its partition count follows the master and the data
  * rather than the machine, and a source scan that keeps every session
  * in the tree on that profile. */
class GraftSessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A fresh session from `GraftSession.builder(master, dataDir)` on the
    * shared SparkContext (its own conf and catalog); the shared session
    * is restored as the active and default one afterwards. */
  private def built(master: String, dataDir: String = ""): SparkSession = {
    spark
    try GraftSession.builder(master, dataDir).create()
    finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("builder(local[4]): 4 partitions, 2000 codegen cache, UTC, 128 MB advisory, rule fires") {
    // TestSpark is GraftSession.builder("local[4]") — the PlanShapes session.
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) ==
      128L * 1024 * 1024)
    assert(spark.experimental.extraOptimizations.isEmpty,
      "optimizer rules come from GraftExtensions only")
    val dot = spark.range(3)
      .selectExpr("array(cast(id as double), 1d) as a")
      .selectExpr("aggregate(zip_with(a, a, (x, y) -> x * y), 0D, (acc, v) -> acc + v) as d")
    val phys = dot.queryExecution.executedPlan.toString
    assert(phys.contains("dot_product"), s"RewriteDotProduct did not fire\n$phys")
    assert(dot.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 2.0, 5.0))
  }

  test("partitions follow the cores the master names, not the machine's") {
    val cores = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.masterCores("local[4]") == 4)
    assert(GraftSession.masterCores("local[6,2]") == 6)
    assert(GraftSession.masterCores("local") == 1)
    assert(GraftSession.masterCores("local[*]") == cores)
    assert(GraftSession.masterCores("spark://host:7077") == cores)
    // a width no machine default can coincide with
    val n = cores + 3
    assert(built(s"local[$n]").conf.get("spark.sql.shuffle.partitions") == n.toString)
  }

  test("builder(local[8], sf0.001) takes its partition count from dirBytes") {
    val bytes = GraftSession.dirBytes(TestSpark.sf)
    assert(bytes > 0, s"${TestSpark.sf} not present")
    val expected = GraftSession.shufflePartitions(8, bytes)
    // < 2 MB of input: the input-derived small end, below the 8 cores
    assert(expected < 8)
    assert(built("local[8]", TestSpark.sf).conf.get("spark.sql.shuffle.partitions") ==
      expected.toString)
  }

  test("every session in the tree comes from GraftSession.builder") {
    def sources(dir: String): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def hits(dir: String, needle: String): Seq[String] =
      sources(dir).flatMap { p =>
        val n = java.util.regex.Pattern.quote(needle).r
          .findAllIn(java.nio.file.Files.readString(p)).size
        Seq.fill(n)(p.getFileName.toString)
      }
    // split so this file does not match itself
    val builderCall = "SparkSession" + ".builder("
    assert(hits("src", builderCall) == Seq("GraftSession.scala"))
    assert(hits("src/main", "experimental" + ".extraOptimizations").isEmpty)
  }
}
