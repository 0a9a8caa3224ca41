package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — Spark
  * getOrCreate makes this cheap across suites).
  *
  * Deliberately NOT graft.tools.ToolSession.local(): this session runs
  * without AQE, because several specs assert non-adaptive plan shapes
  * (e.g. text.PipelineOpsSpec's sizedSemiJoin "plans differ" case, which
  * compares the broadcast and shuffle legs' executed plans). Under AQE the
  * executed plan is an AdaptiveSparkPlan whose join strategy is only
  * fixed at run time, so those assertions would test the optimizer, not
  * the code.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resource(rel: String): String =
    getClass.getClassLoader.getResource(rel).getPath
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // managed tables (the bucketed-index specs) land in a temp warehouse,
      // not the repo tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
