package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession (local[4], UTC,
  * small shuffle partitions) so suites don't pay repeated startup.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // the planner strategy surface (AsOfJoinExec) must exist wherever
    // the operators that plan through it run — but NOT the optimizer
    // rules: RewriteSpec installs/uninstalls those per test to compare
    // with-vs-without plans, so a globally installed rule would break
    // its baselines. A strategy for a node nothing else produces is
    // inert for every other suite.
    s.experimental.extraStrategies =
      s.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** A fresh directory under the scratch root, deleted at JVM exit. */
  def tmpDir(prefix: String): String = graft.util.Scratch.dir(prefix).toString
}
