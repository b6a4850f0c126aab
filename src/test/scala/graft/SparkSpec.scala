package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — the production session
  * ([[GraftSession.harnessSession]]), built once per JVM so suites don't
  * pay repeated startup and run under the config the mains run with.
  */
object SparkSpec {
  lazy val spark: SparkSession = GraftSession.harnessSession()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  /** A fresh directory under the scratch root, deleted at JVM exit. */
  def tmpDir(prefix: String): String = graft.util.Scratch.dir(prefix).toString

  /** Run `f` with every graft optimizer rule except `keep` excluded
    * (`withRules()` is the plain-Spark baseline a rewrite is compared
    * with). Plans are built when a Dataset is first optimized, so build
    * the frames under test inside `f`.
    */
  def withRules[A](keep: Rule[_]*)(f: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, graft.plans.GraftExtensions.optimizerRules
      .filterNot(keep.contains).map(_.ruleName).mkString(","))
    try f finally spark.conf.unset(key)
  }
}
