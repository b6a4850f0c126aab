package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The `spark.sql.extensions=graft.plans.GraftExtensions` path: the shared
  * session, built by [[GraftSession.harnessSession]] with only that config,
  * must get BOTH the optimizer rules and the SQL function surface.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("config-only deployment wires SQL functions and rewrite rules") {
    // SQL functions injected: polyhash evaluates to the documented fold
    val h = spark.sql("SELECT polyhash('abc') AS h").collect().head.getLong(0)
    val expected = "abc".foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L)
    assert(h == expected, s"polyhash('abc') = $h, want $expected")
    assert(spark.sql("SELECT simhash64(array('a','b')) AS s")
      .collect().length == 1)
    // optimizer rules injected: rn=1 window rewrites to max_by
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
    val top1 = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val optimized = top1.queryExecution.optimizedPlan.toString
    assert(optimized.contains("max_by") && !optimized.contains("row_number"),
      optimized.take(800))
    // planner strategy injected: the as-of node plans as the custom
    // merge-scan exec
    import spark.implicits._
    val probe = Seq((1L, 10L)).toDF("k", "pt")
      .select(col("k"), timestamp_seconds(col("pt")).as("pt"))
    val build = Seq((1L, 5L, 7L)).toDF("bk", "t", "id")
      .select(col("bk"), timestamp_seconds(col("t")).as("t"), col("id"))
    val asof = graft.operators.AsOfJoin.asOfExec(probe, build,
      Seq("k"), Seq("bk"), "pt", "t", buildTie = Seq("id"))
    assert(asof.queryExecution.executedPlan.toString.contains("AsOfJoin ["))
    assert(asof.collect().map(_.getLong(4)).toSeq == Seq(7L))
    // TABLE function injected: as_of reachable from pure SQL text,
    // planning through the same custom exec, answer-equal to the
    // Scala front door
    probe.createOrReplaceTempView("ge_probe")
    build.createOrReplaceTempView("ge_build")
    try {
      val viaSql = spark.sql(
        "SELECT * FROM as_of('ge_probe', 'ge_build', 'k', 'bk', 'pt', 't', 'id')")
      assert(viaSql.queryExecution.executedPlan.toString
        .contains("AsOfJoin ["))
      assert(viaSql.collect().map(_.getLong(4)).toSeq == Seq(7L))
      // strict mode via SQL: an equal-ts build row is excluded
      val strictSql = spark.sql("SELECT * FROM as_of('ge_probe', 'ge_build'," +
        " 'k', 'bk', 'pt', 't', 'id', 'strict')")
      assert(strictSql.collect().map(_.getLong(4)).toSeq == Seq(7L))
    } finally {
      spark.catalog.dropTempView("ge_probe")
      spark.catalog.dropTempView("ge_build")
    }
  }
}
