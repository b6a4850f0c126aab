package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class ToolSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"
  val gates = Seq("q1_pricing_summary", "q3_top_orders")

  test("verify writes the oracle map and one parquet dir per named gate") {
    val out = tmpDir("tool_verify")
    assert(Tool.run(spark, Tool.Verify(sf, out, gates)) == 0)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == gates.toSet)
    gates.foreach { g =>
      assert(spark.read.parquet(s"$out/$g").count() ==
        SparkEntry.queries(g)(spark, sf).count())
    }
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(Files.readString(Paths.get(out, "oracle_sql.json")),
        classOf[java.util.Map[String, String]]).asScala.toMap
    assert(oracle == SparkEntry.oracleSql)
  }

  test("plan writes one formatted plan file per named gate") {
    val out = tmpDir("tool_plan")
    assert(Tool.run(spark, Tool.Plan(sf, Some((out, "_t")), gates)) == 0)
    val files = new java.io.File(out).list().toSet
    assert(files == gates.map(g => s"${g}_t.txt").toSet)
    val q1 = Files.readString(Paths.get(out, "q1_pricing_summary_t.txt"))
    assert(q1.contains("== Physical Plan =="), q1.take(400))
  }

  test("Bench keeps every run's file-side line and refreshes the stable path") {
    val out = Paths.get(tmpDir("bench_out"), "bench.json")
    val first = Bench.writeRun(out, """{"run":1}""", 1000L)
    // the same millisecond again must not overwrite the first run
    val second = Bench.writeRun(out, """{"run":2}""", 1000L)
    assert(first != second)
    assert(Files.readString(first) == "{\"run\":1}\n")
    assert(Files.readString(second) == "{\"run\":2}\n")
    assert(Files.readString(out) == "{\"run\":2}\n")
    assert(new java.io.File(out.getParent.toString).list().toSet ==
      Set("bench.json", first.getFileName.toString,
        second.getFileName.toString))
  }

  test("probe measures a named gate's rows and shuffle") {
    assert(Tool.run(spark, Tool.Probe(sf, Seq("q1_pricing_summary"))) == 0)
  }

  test("unknown gate names and bad arguments are rejected before a session") {
    def rejected(args: String*): String = Tool.parse(args) match {
      case Left(msg) => msg
      case Right(cmd) => fail(s"accepted $cmd")
    }
    assert(rejected("verify", sf, "/tmp/o", "q1_pricing_summary", "no_gate")
      .contains("unknown gates: no_gate"))
    assert(rejected("probe", sf, "nope").contains("unknown gates: nope"))
    assert(rejected("plan", sf, "q1_pricing_summary", "nope")
      .contains("unknown gates: nope"))
    assert(rejected("plan", sf, "plans/out").contains("<suffix>"))
    assert(rejected("probe", sf).startsWith("usage"))
    assert(rejected("verify", sf).startsWith("usage"))
    assert(rejected("explain").startsWith("usage"))

    assert(Tool.parse(Seq("verify", sf, "/tmp/o")) ==
      Right(Tool.Verify(sf, "/tmp/o", Nil)))
    assert(Tool.parse(Seq("plan", sf, "q1_pricing_summary")) ==
      Right(Tool.Plan(sf, None, Seq("q1_pricing_summary"))))
    assert(Tool.parse(Seq("plan", sf, "plans/r16", "_after")) ==
      Right(Tool.Plan(sf, Some(("plans/r16", "_after")), Nil)))
    assert(Tool.parse(Seq("probe", sf, "q1_pricing_summary")) ==
      Right(Tool.Probe(sf, Seq("q1_pricing_summary"))))
  }
}
