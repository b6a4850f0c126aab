package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** A JVM that exits with a RocksDB-backed stateful query still running
  * (`LatestState.latestStream` into a `foreachBatch` writer), its
  * checkpoint and state store under the scratch root. A shutdown hook
  * placed between the SparkContext stop and the scratch deletion writes
  * what it sees to the report file `args(0)`: whether the query is still
  * active and whether the scratch root still exists.
  */
object ScratchTeardownProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.schema.{WeatherReading, WeatherStatus}
    val report = Paths.get(args(0))
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[WeatherStatus]
    val q = graft.core.LatestState.latestStream(input.toDF())
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: Dataset[WeatherStatus], _: Long) => batch.collect(); () }
      .option("checkpointLocation", graft.util.Scratch.dir("teardown_ck").toString)
      .queryName("teardown_latest")
      .start()
    (1L to 3L).foreach { n =>
      input.addData(WeatherStatus(1L, n, "high", new java.sql.Timestamp(n * 1000L),
        WeatherReading(50, 20, 5)))
      q.processAllAvailable()
    }
    val root = graft.util.Scratch.root
    GraftBridge.addShutdownHook(GraftBridge.TempDirShutdownPriority + 1) { () =>
      Files.write(report, Seq(s"root=$root", s"active=${q.isActive}",
        s"rootExists=${Files.exists(root)}").asJava, StandardCharsets.UTF_8)
    }
    System.exit(0)
  }
}

class ScratchSpec extends AnyFunSuite {

  test("a scratch root is deleted only after a running streaming query has stopped") {
    val report = Files.createTempFile("scratch-teardown", ".txt")
    val log = Files.createTempFile("scratch-teardown", ".log")
    try {
      // the --add-opens this JVM got, in either of their two spellings
      val in = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val jvmArgs = in.zipAll(in.drop(1), "", "").flatMap {
        case ("--add-opens", v) => Seq("--add-opens", v)
        case (a, _) if a.startsWith("--add-opens=") => Seq(a)
        case _ => Nil
      }
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
        "-Xmx1g", "-Duser.timezone=UTC") ++ jvmArgs ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.ScratchTeardownProbe", report.toString)
      val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "probe JVM hung")
      val out = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
      assert(p.exitValue() == 0, out.takeRight(3000))
      val seen = Files.readAllLines(report).asScala.map(_.split("=", 2))
        .map(a => a(0) -> a(1)).toMap
      assert(seen.get("active").contains("false"),
        s"the query still ran after the SparkContext stopped: $seen")
      assert(seen.get("rootExists").contains("true"),
        s"the scratch root was gone before the SparkContext stopped: $seen")
      assert(!Files.exists(Paths.get(seen("root"))), "the scratch root survived exit")
      assert(!out.contains("Unable to close") && !out.contains("NoSuchFileException"),
        out.takeRight(3000))
    } finally {
      Files.deleteIfExists(report); Files.deleteIfExists(log)
    }
  }
}
