package graft

import graft.gen.StationSource
import graft.lake.Archive
import graft.serve.QueryApi
import graft.streaming.WeatherPipeline
import graft.util.Scratch

/** Runnable end-to-end demo of the weather engine (SURVEY §3.1 topology):
  * synthetic wire JSON → streaming normalize → latest-state keydir +
  * partitioned lake + alerts → point/scan/CSV serving.
  *
  * `sbt "runMain graft.WeatherDemo [exportDir]"`. The wire files, lake and
  * checkpoints are staged under the scratch root and deleted at exit; the
  * CSV export is written to `exportDir` when one is given, and skipped
  * otherwise.
  */
object WeatherDemo {
  def main(args: Array[String]): Unit = {
    val exportDir = args.headOption
    val spark = GraftSession.harnessSession()

    val base = Scratch.dir("weather-demo")
    val srcDir = s"$base/wire"; val lakeDir = s"$base/lake"

    // stage wire JSON (kafka stand-in; swap for WeatherPipeline.kafkaSource)
    StationSource.messagesAsJson(spark, nStations = 10, perStation = 120)
      .select("value").coalesce(2).write.text(srcDir)

    val wire = spark.readStream
      .schema("value STRING").text(srcDir)
    val archive = WeatherPipeline.normalize(wire)

    val qLatest = WeatherPipeline.startLatest(archive, "latest")
    val qLake   = WeatherPipeline.startArchive(archive, lakeDir, s"$base/ck1")
    val qAlerts = WeatherPipeline.startAlerts(archive, "alerts")
    Seq(qLatest, qLake, qAlerts).foreach(_.processAllAvailable())

    val api = new QueryApi(spark,
      WeatherPipeline.latestSnapshot(spark, "latest"))

    println(s"== point lookup station 3: ${api.point(3L).orNull}")
    println(s"== latest table (${api.rows().size} stations):")
    api.scan().orderBy("station_id").show(false)
    println(s"== alerts: ${spark.table("alerts").count()} rows")
    println(s"== lake rows: ${Archive.read(spark, lakeDir).count()}, " +
      s"partitions: ${new java.io.File(lakeDir).listFiles().count(_.getName.startsWith("date="))} date dirs")
    exportDir match {
      case Some(dir) =>
        api.exportCsv(dir)
        println(s"== csv export at $dir")
      case None =>
        println("== csv export skipped (pass an export directory to write it)")
    }

    Seq(qLatest, qLake, qAlerts).foreach(_.stop())
    spark.stop()
  }
}
