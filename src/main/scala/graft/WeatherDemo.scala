package graft

import graft.gen.StationSource
import graft.lake.Archive
import graft.serve.QueryApi
import graft.streaming.WeatherPipeline

/** Runnable end-to-end demo of the weather engine (SURVEY §3.1 topology):
  * synthetic wire JSON → streaming normalize → latest-state + partitioned
  * lake + alerts → point/scan/CSV serving. `sbt "runMain graft.WeatherDemo"`.
  */
object WeatherDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.harnessSession()

    val base = java.nio.file.Files.createTempDirectory("weather-demo")
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
    println(s"== latest table (${api.scan().count()} stations):")
    api.scan().orderBy("station_id").show(false)
    println(s"== alerts: ${spark.table("alerts").count()} rows")
    println(s"== lake rows: ${Archive.read(spark, lakeDir).count()}, " +
      s"partitions: ${new java.io.File(lakeDir).listFiles().count(_.getName.startsWith("date="))} date dirs")
    api.exportCsv(s"$base/export")
    println(s"== csv export at $base/export")

    Seq(qLatest, qLake, qAlerts).foreach(_.stop())
    spark.stop()
  }
}
