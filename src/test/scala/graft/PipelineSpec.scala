package graft

import org.apache.spark.sql.functions._
import graft.gen.StationSource
import graft.core.Normalize
import graft.lake.Archive
import graft.serve.QueryApi
import graft.streaming.WeatherPipeline

class ArchiveSpec extends SparkSpec {

  test("lake round-trips with hive partition layout and prunes on read") {
    val dir = tmpDir("lake")
    val archive = Normalize.toArchive(
      StationSource.messages(spark, nStations = 4, perStation = 50,
        startEpochSec = 1700000000L))
    Archive.write(archive, dir)

    // hive-style dirs exist
    val top = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("date="))
    assert(top.nonEmpty)

    val back = Archive.read(spark, dir)
    assert(back.count() == archive.count())

    // partition pruning: filter on station_id must show in PartitionFilters
    val pruned = back.filter(col("station_id") === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("station_id"), plan.take(500))
    assert(pruned.count() == archive.filter(col("station_id") === 2).count())
  }
}

class QueryApiSpec extends SparkSpec {

  lazy val archive = Normalize.toArchive(
    StationSource.messages(spark, nStations = 6, perStation = 40))
  lazy val api = new QueryApi(spark, graft.core.LatestState.latest(archive))

  test("point lookup answers for known keys, None for unknown (404 path)") {
    val r = api.point(3L)
    assert(r.isDefined && r.get.getAs[Long]("station_id") == 3L)
    assert(api.point(999L).isEmpty)
  }

  test("full scan and SQL over the latest view agree") {
    assert(api.scan().count() == 6)
    assert(api.sql("SELECT count(*) AS n FROM latest").collect().head.getLong(0) == 6)
  }

  test("CSV export writes a flat header file (client parity)") {
    val dir = tmpDir("csv")
    api.exportCsv(dir)
    val csv = new java.io.File(dir).listFiles().find(_.getName.endsWith(".csv")).get
    val lines = scala.io.Source.fromFile(csv).getLines().toList
    assert(lines.head == "station_id,s_no,battery_status,status_timestamp,humidity,temperature,wind_speed")
    assert(lines.length == 7) // header + 6 stations

    // round trip: the typed CSV reader recovers the exported table
    val back = graft.sources.TableSources.csv(spark, dir,
      graft.sources.TableSources.exportCsvSchema)
    assert(back.count() == 6)
    assert(back.schema.fieldNames.toSeq ==
      graft.sources.TableSources.exportCsvSchema.fieldNames.toSeq)
    val row = back.filter(org.apache.spark.sql.functions.col("station_id") === 3)
      .collect().head
    assert(row.getAs[Int]("humidity") >= 10 && row.getAs[Int]("humidity") <= 100)
  }
}

class PipelineSpec extends SparkSpec {

  test("variant JSON path agrees with from_json; corrupt values drop") {
    import graft.queries.EventOps
    val dir = "/root/testdata/sf0.001"
    val a = EventOps.jsonParse(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = EventOps.variantExtract(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a.nonEmpty && a == b,
      s"paths disagree: only-json=${a -- b} only-variant=${b -- a}")
    // the PERMISSIVE-drop contract on the variant path: corrupt JSON,
    // non-int values, and nulls become null, never exceptions
    import spark.implicits._
    val out = Seq("""{"k": 7}""", "{broken", """{"k": "x"}""",
        null.asInstanceOf[String])
      .toDF("props")
      .select(org.apache.spark.sql.functions.expr(
        "try_variant_get(try_parse_json(props), '$.k', 'int')").as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(out.toList == List(Some(7), None, None, None), out.toList)
  }

  test("end-to-end: json files → normalize → latest state + lake + alerts") {
    val srcDir = tmpDir("wire")
    val lakeDir = tmpDir("lake")
    val ckpt1 = tmpDir("ck1"); val ckpt2 = tmpDir("ck2")

    // stage wire JSON as files (the kafka stand-in: same value column)
    val json = StationSource.messagesAsJson(spark, nStations = 5, perStation = 60)
    json.select("value").coalesce(2).write.mode("overwrite").text(srcDir)

    val wire = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.StringType))))
      .text(srcDir)
    val archive = WeatherPipeline.normalize(wire)

    val qLatest = WeatherPipeline.startLatest(archive, "latest_e2e")
    val qLake = WeatherPipeline.startArchive(archive, lakeDir, ckpt1)
    val qAlerts = WeatherPipeline.startAlerts(archive, "alerts_e2e")
    try {
      qLatest.processAllAvailable()
      qLake.processAllAvailable()
      qAlerts.processAllAvailable()

      // oracle: batch computation over the same files
      val batchArchive = WeatherPipeline.normalize(spark.read.text(srcDir))
      val expectLatest = graft.core.LatestState.latest(batchArchive)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap

      val got = spark.table("latest_e2e")
        .groupBy("station_id").agg(max("s_no").as("s_no"))   // one row per station already
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expectLatest)

      // the lake holds every (deduped) row with partition dirs
      val lake = Archive.read(spark, lakeDir)
      assert(lake.count() == batchArchive.count())
      assert(lake.columns.contains("date") && lake.columns.contains("hour"))

      // alerts match the batch predicate count
      val nAlerts = spark.table("alerts_e2e").count()
      assert(nAlerts == batchArchive.filter(col("weather.humidity") > 70).count())
    } finally {
      qLatest.stop(); qLake.stop(); qAlerts.stop()
    }
  }
}

/** Exercises the Kafka topology with everything a broker-less environment
  * allows: the exact binary-(key,value) frame shape a real Kafka source
  * produces, streamed through decodeWire → parse → normalize, and the sink
  * contract validation. Only `format("kafka").load()`/`.start()` themselves
  * remain unexecuted (no broker or connector jars exist here).
  */
class KafkaPathSpec extends SparkSpec {

  test("binary kafka-shaped stream: decodeWire → normalize → alert records") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val wire = StationSource.messagesAsJson(spark, nStations = 3, perStation = 20)
      .collect()
      .map(r => (r.getString(0).getBytes("UTF-8"), r.getString(1).getBytes("UTF-8")))

    val input = MemoryStream[(Array[Byte], Array[Byte])]
    // a real Kafka frame carries binary key/value + topic/partition/offset
    val kafkaShaped = input.toDF().toDF("key", "value")
      .withColumn("topic", lit("weather-data"))
      .withColumn("partition", lit(0))
      .withColumn("offset", lit(0L))
    val archive = WeatherPipeline.normalize(WeatherPipeline.decodeWire(kafkaShaped))
    val q = archive.writeStream.format("memory").queryName("kafka_path")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(wire.toIndexedSeq: _*)
      q.processAllAvailable()
      val got = spark.table("kafka_path")
      val expect = WeatherPipeline.normalize(
        StationSource.messagesAsJson(spark, nStations = 3, perStation = 20)
          .select("value"))
      assert(got.count() > 0 && got.count() == expect.count())
      // and the alert projection over it satisfies the kafka sink contract
      WeatherPipeline.requireKafkaSinkShape(
        graft.core.Alerts.alerts(got, keyCol = "station_id"))
    } finally q.stop()
  }

  test("kafka sink shape validation rejects value-less or mis-typed frames") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      WeatherPipeline.requireKafkaSinkShape(Seq((1, "a")).toDF("id", "name"))
    }
    intercept[IllegalArgumentException] {
      WeatherPipeline.requireKafkaSinkShape(Seq((1, 2.0)).toDF("key", "value"))
    }
    WeatherPipeline.requireKafkaSinkShape(
      Seq(("k", "v")).toDF("key", "value")) // valid shape passes
  }
}
