package graft

import java.net.{HttpURLConnection, URL}
import org.apache.spark.sql.functions._
import graft.core.{LatestState, Normalize}
import graft.gen.{OpenMeteoAdapter, StationSource}
import graft.serve.{HttpShim, QueryApi}

object HttpShimSpec {

  def get(url: String): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    // close the stream (and guard a body-less error response): leaked
    // keep-alive sockets across the suite's ~24 requests pile up file
    // descriptors in the shared long-lived test JVM
    val body = if (is == null) ""
      else try scala.io.Source.fromInputStream(is).mkString finally is.close()
    (code, body)
  }
}

class HttpShimSpec extends SparkSpec {
  import HttpShimSpec.get

  test("HTTP routes mirror the reference server: 200/400/404 + CORS") {
    val archive = Normalize.toArchive(
      StationSource.messages(spark, nStations = 4, perStation = 20))
    val api = new QueryApi(spark, LatestState.latest(archive))
    val shim = new HttpShim(api)
    val port = shim.start()
    try {
      val (c1, all) = get(s"http://localhost:$port/stations")
      assert(c1 == 200 && all.startsWith("[") &&
        all.split("\"station_id\"").length - 1 == 4)

      val (c2, one) = get(s"http://localhost:$port/station?id=2")
      assert(c2 == 200 && one.contains("\"station_id\":2"))

      val (c3, _) = get(s"http://localhost:$port/station?id=999")
      assert(c3 == 404)

      val (c4, _) = get(s"http://localhost:$port/station")
      assert(c4 == 400)

      val conn = new URL(s"http://localhost:$port/stations")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.getResponseCode
      assert(conn.getHeaderField("Access-Control-Allow-Origin") == "*")

      // JDK context matching is prefix-based; exact-path guard must 404
      // REST-style subpaths and prefix strays like the reference's router
      val (c5, _) = get(s"http://localhost:$port/station/5")
      assert(c5 == 404)
      val (c6, _) = get(s"http://localhost:$port/stationsXYZ")
      assert(c6 == 404)

      // non-GET methods must 405 without running the driver-side collect
      val post = new URL(s"http://localhost:$port/stations")
        .openConnection().asInstanceOf[HttpURLConnection]
      post.setRequestMethod("POST")
      post.setDoOutput(true)
      post.getOutputStream.close()
      assert(post.getResponseCode == 405)
    } finally shim.stop()
  }

  test("scans of a live latest table serve readings committed after the first") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.schema.{WeatherReading, WeatherStatus}
    import graft.streaming.WeatherPipeline
    implicit val sq = spark.sqlContext
    import spark.implicits._

    def reading(station: Long, sNo: Long) = WeatherStatus(station, sNo,
      "high", new java.sql.Timestamp(sNo * 1000L), WeatherReading(50, 20, 5))
    val input = MemoryStream[WeatherStatus]
    val q = WeatherPipeline.startLatest(input.toDF(), "latest_fresh_scan")
    val api = new QueryApi(spark,
      WeatherPipeline.latestSnapshot(spark, "latest_fresh_scan"),
      "latest_fresh_scan_view")
    val shim = new HttpShim(api)
    val port = shim.start()
    def station1(rows: Array[org.apache.spark.sql.Row]): Long =
      rows.find(_.getAs[Long]("station_id") == 1L).get.getAs[Long]("s_no")
    try {
      input.addData(reading(1L, 1L), reading(2L, 1L))
      q.processAllAvailable()
      assert(station1(api.scan().collect()) == 1L)
      assert(get(s"http://localhost:$port/stations")._2
        .contains("\"station_id\":1,\"s_no\":1,"))

      input.addData(reading(1L, 2L))
      q.processAllAvailable()
      assert(station1(api.scan().collect()) == 2L,
        "a scan after a commit must serve the newer reading")
      val (code, body) = get(s"http://localhost:$port/stations")
      assert(code == 200 && body.contains("\"station_id\":1,\"s_no\":2,"),
        body)
    } finally { shim.stop(); q.stop() }
  }

  test("shim serves concurrent clients: pooled dispatch, consistent payloads") {
    val archive = Normalize.toArchive(
      StationSource.messages(spark, nStations = 4, perStation = 20))
    val api = new QueryApi(spark, LatestState.latest(archive))
    val shim = new HttpShim(api)
    val port = shim.start()
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Int, String, Int)] {
          override def call(): (Int, String, Int) = {
            val (c1, scanBody) = get(s"http://localhost:$port/stations")
            val (c2, _) = get(s"http://localhost:$port/station?id=2")
            (c1, scanBody, c2)
          }
        })
      }
      pool.shutdown()
      val runs = futures.map(_.get())
      assert(runs.forall { case (c1, _, c2) => c1 == 200 && c2 == 200 },
        s"every concurrent client must succeed: ${runs.map(r => (r._1, r._3))}")
      assert(runs.map(_._2).distinct.size == 1,
        "all concurrent scans must see the same latest-state payload")
      assert(runs.head._2.split("\"station_id\"").length - 1 == 4)
    } finally shim.stop()
  }
}

class KeydirSpec extends SparkSpec {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.execution.LocalTableScanExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
  import graft.schema.{WeatherReading, WeatherStatus}
  import graft.serve.Keydir
  import graft.streaming.WeatherPipeline

  /** Station `station`'s reading number `sNo`, at `sNo` seconds unless
    * `tsMs` says otherwise; its humidity is `10 + sNo`, so a row that mixed
    * two readings would show.
    */
  def reading(station: Long, sNo: Long, tsMs: Long = -1L) = WeatherStatus(
    station, sNo, "high", new java.sql.Timestamp(if (tsMs < 0) sNo * 1000L else tsMs),
    WeatherReading(10 + sNo.toInt, 20, 5))

  test("the served table holds one row per station as batches accumulate") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[WeatherStatus]
    val q = WeatherPipeline.startLatest(input.toDF(), "keydir_bounded")
    try {
      val served = WeatherPipeline.latestSnapshot(spark, "keydir_bounded")
      val keydir = Keydir.of(served).get
      (1L to 20L).foreach { b =>
        input.addData((1L to 3L).map(reading(_, b)): _*)
        q.processAllAvailable()
        // the view is the keydir itself, not a per-batch update history
        assert(spark.table("keydir_bounded").collect().length == 3)
        assert(keydir.version.rows.size == 3)
        assert(keydir.version.batchId == q.lastProgress.batchId)
      }
      val rows = WeatherPipeline.latestSnapshot(spark, "keydir_bounded").collect()
      assert(rows.map(_.getAs[Long]("s_no")).toSeq == Seq(20L, 20L, 20L))
      assert(rows.map(_.getAs[Long]("station_id")).sorted.toSeq == Seq(1L, 2L, 3L))
      val plan = WeatherPipeline.latestSnapshot(spark, "keydir_bounded")
        .queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec] &&
        plan.collect { case a: BaseAggregateExec => a }.isEmpty, plan)
      assert(q.lastProgress.sink.description.contains("ForeachBatchSink"),
        q.lastProgress.sink.description)
    } finally q.stop()
  }

  test("a late reading never replaces the served row") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[WeatherStatus]
    val q = WeatherPipeline.startLatest(input.toDF(), "keydir_late")
    val api = new QueryApi(spark, WeatherPipeline.latestSnapshot(spark, "keydir_late"),
      "keydir_late_view")
    try {
      input.addData(reading(1L, 5L), reading(2L, 1L))
      q.processAllAvailable()
      // arrives later with a higher s_no, but an older status_timestamp
      input.addData(reading(1L, 9L, tsMs = 1000L))
      q.processAllAvailable()
      assert(api.point(1L).map(_.getAs[Long]("s_no")).contains(5L))
      assert(api.scan().collect().find(_.getAs[Long]("station_id") == 1L).get
        .getAs[Long]("s_no") == 5L)
      assert(api.sql("SELECT s_no FROM keydir_late_view WHERE station_id = 1")
        .collect().map(_.getLong(0)).toSeq == Seq(5L))
    } finally q.stop()
  }

  test("publishing the same batch twice leaves the map unchanged") {
    import spark.implicits._
    val first = Seq(reading(1L, 1L), reading(2L, 1L)).toDF()
    val second = Seq(reading(1L, 2L)).toDF()
    val keydir = new Keydir("keydir_replay", first.schema)
    keydir.write(first, 0L)
    val v0 = keydir.version
    keydir.write(first, 0L)
    assert(keydir.version == v0)
    keydir.write(second, 1L)
    val v1 = keydir.version
    keydir.write(second, 1L)
    assert(keydir.version == v1 && v1 != v0)
    assert(v1.rows(1L).getAs[Long]("s_no") == 2L && v1.rows(2L).getAs[Long]("s_no") == 1L)
  }

  test("an older reading after a newer one in the same micro-batch is not served") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // two input partitions, so the two readings of station 1 meet only at
    // the shuffle
    val input = MemoryStream[WeatherStatus](2)
    val q = WeatherPipeline.startLatest(input.toDF(), "keydir_same_batch")
    try {
      input.addData(reading(1L, 5L), reading(2L, 1L), reading(1L, 9L, tsMs = 1000L),
        reading(2L, 2L))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 1)
      val served = Keydir.of(WeatherPipeline.latestSnapshot(spark, "keydir_same_batch")).get
      assert(served.get(1L).map(_.getAs[Long]("s_no")).contains(5L))
      assert(served.get(2L).map(_.getAs[Long]("s_no")).contains(2L))
      assert(served.get(1L).get.getAs[Row]("weather").getInt(0) == 15)
    } finally q.stop()
  }

  test("replaying a batch or publishing an older or tied row leaves the map equal") {
    import spark.implicits._
    val rows = Seq(reading(1L, 5L), reading(2L, 3L)).toDF().collect()
    val keydir = new Keydir("keydir_merge", rows.head.schema)
    keydir.publish(0L, rows)
    val v0 = keydir.version
    keydir.publish(0L, rows)
    assert(keydir.version eq v0, "a replayed batch must keep the published version")
    // older event time with a higher s_no; same event time with a lower
    // s_no; the same (status_timestamp, s_no) with other values
    val tied = reading(2L, 3L).copy(weather = WeatherReading(99, 99, 99))
    keydir.publish(1L, Seq(reading(1L, 9L, tsMs = 1000L), reading(1L, 4L, tsMs = 5000L),
      tied).toDF().collect())
    assert(keydir.version.rows == v0.rows)
    assert(keydir.version.batchId == 1L)
    // the collect path merges by the same rule, whatever the row order
    val collected = Keydir.collect(Seq(reading(1L, 5L), reading(1L, 9L, tsMs = 1000L),
      reading(1L, 2L)).toDF(), "keydir_merge_collect")
    assert(collected.get(1L).map(_.getAs[Long]("s_no")).contains(5L))
  }

  test("the latest view keeps its schema: names, types, order and nullability") {
    import org.apache.spark.sql.types._
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val expected = StructType(Seq(
      StructField("station_id", LongType, nullable = false),
      StructField("s_no", LongType, nullable = false),
      StructField("battery_status", StringType, nullable = true),
      StructField("status_timestamp", TimestampType, nullable = true),
      StructField("weather", StructType(Seq(
        StructField("humidity", IntegerType, nullable = false),
        StructField("temperature", IntegerType, nullable = false),
        StructField("wind_speed", IntegerType, nullable = false))), nullable = true)))
    val input = MemoryStream[WeatherStatus]
    val q = WeatherPipeline.startLatest(input.toDF(), "keydir_schema")
    try {
      input.addData(reading(1L, 1L))
      q.processAllAvailable()
      assert(spark.table("keydir_schema").schema == expected)
      assert(WeatherPipeline.latestSnapshot(spark, "keydir_schema").schema == expected)
      assert(Keydir.of(spark.table("keydir_schema")).get.schema == expected)
    } finally q.stop()
  }

  test("under a publisher, scans show one version and point gets a published row") {
    import spark.implicits._
    val stations = 1L to 4L
    val versions = 30
    val all = (0 until versions).flatMap(v => stations.map(reading(_, v.toLong))).toDF()
    val byVersion = all.collect().groupBy(_.getAs[Long]("s_no"))
    val keydir = new Keydir("keydir_live", all.schema)
    keydir.publish(0L, byVersion(0L))
    val api = new QueryApi(spark, keydir.frame(spark), "keydir_live_view")
    val shim = new HttpShim(api)
    val port = shim.start()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val publisher = new Thread(() => {
      (1 until versions).foreach { v =>
        keydir.publish(v.toLong, byVersion(v.toLong)); Thread.sleep(3)
      }
      done.set(true)
    })
    val Reading = """"station_id":(\d+),"s_no":(\d+),.*?"humidity":(\d+)""".r
    def parsed(body: String): Seq[(Long, Long, Int)] =
      Reading.findAllMatchIn(body).map(m =>
        (m.group(1).toLong, m.group(2).toLong, m.group(3).toInt)).toSeq
    try {
      publisher.start()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val futures = (0 until 3).map { c =>
        pool.submit(new java.util.concurrent.Callable[(Seq[String], Seq[String])] {
          override def call(): (Seq[String], Seq[String]) = {
            val scans = Seq.newBuilder[String]; val points = Seq.newBuilder[String]
            while (!done.get()) {
              val (c1, s1) = HttpShimSpec.get(s"http://localhost:$port/stations")
              assert(c1 == 200); scans += s1
              val (c2, p1) = HttpShimSpec.get(s"http://localhost:$port/station?id=${1 + c}")
              assert(c2 == 200); points += p1
            }
            (scans.result(), points.result())
          }
        })
      }
      pool.shutdown()
      val results = futures.map(_.get())
      publisher.join()
      val scans = results.flatMap(_._1); val points = results.flatMap(_._2)
      assert(scans.nonEmpty && points.nonEmpty)
      scans.foreach { body =>
        val rows = parsed(body)
        assert(rows.map(_._1).sorted == stations, body)
        assert(rows.map(_._2).distinct.size == 1, s"a scan mixed versions: $body")
      }
      (scans ++ points).flatMap(parsed).foreach { case (_, sNo, humidity) =>
        assert(sNo >= 0 && sNo < versions && humidity == 10 + sNo, (sNo, humidity))
      }
      assert(points.forall(b => parsed(b).size == 1), points)
    } finally shim.stop()
  }
}

class OpenMeteoAdapterSpec extends SparkSpec {
  import spark.implicits._

  val response =
    """{"latitude":30.0,"longitude":31.0,"current":{"time":"2025-06-29T10:00",
      |"temperature_2m":88.7,"relative_humidity_2m":46,"wind_speed_10m":11.4}}"""
      .stripMargin.replace("\n", "")

  test("adapter rounds doubles to int and builds wire rows; bad responses drop") {
    val raw = Seq(
      (11L, 1L, 1751191200L, response),
      (11L, 2L, 1751191203L, "not json at all")
    ).toDF("stationId", "sequenceNumber", "epochSec", "response")
    val wire = OpenMeteoAdapter.adapt(raw)
    val rows = wire.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("stationId") == 11L)
    assert(r.getAs[Long]("statusTimestamp") == 1751191200000L)
    val w = r.getStruct(r.fieldIndex("weather"))
    assert(w.getInt(0) == 46)   // humidity passthrough
    assert(w.getInt(1) == 89)   // 88.7 rounds
    assert(w.getInt(2) == 11)   // 11.4 rounds
    // adapted rows flow through the same normalize pipeline
    val archive = Normalize.toArchive(wire)
    assert(archive.count() == 1)
  }
}

class ArrivalOrderSpec extends SparkSpec {

  test("arrival-order latest keeps the last-arrived row even if event-time older") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import graft.schema.{WeatherReading, WeatherStatus}
    implicit val sq = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[WeatherStatus]
    val q = LatestState.latestStreamArrivalOrder(input.toDF())
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("arrival_latest").start()
    try {
      val newer = WeatherStatus(1L, 5L, "high",
        new java.sql.Timestamp(5000L), WeatherReading(50, 70, 10))
      val older = WeatherStatus(1L, 3L, "low",
        new java.sql.Timestamp(3000L), WeatherReading(60, 71, 11))
      input.addData(newer)
      q.processAllAvailable()
      input.addData(older)   // arrives later, event-time older
      q.processAllAvailable()
      val last = spark.table("arrival_latest").collect().last
      assert(last.getAs[Long]("s_no") == 3L) // arrival order wins
      // contrast: event-time mode picks s_no=5
      val byEvent = LatestState.latest(
        Seq(newer, older).toDF()).collect().head
      assert(byEvent.getAs[Long]("s_no") == 5L)
    } finally q.stop()
  }

  test("persistSnapshot overwrites the current-state dir (compaction analog)") {
    val archive = Normalize.toArchive(
      StationSource.messages(spark, nStations = 3, perStation = 10))
    val dir = tmpDir("snap")
    LatestState.persistSnapshot(LatestState.latest(archive), dir)
    LatestState.persistSnapshot(LatestState.latest(archive), dir) // idempotent
    assert(spark.read.parquet(dir).count() == 3)
  }
}

class FrameSamplingSpec extends SparkSpec {

  test("frame sampling explodes payloads into bounded fixed-size chunks") {
    import spark.implicits._
    import graft.ext.multimodal.Multimodal
    val media = Seq(
      Multimodal.MediaRow(1L, "video/fake", Array.tabulate[Byte](200)(_.toByte)),
      Multimodal.MediaRow(2L, "video/fake", Array[Byte](1, 2, 3))
    ).toDS()
    val frames = Multimodal.sampleFrames(media, frameBytes = 32, maxFrames = 4)
      .collect()
    val byId = frames.groupBy(_.media_id)
    assert(byId(1L).length == 4)
    assert(byId(1L).forall(_.frame.length <= 32))
    assert(byId(1L).map(_.frame_idx).sorted.toSeq == Seq(0, 1, 2, 3))
    assert(byId(2L).length == 1 && byId(2L).head.frame.toSeq == Seq[Byte](1, 2, 3))
  }

  test("byte-budget repartition sizes partitions by payload bytes, not rows") {
    import spark.implicits._
    import graft.ext.multimodal.Multimodal
    // 40 rows × 1 KiB payloads = 40 KiB; 10 KiB budget → ≥4 partitions
    val media = (1L to 40L).map(i =>
      Multimodal.MediaRow(i, "blob", Array.fill[Byte](1024)(i.toByte))).toDS()
    val repartitioned = Multimodal.repartitionByBytes(media,
      targetBytesPerPartition = 10 * 1024)
    assert(repartitioned.rdd.getNumPartitions >= 4)
    assert(repartitioned.count() == 40)
  }
}
