package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.core.{Alerts, LatestState, Normalize}
import graft.lake.Archive
import graft.schema.WeatherStatus
import graft.serve.Keydir
import graft.util.Scratch

/** The reference's full topology (SURVEY §3.1) as Structured Streaming:
  *
  *   source (kafka | generated | files) → parse → normalize →
  *     fork: (a) latest-per-station batch max_by → in-memory keydir (serving)
  *           (b) partitioned parquet lake → checkpointed file sink,
  *               one file per partition directory per batch
  *           (c) humidity alerts → alert sink (kafka | memory)
  *
  * Forks run as independent queries over the same declarative source frame —
  * Spark's equivalent of the reference's thread handoffs
  * (CentralStation.java:61-77 + ParquetArchiver worker + Rain-Detector app).
  * Each query has its own checkpoint → independent recovery, like the
  * reference's separate processes, but with exactly-once file-sink semantics
  * instead of the volatile queue (ParquetArchiver.java:36).
  *
  * None of the three forks keeps a state store: fork (a)'s state is its
  * keydir, one in-memory row per station id, and (b) and (c) are
  * stateless. A [[StateGuard]] (`new StateGuard(spark, cap).install()`)
  * belongs to the stateful queries built beside them — the
  * `LatestState.latestStream*` state stores, windowed and
  * watermark-evicted derivatives — whose state a source that fabricates
  * unbounded keys or collapses event times grows without bound; the
  * guard turns that into an immediate attributable failure instead of a
  * delayed OOM (see SCALE.md, "Streaming state circuit breaker"). The
  * keydir grows with distinct station ids the same way, in the heap of
  * the process that runs the queries.
  */
object WeatherPipeline {

  /** Kafka record decode — the transport-free half of the source (S4):
    * Kafka frames carry binary `key`/`value`; the wire protocol is UTF-8
    * JSON, so the decode is a cast projection. Factored out so the exact
    * projection a real Kafka frame goes through is executable in tests over
    * any binary-(key,value) frame (e.g. a MemoryStream) — only the literal
    * `format("kafka").load()` needs a broker.
    */
  def decodeWire(kafkaShaped: DataFrame): DataFrame =
    kafkaShaped.selectExpr(
      "CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")

  /** Kafka wire source (S4) — (key, value) strings on `weather-data`
    * (ref: CentralStation.java:58-59). The broker handshake itself is
    * untestable here (no broker/connector jars in this environment); the
    * decode + parse/normalize stages are covered via [[decodeWire]] over
    * binary memory streams and the generated + file sources.
    */
  def kafkaSource(spark: SparkSession, servers: String,
      topic: String = "weather-data"): DataFrame =
    decodeWire(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .load())

  /** The Kafka sink contract: a `value` column of string/binary, optional
    * same-typed `key`. Validated eagerly so a mis-shaped frame fails at
    * wiring time with a clear message, not inside the sink after a broker
    * round-trip.
    */
  def requireKafkaSinkShape(df: DataFrame): Unit = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val value = fields.getOrElse("value",
      throw new IllegalArgumentException(
        s"kafka sink frame needs a 'value' column; got ${df.schema.simpleString}"))
    def ok(t: org.apache.spark.sql.types.DataType) =
      t == StringType || t == BinaryType
    require(ok(value), s"kafka 'value' must be string/binary, got $value")
    fields.get("key").foreach(t =>
      require(ok(t), s"kafka 'key' must be string/binary, got $t"))
  }

  /** Kafka alert sink (K3) — the raining-alerts topic. */
  def kafkaAlertSink(alerts: DataFrame, servers: String, checkpoint: String,
      topic: String = "raining-alerts"): StreamingQuery = {
    requireKafkaSinkShape(alerts)
    alerts.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Wire JSON stream → canonical archive columns. */
  def normalize(wireJson: DataFrame): DataFrame =
    Normalize.toArchive(Normalize.parseWire(wireJson))

  /** Fork (a): latest-value state, served from an in-memory keydir (the
    * BitCask + Javalin replacement). The fork is stateless: a
    * `foreachBatch` writer reduces each micro-batch to one row per station
    * with the batch `max_by` ([[LatestState.latest]], partial-aggregated
    * before its shuffle), collects it and merges it into a [[Keydir]],
    * published before the batch commits. The keydir is the only copy of
    * the latest state; its merge keeps the greater
    * `(status_timestamp, s_no)`, so a late reading never wins and a
    * replayed batch changes nothing. The keydir is registered as the temp
    * view `tableName`, one row per station with [[WeatherStatus]]'s
    * schema, so `spark.table` and [[latestSnapshot]] read the same table.
    * The checkpoint is a fresh scratch directory per start.
    */
  def startLatest(archive: DataFrame, tableName: String): StreamingQuery = {
    val status = Encoders.product[WeatherStatus]
    val keydir = new Keydir(tableName, status.schema)
    keydir.frame(archive.sparkSession).createOrReplaceTempView(tableName)
    archive.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the typed round trip over the winners gives the rows the view's
        // schema, non-null checks included
        keydir.write(LatestState.latest(batch).as(status).map(identity)(status).toDF(), batchId)
      }
      .option("checkpointLocation", Scratch.dir("graft_latest_ck").toString)
      .queryName(tableName)
      .start()
  }

  /** The CURRENT latest table of [[startLatest]]: the keydir behind the
    * view `tableName`. Each query planned over it is a driver-local scan
    * of the map published last, with no job and no aggregate; hand it to
    * [[graft.serve.QueryApi]] to serve point gets and scans from the map.
    */
  def latestSnapshot(spark: SparkSession, tableName: String): DataFrame =
    spark.table(tableName)

  /** Fork (b): the partitioned lake. */
  def startArchive(archive: DataFrame, path: String, checkpoint: String,
      triggerMs: Long = 1000L): StreamingQuery =
    Archive.writeStream(archive, path, checkpoint, triggerMs).start()

  /** Fork (c): alerts to an in-memory sink (kafka in production via
    * [[kafkaAlertSink]]).
    */
  def startAlerts(archive: DataFrame, tableName: String): StreamingQuery =
    Alerts.alerts(archive, keyCol = "station_id")
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(tableName)
      .start()
}
