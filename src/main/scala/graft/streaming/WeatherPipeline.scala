package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.core.{Alerts, LatestState, Normalize}
import graft.lake.Archive

/** The reference's full topology (SURVEY §3.1) as Structured Streaming:
  *
  *   source (kafka | generated | files) → parse → normalize →
  *     fork: (a) latest-per-station state  → in-memory serving table
  *           (b) partitioned parquet lake  → checkpointed file sink
  *           (c) humidity alerts           → alert sink (kafka | memory)
  *
  * Forks run as independent queries over the same declarative source frame —
  * Spark's equivalent of the reference's thread handoffs
  * (CentralStation.java:61-77 + ParquetArchiver worker + Rain-Detector app).
  * Each query has its own checkpoint → independent recovery, like the
  * reference's separate processes, but with exactly-once file-sink semantics
  * instead of the volatile queue (ParquetArchiver.java:36).
  *
  * Deployments should install a [[StateGuard]] on the session (`new
  * StateGuard(spark, cap).install()`) sized to the provisioned state
  * stores: the stateful fork (a) keys on station_id, so a misbehaving
  * source that fabricates unbounded keys — or collapses event times on
  * any watermarked derivative — grows state without bound, and the guard
  * turns that into an immediate attributable failure instead of a
  * delayed OOM (see SCALE.md, "Streaming state circuit breaker").
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

  /** Fork (a): latest-value state, served from an in-memory table named
    * `tableName` (the BitCask + Javalin replacement). Read it through
    * [[latestSnapshot]], NOT `spark.table(tableName)` directly: an
    * Update-mode memory sink APPENDS one row per key per micro-batch, so
    * the raw table is a version history and a naive point lookup can
    * return a stale reading.
    */
  def startLatest(archive: DataFrame, tableName: String): StreamingQuery =
    LatestState.latestStream(archive)
      .writeStream
      .outputMode(OutputMode.Update)
      .format("memory")
      .queryName(tableName)
      .start()

  /** The CURRENT latest table from [[startLatest]]'s memory sink: collapse
    * the sink's per-batch update history to each station's event-time
    * winner (cost ∝ rows appended since the query started — the serving
    * layer's QueryApi/HttpShim should be handed THIS frame).
    */
  def latestSnapshot(spark: SparkSession, tableName: String): DataFrame =
    LatestState.latest(spark.table(tableName))

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
