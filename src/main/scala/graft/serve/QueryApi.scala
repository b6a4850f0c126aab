package graft.serve

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A3/A4/K6/K7 — the serving surface over the latest-value table
  * (ref: CentralStationServer.java:23-58, bitcask_client.py).
  *
  * The reference serves point gets and full scans from BitCask's
  * in-memory keydir through Javalin; here every call reads a [[Keydir]].
  * There is one serving path:
  *   - `latestTable` is a keydir table (`WeatherPipeline.latestSnapshot`,
  *     or the view `startLatest` registers): the API reads that live map,
  *     so each call sees the batch published last;
  *   - any other frame (a batch latest table) is collected once, here at
  *     construction, into a keydir of its own, and never re-planned.
  * Either way the table needs `station_id`, `status_timestamp` and `s_no`
  * columns ([[Keydir]]). The keydir is registered as the temp view
  * `viewName` for [[sql]].
  */
class QueryApi(spark: SparkSession, latestTable: DataFrame,
    viewName: String = "latest") {

  private val keydir =
    Keydir.of(latestTable).getOrElse(Keydir.collect(latestTable, viewName))

  keydir.frame(spark).createOrReplaceTempView(viewName)

  /** GET /station?id=K (ref: CentralStationServer.java:43-58): a map
    * lookup. Returns None for an unknown station — the 404 path.
    */
  def point(stationId: Long): Option[Row] = keydir.get(stationId)

  /** The rows of GET /stations (ref: CentralStationServer.java:38-41):
    * one published version of the map, one row per station.
    */
  def rows(): Iterable[Row] = keydir.version.rows.values

  /** The full scan as a DataFrame: a fresh frame per call, so it plans a
    * scan of the version current at that call.
    */
  def scan(): DataFrame = keydir.frame(spark)

  /** SQL over the latest view — the generalization the reference lacks. */
  def sql(query: String): DataFrame = spark.sql(query)

  /** K7 — CSV export of the full scan, header row `key,value`-style flat
    * columns (ref: bitcask_client.py:11-29).
    */
  def exportCsv(path: String): Unit =
    scan()
      .select(col("station_id"), col("s_no"), col("battery_status"),
        // millisecond precision: wire timestamps are epoch-millis
        // (Normalize.toArchive), so a second-granular format would make
        // the read-back via TableSources.exportCsvSchema lossy and two
        // same-second readings indistinguishable
        date_format(col("status_timestamp"), "yyyy-MM-dd HH:mm:ss.SSS")
          .as("status_timestamp"),
        col("weather.humidity").as("humidity"),
        col("weather.temperature").as("temperature"),
        col("weather.wind_speed").as("wind_speed"))
      .coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(path)
}
