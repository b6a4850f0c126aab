package graft.serve

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.LatestState

/** A3/A4/K6/K7 — the serving surface over the latest-value table
  * (ref: CentralStationServer.java:23-58, bitcask_client.py).
  *
  * The reference serves point gets and full scans over BitCask through
  * Javalin; our equivalent is a programmatic API over a registered temp view
  * (an HTTP shim would sit on top without touching query semantics).
  */
class QueryApi(spark: SparkSession, latestTable: DataFrame,
    viewName: String = "latest") {

  latestTable.createOrReplaceTempView(viewName)

  /** GET /station?id=K (ref: CentralStationServer.java:43-58).
    * Returns None for an unknown station — the 404 path.
    */
  def point(stationId: Long): Option[org.apache.spark.sql.Row] =
    LatestState.point(latestTable, stationId).collect().headOption

  /** GET /stations — full scan (ref: CentralStationServer.java:38-41).
    * A freshly planned frame per call: a Dataset caches its executed plan,
    * and planning is when a memory-sink table reads its rows, so handing
    * out `latestTable` itself would serve every scan the rows of the first.
    */
  def scan(): DataFrame =
    org.apache.spark.sql.GraftBridge.ofRows(spark, latestTable.queryExecution.logical)

  /** SQL over the latest view — the generalization the reference lacks. */
  def sql(query: String): DataFrame = spark.sql(query)

  /** K7 — CSV export of the full scan, header row `key,value`-style flat
    * columns (ref: bitcask_client.py:11-29).
    */
  def exportCsv(path: String): Unit =
    latestTable
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
