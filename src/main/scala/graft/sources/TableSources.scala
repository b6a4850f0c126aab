package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Explicit-schema readers for the interchange formats the reference touches
  * (CSV export round-trips, JSON wire dumps, the parquet lake). Schema is
  * always supplied — inference is a full extra pass over the data at 100 TB
  * and the reference itself disables it
  * (ref: SparkParquetStreamingToElasticsearch.java:47).
  */
object TableSources {

  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("mode", "DROPMALFORMED") // parse-failure drop, like T1
      .csv(path)

  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The CSV-export schema of [[graft.serve.QueryApi.exportCsv]] — reading
    * an export back yields a typed flat table (the Weather-Client's view of
    * the world, ref: bitcask_client.py:11-29).
    */
  val exportCsvSchema: StructType = StructType.fromDDL(
    "station_id LONG, s_no LONG, battery_status STRING, " +
      "status_timestamp TIMESTAMP, humidity INT, temperature INT, wind_speed INT")
}
