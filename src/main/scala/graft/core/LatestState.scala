package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.schema.{WeatherReading, WeatherStatus}

/** A1 — latest-value-per-station (the BitCask keyDir semantics).
  *
  * The reference overwrites on ARRIVAL order (ref: BitCask.java:136); we offer
  * that plus the corrected EVENT-TIME order `(status_timestamp, s_no)` as
  * canonical (SURVEY §7.4 divergence note).
  *
  * Batch: `max_by` aggregate — partial map-side combine moves one row per key
  * per partition, so the shuffle is O(keys × partitions) not O(rows). Never a
  * window + row_number here: that sorts every row at the shuffle. At 100 TB
  * with small key cardinality this is the difference between seconds and
  * hours.
  *
  * Streaming: the served `latest` fork (`WeatherPipeline.startLatest`) runs
  * the batch `max_by` per micro-batch and merges the winners into its
  * keydir, with no state store. The `mapGroupsWithState` forms below keep
  * one WeatherStatus per key in a state store — O(stations), bounded;
  * NoTimeout because the latest table is meant to live forever (the
  * reference never expires keys) — for the streaming gates that run them.
  */
object LatestState {

  /** Batch, event-time order (canonical). */
  def latest(archive: DataFrame): DataFrame =
    archive
      .groupBy(col("station_id"))
      .agg(max_by(
        struct(col("s_no"), col("battery_status"), col("status_timestamp"),
          col("weather")),
        struct(col("status_timestamp"), col("s_no"))).as("r"))
      .select(col("station_id"), col("r.s_no").as("s_no"),
        col("r.battery_status").as("battery_status"),
        col("r.status_timestamp").as("status_timestamp"),
        col("r.weather").as("weather"))

  /** Generic streaming latest-per-key: keep the max-by-`order` row per `key`
    * via mapGroupsWithState — O(keys) bounded state, Update-mode emission,
    * NoTimeout (the latest table lives forever, like the reference's keyDir).
    */
  def latestStreamBy[T, K](ds: Dataset[T])(key: T => K)(
      order: T => (Long, Long))(
      implicit enc: org.apache.spark.sql.Encoder[T],
      kenc: org.apache.spark.sql.Encoder[K]): Dataset[T] =
    ds.groupByKey(key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[T]) =>
          import scala.math.Ordering.Implicits._
          val incoming = rows.reduceOption((a, b) => if (order(b) > order(a)) b else a)
          val best = (state.getOption.toSeq ++ incoming.toSeq).maxBy(order)
          state.update(best)
          best
      }

  /** Streaming: groupByKey(station).mapGroupsWithState keeping the event-time
    * max. Output mode must be Update.
    */
  def latestStream(archive: DataFrame): Dataset[WeatherStatus] = {
    implicit val enc = Encoders.product[WeatherStatus]
    implicit val longEnc = Encoders.scalaLong
    latestStreamBy(archive.as[WeatherStatus])(_.station_id)(s =>
      (s.status_timestamp.getTime, s.s_no))
  }

  /** Generic streaming ARRIVAL-order latest-per-key — faithful BitCask
    * semantics: the last row to arrive wins, even if its event time is
    * older (ref: BitCask.java:136 overwrites unconditionally). Within one
    * micro-batch, arrival order per key is the iterator order.
    */
  def latestStreamArrivalBy[T, K](ds: Dataset[T])(key: T => K)(
      implicit enc: org.apache.spark.sql.Encoder[T],
      kenc: org.apache.spark.sql.Encoder[K]): Dataset[T] =
    ds.groupByKey(key)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[T]) =>
          var last: T = state.getOption.getOrElse(null.asInstanceOf[T])
          rows.foreach(r => last = r)
          state.update(last)
          last
      }

  /** Arrival-order mode over the weather archive shape. */
  def latestStreamArrivalOrder(archive: DataFrame): Dataset[WeatherStatus] = {
    implicit val enc = Encoders.product[WeatherStatus]
    implicit val longEnc = Encoders.scalaLong
    latestStreamArrivalBy(archive.as[WeatherStatus])(_.station_id)
  }

  /** A2-analog — persist the latest table as a "current state" parquet dir,
    * atomically replaced per refresh (the reference's compaction rewrites
    * segments to exactly this effect: one live row per key,
    * ref: BitCask.java:182-254). Call from foreachBatch in streaming or
    * directly in batch.
    */
  def persistSnapshot(latestTable: DataFrame, path: String): Unit =
    latestTable.write.mode("overwrite").parquet(path)
}
