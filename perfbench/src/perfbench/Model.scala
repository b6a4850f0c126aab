package perfbench

import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

/** The reference model: what the three forks must hold for a set of
  * generated readings, computed in plain Scala from the readings alone.
  */
object Model {
  /** The alert text of the reference's Rain-Detector, humidity > 70. */
  val AlertPrefix = "Raining alert! High humidity detected: "
  val AlertAbove = 70

  type Row7 = (Long, Long, String, Long, Int, Int, Int)

  def row(r: Reading): Row7 = (r.station, r.sNo, r.battery.toLowerCase,
    r.tsMs, r.humidity, r.temperature, r.wind)

  /** The archive row of a latest/lake output row, timestamps as epoch ms. */
  def outRow(x: Row): Row7 = {
    val w = x.getAs[Row]("weather")
    (x.getAs[Any]("station_id").toString.toLong, x.getAs[Long]("s_no"),
      x.getAs[String]("battery_status"),
      x.getAs[java.sql.Timestamp]("status_timestamp").getTime,
      w.getAs[Int]("humidity"), w.getAs[Int]("temperature"),
      w.getAs[Int]("wind_speed"))
  }

  /** Latest reading per station by event time (status_timestamp, s_no),
    * late readings included.
    */
  def latest(readings: Seq[Reading]): Map[Long, Reading] =
    readings.filter(_.valid).groupBy(_.station).map { case (s, rs) =>
      s -> rs.maxBy(_.key)
    }

  /** The hive directory of a reading in the lake, in UTC. */
  def lakeDir(r: Reading): String = {
    val t = Instant.ofEpochMilli(r.tsMs).atZone(ZoneOffset.UTC)
    s"date=${t.toLocalDate}/hour=${t.getHour}/station_id=${r.station}"
  }

  def alert(r: Reading): Option[(String, String)] =
    if (r.valid && r.humidity > AlertAbove)
      Some(r.station.toString -> (AlertPrefix + r.humidity))
    else None

  private def counts[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** First few differences between two multisets, for failure details. */
  private def diff[T](got: Seq[T], want: Seq[T]): String = {
    val g = counts(got); val w = counts(want)
    val missing = w.collect { case (k, n) if g.getOrElse(k, 0) < n => k }
    val extra = g.collect { case (k, n) if w.getOrElse(k, 0) < n => k }
    s"${got.size} rows vs ${want.size} expected; missing e.g. " +
      s"${missing.take(3).mkString(", ")}; unexpected e.g. ${extra.take(3).mkString(", ")}"
  }

  def checkLatest(r: Report, name: String, got: Seq[Row7],
      readings: Seq[Reading]): Boolean = {
    val want = latest(readings).values.map(row).toSeq
    r.check(name, counts(got) == counts(want), diff(got, want))
  }

  def latestRows(snapshot: DataFrame): Seq[Row7] =
    snapshot.collect().toSeq.map(outRow)

  /** Lake rows with the directory each was read from. */
  def lakeRows(spark: SparkSession, lakeDir: String): Seq[(Row7, String)] =
    graft.lake.Archive.read(spark, lakeDir)
      .withColumn("pb_file", input_file_name())
      .collect().toSeq.map { x =>
        val f = x.getAs[String]("pb_file")
        val dirOf = f.split('/').filter(_.contains("=")).mkString("/")
        outRow(x) -> dirOf
      }

  def checkLake(r: Report, name: String, got: Seq[(Row7, String)],
      readings: Seq[Reading]): Boolean = {
    val valid = readings.filter(_.valid)
    val rowsOk = r.check(s"$name.rows", counts(got.map(_._1)) ==
      counts(valid.map(row)), diff(got.map(_._1), valid.map(row)))
    val dirs = valid.map(x => row(x) -> lakeDir(x)).toMap
    val misplaced = got.filter { case (x, d) => dirs.get(x).exists(_ != d) }
    r.check(s"$name.dirs", misplaced.isEmpty,
      s"${misplaced.size} rows in the wrong directory, e.g. ${misplaced.take(2)}") &&
      rowsOk
  }

  def alertRows(spark: SparkSession, table: String): Seq[(String, String)] =
    spark.table(table).collect().toSeq.map(x =>
      x.getAs[String]("key") -> x.getAs[String]("value"))

  def checkAlerts(r: Report, name: String, got: Seq[(String, String)],
      readings: Seq[Reading]): Boolean = {
    val want = readings.flatMap(alert)
    r.check(name, counts(got) == counts(want), diff(got, want))
  }

  /** No output row carries the identity of a malformed or invalid reading
    * (the exact-multiset checks imply it; this names the failure).
    */
  def checkRejected(r: Report, name: String, outputs: Seq[(Long, Long)],
      readings: Seq[Reading]): Boolean = {
    val bad = readings.filterNot(_.valid).map(x => (x.station, x.sNo)).toSet
    val leaked = outputs.filter(bad.contains)
    r.check(name, leaked.isEmpty,
      s"${leaked.size} rejected readings reached an output, e.g. ${leaked.take(3)}")
  }
}
