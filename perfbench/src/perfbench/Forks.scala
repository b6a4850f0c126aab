package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.WeatherPipeline

/** The three WeatherPipeline forks over one watched directory of wire
  * files: `latest` (memory table), `lake` (partitioned parquet) and
  * `alerts` (memory table).
  */
final class Forks(spark: SparkSession, inputDir: String, lakeDir: String,
    checkpointDir: String, tag: String) {
  val latestTable = s"pb_latest_$tag"
  val alertsTable = s"pb_alerts_$tag"

  private val archive: DataFrame = WeatherPipeline.normalize(
    spark.readStream.schema("value STRING").text(inputDir))

  val latest: StreamingQuery = WeatherPipeline.startLatest(archive, latestTable)
  val lake: StreamingQuery =
    WeatherPipeline.startArchive(archive, lakeDir, checkpointDir)
  val alerts: StreamingQuery = WeatherPipeline.startAlerts(archive, alertsTable)

  val named: Seq[(String, StreamingQuery)] =
    Seq("latest" -> latest, "lake" -> lake, "alerts" -> alerts)

  def id(fork: String): String = named.find(_._1 == fork).get._2.id.toString

  /** Block until every fork has committed `rows` input rows. */
  def awaitRows(progress: ForkProgress, rows: Long, timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (named.exists { case (_, q) => progress.committedRows(q.id.toString) < rows }) {
      named.foreach { case (f, q) =>
        q.exception.foreach(e => throw new RuntimeException(s"fork $f failed", e))
      }
      if (System.currentTimeMillis() > deadline)
        throw new RuntimeException(s"forks did not reach $rows input rows: " +
          named.map { case (f, q) => s"$f=${progress.committedRows(q.id.toString)}" }
            .mkString(", "))
      Thread.sleep(10)
    }
  }

  def stop(): Unit = named.foreach(_._2.stop())

  /** The served latest table (WeatherPipeline.latestSnapshot). */
  def snapshot: DataFrame = WeatherPipeline.latestSnapshot(spark, latestTable)
}

object Forks {
  /** Freshness of each dropped file on one fork, in ms: created → end of
    * the first committed batch whose cumulative input rows cover the file.
    */
  def freshness(progress: ForkProgress, queryId: String,
      files: Seq[Dropped]): Seq[Double] =
    files.map { d =>
      progress.visibleAt(queryId, d.cumulative)
        .map(v => (v - d.createdMs).toDouble)
        .getOrElse(throw new IllegalStateException(
          s"file ${d.index} never became visible on $queryId"))
    }

  /** Per-layer figures of the three forks from their progress events. */
  def reportLayers(r: Report, progress: ForkProgress, forks: Forks): Unit =
    if (r.trace) forks.named.foreach { case (f, q) =>
      val bs = progress.of(q.id.toString).filter(_.rows > 0)
      def p50(k: String) = Stats.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
      r.layerMetric(s"streaming.$f.batches", bs.size.toDouble, "count")
      r.layerMetric(s"streaming.$f.batch_ms_p50", p50("triggerExecution"), "ms")
      r.layerMetric(s"streaming.$f.add_batch_ms_p50", p50("addBatch"), "ms")
      r.layerMetric(s"streaming.$f.plan_ms_p50", p50("queryPlanning"), "ms")
      r.layerMetric(s"streaming.$f.offsets_ms_p50", p50("commitOffsets"), "ms")
      r.layerMetric(s"streaming.$f.wal_ms_p50", p50("walCommit"), "ms")
      if (f == "latest") {
        r.layerMetric("streaming.latest.state_commit_ms_p50",
          Stats.median(bs.map(_.stateCommitMs.toDouble)), "ms")
        r.layerMetric("streaming.latest.state_rows",
          bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0), "count")
        r.layerMetric("streaming.latest.state_bytes",
          bs.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes")
      }
    }

  def recordSpans(spans: Spans, progress: ForkProgress, forks: Forks): Unit =
    forks.named.foreach { case (f, q) =>
      progress.of(q.id.toString).filter(_.rows > 0).foreach(b =>
        spans.record(s"streaming.$f.batch", b.startMs, b.endMs, b.batchId))
    }
}
