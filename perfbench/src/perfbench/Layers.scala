package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.serve.{HttpShim, QueryApi}

/** Per-layer figures of a traced run. Every traced run reports every layer,
  * whichever its workload: the layers the workload loads are measured
  * under its load, the others by a small probe after its measured region
  * (a gate pass on `ingest` and `serve`, a small fleet through the forks
  * on `gates`). So every run prints the same metric names.
  */
object Layers {
  /** `streaming.*` from the forks' progress events, and the freshness of
    * the `live` files on each fork.
    */
  def streaming(r: Report, ctx: RunContext, forks: Forks,
      live: Seq[Dropped]): Unit = {
    Forks.reportLayers(r, ctx.progress, forks)
    Forks.recordSpans(ctx.spans, ctx.progress, forks)
    def fresh(fork: String) = Forks.freshness(ctx.progress, forks.id(fork), live)
    val latest = fresh("latest")
    r.layerMetric("fresh_p50_ms", Stats.median(latest), "ms")
    r.layerMetric("fresh_p90_ms", Stats.quantile(latest, 0.9), "ms")
    r.layerMetric("lake_fresh_p50_ms", Stats.median(fresh("lake")), "ms")
    r.layerMetric("alert_fresh_p50_ms", Stats.median(fresh("alerts")), "ms")
  }

  /** `lake.*`: the files the lake fork wrote, and one pruned read of the
    * partition `probe` lies in.
    */
  def lake(spark: SparkSession, r: Report, ctx: RunContext, forks: Forks,
      lakeDir: String, probe: Reading): Unit = {
    val batches = ctx.progress.of(forks.id("lake")).count(_.rows > 0)
    val files = Files.walk(Paths.get(lakeDir)).filter(p =>
      p.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata"))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    r.layerMetric("lake.files", files.length.toDouble, "count")
    r.layerMetric("lake.bytes", files.map(Files.size(_)).sum.toDouble, "bytes")
    r.layerMetric("lake.files_per_batch", files.length.toDouble / batches, "count")
    val t = java.time.Instant.ofEpochMilli(probe.tsMs).atZone(java.time.ZoneOffset.UTC)
    val reads = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      ctx.spans("lake.read_pruned")(graft.lake.Archive.read(spark, lakeDir)
        .filter(col("date") === t.toLocalDate.toString && col("hour") === t.getHour &&
          col("station_id") === probe.station).collect())
      (System.nanoTime() - t0) / 1e6
    }
    r.layerMetric("lake.read_pruned_ms", Stats.median(reads), "ms")
  }

  /** `core.*`: batch-mode cost of normalize and latest-per-station over
    * the wire files `dropped` in `inDir`.
    */
  def core(spark: SparkSession, r: Report, ctx: RunContext,
      dropped: Seq[Dropped], inDir: String): Unit = {
    val paths = dropped.map(d => f"$inDir/part-${d.index}%06d.json")
    val lines = dropped.map(_.lines).sum
    val wire = spark.read.schema("value STRING").text(paths: _*)
    def time(name: String)(f: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); ctx.spans(name)(f); (System.nanoTime() - t0) / 1e6
    })
    val norm = time("core.normalize")(graft.streaming.WeatherPipeline.normalize(wire)
      .write.format("noop").mode("overwrite").save())
    r.layerMetric("core.normalize_ms_per_krow", norm / (lines / 1000.0), "ms")
    r.layerMetric("core.latest_batch_ms", time("core.latest")(
      graft.core.LatestState.latest(graft.streaming.WeatherPipeline.normalize(wire))
        .write.format("noop").mode("overwrite").save()), "ms")
  }

  /** `serve.*`: direct QueryApi calls against the table `api` serves, and
    * the same point gets over HTTP, one after the other.
    */
  def serve(r: Report, ctx: RunContext, api: QueryApi, port: Int,
      ids: Seq[Long]): Unit = {
    def timed[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    val j0 = ctx.tally.get.snapshot().jobs
    val apiPoint = ids.map(id => timed(ctx.spans("serve.api.point")(api.point(id))))
    val j1 = ctx.tally.get.snapshot().jobs
    val apiScan = (1 to 5).map(_ => timed(ctx.spans("serve.api.scan")(api.scan().collect())))
    val j2 = ctx.tally.get.snapshot().jobs
    val http = ids.map(id => timed(Serve.get(port, s"/station?id=$id")))
    r.layerMetric("serve.api_point_ms_p50", Stats.median(apiPoint), "ms")
    r.layerMetric("serve.api_scan_ms_p50", Stats.median(apiScan), "ms")
    r.layerMetric("serve.http_point_overhead_ms",
      Stats.median(http) - Stats.median(apiPoint), "ms")
    r.layerMetric("serve.jobs_per_point", (j1 - j0).toDouble / ids.size, "count")
    r.layerMetric("serve.jobs_per_scan", (j2 - j1).toDouble / apiScan.size, "count")
  }

  /** The `serve` probe: HttpShim(QueryApi(latestSnapshot)) over `forks`,
    * asked for `ids`.
    */
  def serveProbe(spark: SparkSession, r: Report, ctx: RunContext, forks: Forks,
      ids: Seq[Long]): Unit = {
    val api = new QueryApi(spark, forks.snapshot, "pb_probe")
    val shim = new HttpShim(api)
    val port = shim.start()
    try serve(r, ctx, api, port, ids)
    finally shim.stop()
  }

  val ProbeFleet = 40
  val ProbeSlots = 8

  /** The probe of the write and read path: a backlog of [[ProbeSlots]]
    * slots of a [[ProbeFleet]]-station fleet, then as many slots dropped
    * live, through the three forks; their outputs are checked against the
    * reference model, then every layer but `gates` is reported.
    */
  def pipelineProbe(spark: SparkSession, r: Report, ctx: RunContext,
      work: String, seed: Long): Unit = {
    val base = s"$work/probe"
    val gen = new WireGen(seed, ProbeFleet, 0.05)
    val dropper = new Dropper(Paths.get(s"$base/in"))
    (0 until ProbeSlots).foreach(k => dropper.drop(gen.slot(k)))
    val backlog = dropper.dropped.size
    val forks = new Forks(spark, s"$base/in", s"$base/lake", s"$base/ck", "probe")
    try {
      forks.awaitRows(ctx.progress, dropper.totalLines, 90000)
      val schedule = new Schedule(seed, System.currentTimeMillis() + 100)
      (0 until ProbeSlots).foreach { i =>
        schedule.await(i)
        dropper.drop(gen.slot(ProbeSlots + i))
      }
      forks.awaitRows(ctx.progress, dropper.totalLines, 90000)
      val readings = dropper.dropped.flatMap(_.readings).toSeq
      Model.checkLatest(r, "probe.latest", Model.latestRows(forks.snapshot), readings)
      Model.checkLake(r, "probe.lake", Model.lakeRows(spark, s"$base/lake"), readings)
      Model.checkAlerts(r, "probe.alerts",
        Model.alertRows(spark, forks.alertsTable), readings)
      streaming(r, ctx, forks, dropper.dropped.drop(backlog).toSeq)
      lake(spark, r, ctx, forks, s"$base/lake", readings.filter(_.valid).last)
      core(spark, r, ctx, dropper.dropped.take(backlog).toSeq, s"$base/in")
      serveProbe(spark, r, ctx, forks, Seq.tabulate(10)(i => 1L + 4 * i))
    } finally forks.stop()
  }
}
