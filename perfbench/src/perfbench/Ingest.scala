package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** `ingest`: the write path with no readers, in two phases.
  *
  * Catch-up: a staged backlog (an outage of [[BacklogSeconds]] for the
  * whole fleet) is drained through the three forks, as after a restart.
  * Live: an open-loop producer drops a file in every 250 ms slot (see
  * [[Schedule]]), a quarter of the fleet each, so every station reports
  * once a second; each file's creation time is stamped and its freshness
  * read off the forks' progress events.
  */
final class Ingest(a: Args) extends Workload {
  import Ingest._

  def setUp(spark: SparkSession): Unit = Warm.pipeline(spark, a.work)

  def run(spark: SparkSession, r: Report, ctx: RunContext): Unit = {
    val base = s"${a.work}/ingest"
    val gen = new WireGen(a.seed, Fleet, LateShare)
    val dropper = new Dropper(Paths.get(s"$base/in"))
    // the backlog: an outage's readings, collected into one file per
    // BacklogFileSeconds
    val backlogSlots = 4 * BacklogSeconds
    (0 until backlogSlots).grouped(4 * BacklogFileSeconds).foreach(ks =>
      dropper.drop(ks.flatMap(gen.slot)))
    val backlogFiles = dropper.dropped.size
    val backlog = dropper.totalLines

    val tally0 = ctx.tally.map(_.snapshot())
    val cpu0 = Stats.processCpuSeconds()
    val t0 = System.currentTimeMillis()
    val forks = ctx.spans("ingest.start_forks")(
      new Forks(spark, s"$base/in", s"$base/lake", s"$base/ck", "ingest"))
    try {
      ctx.spans("ingest.catch_up")(forks.awaitRows(ctx.progress, backlog, 90000))
      val caughtUp = forks.named.map { case (_, q) =>
        ctx.progress.visibleAt(q.id.toString, backlog).get }.max
      // an operation is one wire line; the catch-up drain's rate
      r.metric("ops_per_s", backlog / ((caughtUp - t0) / 1000.0), "1/s")
      Phase.log("ingest caught up")

      ctx.spans("ingest.live") {
        val schedule = new Schedule(a.seed, System.currentTimeMillis() + 100)
        (0 until 4 * a.seconds).foreach { i =>
          schedule.await(i)
          ctx.spans("ingest.drop")(dropper.drop(gen.slot(backlogSlots + i)))
        }
        forks.awaitRows(ctx.progress, dropper.totalLines, 90000)
      }
      Phase.log("ingest live done")
      r.metric("cpu_ms_per_op",
        (Stats.processCpuSeconds() - cpu0) * 1000.0 / dropper.totalLines, "ms")
      r.metric("heap_mb", Stats.liveHeapMb(), "MB")
      val tally = ctx.tally.map(_.snapshot())
      r.attempted = dropper.totalLines

      // checks against the reference model
      val readings = dropper.dropped.flatMap(_.readings).toSeq
      val latestRows = Model.latestRows(forks.snapshot)
      val lakeRows = Model.lakeRows(spark, s"$base/lake")
      val alertRows = Model.alertRows(spark, forks.alertsTable)
      Model.checkLatest(r, "ingest.latest", latestRows, readings)
      Model.checkLake(r, "ingest.lake", lakeRows, readings)
      Model.checkAlerts(r, "ingest.alerts", alertRows, readings)
      Model.checkRejected(r, "ingest.rejected_absent",
        latestRows.map(x => (x._1, x._2)) ++ lakeRows.map(x => (x._1._1, x._1._2)),
        readings)
      Phase.log("ingest checked")

      if (r.trace) {
        tally.zip(tally0).foreach { case (b, a0) => (b - a0).report(r) }
        Layers.streaming(r, ctx, forks, dropper.dropped.drop(backlogFiles).toSeq)
        Layers.lake(spark, r, ctx, forks, s"$base/lake", readings.filter(_.valid).last)
        Layers.core(spark, r, ctx, dropper.dropped.take(backlogFiles).toSeq, s"$base/in")
        Layers.serveProbe(spark, r, ctx, forks,
          Seq.tabulate(10)(i => 1L + i * Fleet / 10))
      }
    } finally forks.stop()
    if (r.trace) new Gates(a).probe(spark, r, ctx)
  }
}

object Ingest {
  val Fleet = 50
  val BacklogSeconds = 120
  val BacklogFileSeconds = 10
  val LateShare = 0.05
}

/** Warm-up shared by the ingest and serve set-ups: a few small files
  * through all three forks and one read of the served latest table,
  * through HttpShim when `http`.
  */
object Warm {
  def pipeline(spark: SparkSession, work: String, http: Boolean = false): Unit = {
    val dir = Files.createTempDirectory(Files.createDirectories(
      Paths.get(work, "warm")), "w")
    val gen = new WireGen(0, 40, 0.05)
    val dropper = new Dropper(dir.resolve("in"))
    (0 until 8).foreach(k => dropper.drop(gen.slot(k)))
    val progress = new ForkProgress
    spark.streams.addListener(progress)
    val forks = new Forks(spark, s"$dir/in", s"$dir/lake", s"$dir/ck", "warm")
    try {
      forks.awaitRows(progress, dropper.totalLines, 90000)
      if (!http) forks.snapshot.collect()
      else {
        val shim = new graft.serve.HttpShim(
          new graft.serve.QueryApi(spark, forks.snapshot, "pb_warm"))
        val port = shim.start()
        try Seq("/stations", "/station?id=1", "/station?id=0").foreach(p =>
          require(Serve.get(port, p)._1 > 0, s"warm-up GET $p failed"))
        finally shim.stop()
      }
    } finally {
      forks.stop()
      spark.streams.removeListener(progress)
    }
  }
}
