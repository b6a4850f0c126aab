package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/** `--smoke`: each check must accept the program's real output and reject a
  * deliberately wrong one. A few readings go through the real forks and
  * the real HttpShim; the lake check then sees the lake with one row
  * dropped, the serving check sees a stale point response. The gate half
  * (one changed row) is done by smoke.py on the gate result written here.
  */
final class Smoke(a: Args) extends Workload {
  def setUp(spark: SparkSession): Unit = ()

  /** Run `f` against a scratch report; true when all its checks pass. */
  private def passes(f: Report => Unit): Boolean = {
    val scratch = new Report(false)
    f(scratch)
    scratch.allChecksPass
  }

  def run(spark: SparkSession, r: Report, ctx: RunContext): Unit = {
    val base = s"${a.work}/smoke"
    val fleet = 6
    val gen = new WireGen(a.seed, fleet, 0.0)
    val dropper = new Dropper(Paths.get(s"$base/in"))
    val old = (1 to fleet).map(s => gen.reading(s, gen.baseMs, clean = true))
    dropper.drop(old)
    (1 to 4).foreach(k => dropper.drop(gen.slot(4 + k)))
    val fresh = gen.reading(1, gen.baseMs + 5000L, clean = true)
    dropper.drop(Seq(fresh))
    val forks = new Forks(spark, s"$base/in", s"$base/lake", s"$base/ck", "smoke")
    try {
      forks.awaitRows(ctx.progress, dropper.totalLines, 90000)
      val readings = dropper.dropped.flatMap(_.readings).toSeq
      val lake = Model.lakeRows(spark, s"$base/lake")
      r.check("smoke.lake_accepts_real_output",
        passes(Model.checkLake(_, "lake", lake, readings)))
      r.check("smoke.lake_rejects_dropped_row",
        !passes(Model.checkLake(_, "lake", lake.tail, readings)))
      r.check("smoke.lake_rejects_wrong_directory",
        !passes(Model.checkLake(_, "lake",
          lake.updated(0, lake.head._1 -> "date=1970-01-01/hour=0/station_id=0"),
          readings)))
      val latest = Model.latestRows(forks.snapshot)
      r.check("smoke.latest_accepts_real_output",
        passes(Model.checkLatest(_, "latest", latest, readings)))
      r.check("smoke.latest_rejects_stale_row",
        !passes(Model.checkLatest(_, "latest",
          latest.filterNot(_._1 == 1L) :+ Model.row(old.head), readings)))

      val api = new graft.serve.QueryApi(spark, forks.snapshot, "pb_smoke")
      val shim = new graft.serve.HttpShim(api)
      val port = shim.start()
      try {
        val send = System.currentTimeMillis()
        val (code, body) = Serve.get(port, "/station?id=1")
        val real = Response(0, 'p', 1L, send, 0.0, code, body)
        val stale = real.copy(body = ServedRow.render(old.head))
        val latestId = forks.id("latest")
        def ok(resps: Seq[Response]) = Serve.problems(ctx.progress, latestId,
          dropper.dropped.toSeq, resps, fleet).isEmpty
        r.check("smoke.serve_accepts_real_response", ok(Seq(real)),
          s"real response rejected: $code $body")
        r.check("smoke.serve_rejects_stale_point", !ok(Seq(stale)))
        r.check("smoke.serve_rejects_404_for_known_id",
          !ok(Seq(real.copy(code = 404, body = ""))))
      } finally shim.stop()
    } finally forks.stop()

    // the gate half: q1 over the smoke tables, checked by smoke.py
    val gates = new Gates(a.copy(seconds = 0))
    gates.writeOne(spark, "q1_pricing_summary")
  }
}
