package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.serve.{HttpShim, QueryApi}

/** `serve`: reads beside writes. The three forks take a steady trickle of
  * readings while closed-loop HTTP clients run against HttpShim over
  * QueryApi(latestSnapshot). Each client repeats the round of the
  * reference's load test (`graft.ServeBench`): one full `/stations` scan,
  * then [[Serve.PointsPerRound]] point gets over the station ids in turn,
  * plus one unknown id, for which 404 is the right answer.
  */
final class Serve(a: Args) extends Workload {
  import Serve._

  def setUp(spark: SparkSession): Unit = Warm.pipeline(spark, a.work, http = true)

  def run(spark: SparkSession, r: Report, ctx: RunContext): Unit = {
    val base = s"${a.work}/serve"
    val gen = new WireGen(a.seed, Fleet, 0.0)
    val dropper = new Dropper(Paths.get(s"$base/in"))
    // preload: one valid reading per station, so every known id is served
    (1 to Fleet).grouped(Fleet / 4).foreach(ss =>
      dropper.drop(ss.map(s => gen.reading(s, gen.baseMs, clean = true))))
    val forks = new Forks(spark, s"$base/in", s"$base/lake", s"$base/ck", "serve")
    try {
      forks.awaitRows(ctx.progress, dropper.totalLines, 90000)
      Phase.log("serve preloaded")
      val api = new QueryApi(spark, forks.snapshot, "pb_serve")
      val shim = new HttpShim(api)
      val port = shim.start()
      try measure(spark, r, ctx, gen, dropper, forks, api, port)
      finally shim.stop()
    } finally forks.stop()
    if (r.trace) new Gates(a).probe(spark, r, ctx)
  }

  private def measure(spark: SparkSession, r: Report, ctx: RunContext,
      gen: WireGen, dropper: Dropper, forks: Forks, api: QueryApi,
      port: Int): Unit = {
    val tally0 = ctx.tally.map(_.snapshot())
    val cpu0 = Stats.processCpuSeconds()
    val t0 = System.currentTimeMillis()
    val deadline = t0 + a.seconds * 1000L
    val preloadFiles = dropper.dropped.size
    val trickle = new Thread(() => {
      val schedule = new Schedule(a.seed, t0)
      var i = 0
      while (schedule.dueMs(i) < deadline) {
        schedule.await(i)
        ctx.spans("serve.trickle.drop")(dropper.drop(gen.some(TricklePerSlot,
          gen.baseMs + 1000L + 250L * i, () => 1L + gen.nextInt(Fleet))))
        i += 1
      }
    }, "pb-trickle")
    trickle.start()

    val requests = new java.util.concurrent.atomic.AtomicLong
    val clients = (0 until Clients).map { c =>
      val out = scala.collection.mutable.ArrayBuffer[Response]()
      val th = new Thread(() => {
        var k = 0
        // whole rounds only: a round that starts before the deadline ends
        while (System.currentTimeMillis() < deadline) {
          round(a.seed, c, k).foreach { case (kind, station, path) =>
            val id = requests.incrementAndGet()
            val send = System.currentTimeMillis()
            val t = System.nanoTime()
            val (code, body) = ctx.spans(s"serve.http.$kind", id)(get(port, path))
            out += Response(c, kind, station, send, (System.nanoTime() - t) / 1e6, code, body)
          }
          k += 1
        }
      }, s"pb-client-$c")
      th.start()
      (th, out)
    }
    clients.foreach(_._1.join())
    val elapsed = (System.currentTimeMillis() - t0) / 1000.0
    val cpu = Stats.processCpuSeconds() - cpu0
    trickle.join()
    Phase.log("serve clients done")
    forks.awaitRows(ctx.progress, dropper.totalLines, 90000)
    Phase.log("serve caught up")
    val tally = ctx.tally.map(_.snapshot())
    r.metric("heap_mb", Stats.liveHeapMb(), "MB")

    // an operation is one HTTP request
    val resps = clients.flatMap(_._2)
    r.attempted = resps.size
    r.failed = resps.count(x => x.code < 0).toLong
    r.metric("ops_per_s", resps.size / elapsed, "1/s")
    r.metric("cpu_ms_per_op", cpu * 1000.0 / resps.size, "ms")

    val problems = Serve.problems(ctx.progress, forks.id("latest"),
      dropper.dropped.toSeq, resps, Fleet)
    r.check("serve.responses", problems.isEmpty,
      s"${problems.size} bad responses, e.g. ${problems.take(3).mkString("; ")}")
    val readings = dropper.dropped.flatMap(_.readings).toSeq
    Model.checkLatest(r, "serve.latest", Model.latestRows(forks.snapshot), readings)
    Phase.log("serve checked")

    if (r.trace) {
      tally.zip(tally0).foreach { case (b, a0) => (b - a0).report(r) }
      Layers.streaming(r, ctx, forks, dropper.dropped.drop(preloadFiles).toSeq)
      Layers.lake(spark, r, ctx, forks, s"${a.work}/serve/lake",
        readings.filter(_.valid).last)
      Layers.core(spark, r, ctx, dropper.dropped.toSeq, s"${a.work}/serve/in")
      Layers.serve(r, ctx, api, port, Seq.fill(30)(1L + gen.nextInt(Fleet)))
    }
  }
}

/** One HTTP exchange: kind 'p' point get, 'u' unknown id, 's' scan. */
final case class Response(client: Int, kind: Char, station: Long,
    sendMs: Long, latencyMs: Double, code: Int, body: String)

object Serve {
  val Fleet = 250
  val Clients: Int = math.max(1,
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt - 1)
  val TricklePerSlot = 5
  /** Point gets per scan in a client's round, as in the reference's load
    * test (`graft.ServeBench`, `SPARK_GRAFT_SERVE_POINTS`).
    */
  val PointsPerRound = 8

  /** Client `c`'s requests in round `k`, as (kind, station, path): the
    * scan, the point gets, then the unknown id. As in ServeBench, client
    * `i` asks for ids `i * 8 + j` in turn; later rounds continue the
    * sequence, so every station is asked for as often as the others.
    * Unknown ids (`fleet+1 .. 2·fleet`) are drawn from the seed.
    */
  def round(seed: Long, c: Int, k: Int): Seq[(Char, Long, String)] = {
    val first = (k * Clients + c) * PointsPerRound
    val points = (0 until PointsPerRound).map { j =>
      val s = 1L + (first + j) % Fleet
      ('p', s, s"/station?id=$s")
    }
    val rng = new java.util.SplittableRandom(seed * 1000003L + first)
    val unknown = Fleet + 1L + rng.nextInt(Fleet)
    (('s', 0L, "/stations") +: points) :+ (('u', unknown, s"/station?id=$unknown"))
  }

  /** Every response against the generated readings: 200s match a reading;
    * a point get is no older than the newest reading whose `latest` batch
    * committed before the request was sent; unknown ids get 404; a scan
    * has exactly one row per station. Returns the problems found.
    */
  def problems(progress: ForkProgress, latestId: String, dropped: Seq[Dropped],
      resps: Seq[Response], fleet: Int): Seq[String] = {
    val byKey = Ordering[(Long, Long)]
    val valid = scala.collection.mutable.Map[(Long, Long), Reading]()
    // per station: (visible at, newest key visible by then), in time order
    val visible = scala.collection.mutable.Map[Long, Vector[(Long, (Long, Long))]]()
    dropped.foreach { d =>
      val at = progress.visibleAt(latestId, d.cumulative).getOrElse(Long.MaxValue)
      d.readings.filter(_.valid).foreach { x =>
        valid((x.station, x.sNo)) = x
        val prev = visible.getOrElse(x.station, Vector.empty)
        val best = prev.lastOption.map(_._2).filter(byKey.gt(_, x.key))
          .getOrElse(x.key)
        visible(x.station) = prev :+ (at -> best)
      }
    }
    def required(station: Long, sendMs: Long): Option[(Long, (Long, Long))] =
      visible.getOrElse(station, Vector.empty).takeWhile(_._1 < sendMs)
        .lastOption
    def rowProblem(x: ServedRow, sendMs: Long): Option[String] =
      valid.get((x.station, x.sNo)) match {
        case None => Some(s"no valid reading ${x.station}/${x.sNo}")
        case Some(g) if !x.matches(g) => Some(s"$x does not match $g")
        case Some(g) => required(x.station, sendMs).filter(v => byKey.lt(g.key, v._2))
          .map { case (at, k) => s"stale: station ${x.station} served ${g.key} " +
            s"to a request sent at $sendMs; $k was visible from $at" }
      }
    resps.flatMap { q =>
      (q.kind, q.code) match {
        case ('u', 404) => None
        case ('u', c) => Some(s"unknown id ${q.station} got $c")
        case ('p', 200) => ServedRow.parse(q.body) match {
          case Seq(x) if x.station == q.station => rowProblem(x, q.sendMs)
          case other => Some(s"point ${q.station} returned $other")
        }
        case ('s', 200) =>
          val rows = ServedRow.parse(q.body)
          if (rows.size != fleet || rows.map(_.station).distinct.size != fleet)
            Some(s"scan returned ${rows.size} rows, " +
              s"${rows.map(_.station).distinct.size} stations")
          // rows are checked against the readings, not for freshness: the
          // scan path serves the table as of its first request (CHANGES.md)
          else rows.flatMap(rowProblem(_, 0L)).headOption
        case (k, c) => Some(s"$k request for ${q.station} got $c")
      }
    }
  }

  /** GET on the shim; (-1, message) when the request itself failed. */
  def get(port: Int, path: String): (Int, String) =
    try {
      val c = new URL(s"http://localhost:$port$path").openConnection()
        .asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(10000)
      c.setReadTimeout(20000)
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      (code, body)
    } catch { case e: java.io.IOException => (-1, e.toString) }
}

/** One station row as HttpShim renders it. */
final case class ServedRow(station: Long, sNo: Long, battery: String,
    ts: String, humidity: Int, temperature: Int, wind: Int) {
  def matches(g: Reading): Boolean =
    battery == g.battery.toLowerCase && ts == new java.sql.Timestamp(g.tsMs).toString &&
      humidity == g.humidity && temperature == g.temperature && wind == g.wind
}

object ServedRow {
  private val Obj = ("""\{"station_id":(-?\d+),"s_no":(-?\d+),"battery_status":"([^"]*)",""" +
    """"status_timestamp":"([^"]*)","weather":\{"humidity":(-?\d+),""" +
    """"temperature":(-?\d+),"wind_speed":(-?\d+)\}\}""").r

  /** A reading as HttpShim would render it. */
  def render(g: Reading): String =
    s"""{"station_id":${g.station},"s_no":${g.sNo},"battery_status":""" +
      s""""${g.battery.toLowerCase}","status_timestamp":""" +
      s""""${new java.sql.Timestamp(g.tsMs)}","weather":{"humidity":${g.humidity},""" +
      s""""temperature":${g.temperature},"wind_speed":${g.wind}}}"""

  def parse(body: String): Seq[ServedRow] =
    Obj.findAllMatchIn(body).map(m => ServedRow(m.group(1).toLong,
      m.group(2).toLong, m.group(3), m.group(4), m.group(5).toInt,
      m.group(6).toInt, m.group(7).toInt)).toSeq
}
