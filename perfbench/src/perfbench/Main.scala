package perfbench

import org.apache.spark.sql.SparkSession

/** Progress lines in the JVM log: what finished, seconds since launch. */
object Phase {
  @volatile var t0Ms: Long = System.currentTimeMillis()
  def log(what: String): Unit = System.err.println(
    f"[perfbench] $what at ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1f s")
}

/** Command line of the benchmark JVM, as `run.py` passes it. */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: String, t0Ms: Long, dataDir: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", m("work"),
      m.getOrElse("t0-ms", System.currentTimeMillis().toString).toLong,
      m.getOrElse("data", ""))
  }
}

/** What a workload's measured region may use besides the session. */
final class RunContext(val tally: Option[EngineTally], val spans: Spans,
    val progress: ForkProgress)

/** One benchmark workload: `setUp` is the warm-up (and prestage) that
  * `setup_s` times, together with building the session; `run` is the
  * measured region plus its checks.
  */
trait Workload {
  def setUp(spark: SparkSession): Unit
  def run(spark: SparkSession, r: Report, ctx: RunContext): Unit
}

/** Entry point of the benchmark JVM. Sets up a session and runs the
  * workload. `setup_s` is the one set-up of the run, timed from building
  * the session to the end of the workload's `setUp`, on every workload;
  * the JVM launch before it is reported apart, as `setup.jvm_s`. The
  * report is written to `<work>/result.json`.
  */
object Main {
  def session(): SparkSession = {
    val spark = graft.GraftSession.harnessSession()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val r = new Report(a.trace)
    val wl: Workload = a.workload match {
      case "ingest" => new Ingest(a)
      case "serve" => new Serve(a)
      case "gates" => new Gates(a)
      case "train" => new Train(a)
      case "smoke" => new Smoke(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Phase.t0Ms = a.t0Ms
    import Phase.log
    val jvmS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val t0 = System.nanoTime()
    val spark = session()
    log("session")
    wl.setUp(spark)
    r.metric("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    r.layerMetric("setup.jvm_s", jvmS, "s")
    log("set-up")

    val progress = new ForkProgress
    spark.streams.addListener(progress)
    val tally = if (a.trace) Some(EngineTally.attach(spark.sparkContext)) else None
    val spans = new Spans(a.trace)
    val ctx = new RunContext(tally, spans, progress)
    try wl.run(spark, r, ctx)
    finally {
      log("run")
      spans.writeTo(java.nio.file.Paths.get(s"${a.work}/spans.jsonl"))
      stop(spark)
      log("stop")
    }

    java.nio.file.Files.write(java.nio.file.Paths.get(s"${a.work}/result.json"),
      r.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** The build's class-loading run: the set-up of every workload in one
  * JVM, so the class-data-sharing archive `run.py` dumps at its exit
  * covers the classes their set-ups load.
  */
final class Train(a: Args) extends Workload {
  def setUp(spark: SparkSession): Unit = {
    Warm.pipeline(spark, a.work, http = true)
    new Gates(a).setUp(spark)
  }
  def run(spark: SparkSession, r: Report, ctx: RunContext): Unit =
    r.check("train.set_up", ok = true)
}
