package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.util.{Json, Scratch}

/** The gate harness on the command line ([[usage]]): one main whose verbs
  * run registered [[SparkEntry]] gates under
  * [[GraftSession.harnessSession]], so every verb audits exactly the
  * session Bench times.
  *
  *  - `verify` writes `<outDir>/oracle_sql.json` (every gate's DuckDB
  *    oracle), then one parquet directory per named gate, or per gate
  *    when no names are given. `tools/check.py <outDir> <sfDir>` checks
  *    a full or a targeted dump alike.
  *  - `plan` writes the `explain("formatted")` plan of each named gate
  *    (all when none are named) to `<outDir>/<name><suffix>.txt`, or to
  *    stdout when the first argument after `sfDir` is a gate name or
  *    absent. Planning only: no gate is executed, though a builder that
  *    stages fixtures still pays that staging.
  *  - `probe` times each named gate's `count()` after a warm run, as
  *    Bench does, then audits it ([[audit]]) and prints the wall time,
  *    rows, the shuffle bytes and records its stages wrote, and one line
  *    per streaming micro-batch the audited run drained.
  *
  * Gate names are checked before any session starts ([[parse]]); an
  * unknown name, a missing argument or a failed gate exits with code 1.
  * [[graft.Verify]] keeps the older entry point to `verify`.
  */
object Tool {

  sealed trait Command { def names: Seq[String] }
  final case class Verify(sfDir: String, outDir: String,
      names: Seq[String]) extends Command
  final case class Plan(sfDir: String, out: Option[(String, String)],
      names: Seq[String]) extends Command
  final case class Probe(sfDir: String, names: Seq[String]) extends Command

  private val usage: String =
    """usage: sbt "runMain graft.Tool verify <sfDir> <outDir> [name...]"
      |       sbt "runMain graft.Tool plan <sfDir> [<outDir> <suffix>] [name...]"
      |       sbt "runMain graft.Tool probe <sfDir> name..."""".stripMargin

  /** The command `args` name, or the message to exit with. Pure: it reads
    * only the gate registry, so a typo fails here, before a session exists.
    */
  def parse(args: Seq[String]): Either[String, Command] = {
    val known = SparkEntry.queries.keySet
    val cmd: Either[String, Command] = args match {
      case Seq("verify", sf, out, names @ _*) => Right(Verify(sf, out, names))
      case Seq("plan", sf, out, suffix, names @ _*) if !known(out) =>
        Right(Plan(sf, Some((out, suffix)), names))
      case Seq("plan", _, out) if !known(out) =>
        Left(s"plan: '$out' is not a gate, and an <outDir> needs a <suffix>")
      case Seq("plan", sf, names @ _*) => Right(Plan(sf, None, names))
      case Seq("probe", sf, name, more @ _*) => Right(Probe(sf, name +: more))
      case _ => Left(usage)
    }
    cmd.flatMap { c =>
      val unknown = c.names.filterNot(known)
      if (unknown.isEmpty) Right(c)
      else Left(s"unknown gates: ${unknown.mkString(", ")}; known: " +
        known.toSeq.sorted.mkString(", "))
    }
  }

  def main(args: Array[String]): Unit =
    // a scripted step must see a partial dump or audit as a failure
    if (execute(args.toSeq) > 0) sys.exit(1)

  /** Run the command `args` name under one harness session and return the
    * number of gates that failed; bad arguments exit 1 before any session.
    */
  private[graft] def execute(args: Seq[String]): Int = parse(args) match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(1)
    case Right(cmd) =>
      val spark = GraftSession.harnessSession()
      spark.sparkContext.setLogLevel("ERROR")
      try run(spark, cmd) finally spark.stop()
  }

  /** Run `cmd` on `spark`; returns the number of gates that failed. */
  private[graft] def run(spark: SparkSession, cmd: Command): Int = {
    val names =
      if (cmd.names.nonEmpty) cmd.names
      else SparkEntry.queries.keys.toSeq.sorted
    // each gate's failure goes to stderr and the run goes on, so the
    // gates that did succeed still leave their outputs behind
    def each(verb: String)(f: String => Unit): Int = names.count { name =>
      try { f(name); false }
      catch { case e: Throwable =>
        System.err.println(s"[$verb] $name failed: ${e.getMessage}")
        true
      }
    }
    cmd match {
      case Verify(sfDir, outDir, _) =>
        // the oracle map goes first: if the process is killed mid-run, the
        // gates that did dump are still comparable. Escaping via util.Json
        // (see its doc for why this must be exact)
        Files.writeString(Files.createDirectories(Paths.get(outDir))
          .resolve("oracle_sql.json"), SparkEntry.oracleSql
          .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
          .mkString("{", ",", "}"))
        each("verify") { name =>
          // clear any stale dump first: if this attempt fails before the
          // overwrite executes, a reused outDir must not let the compare
          // score a previous run's parquet as this run's result
          Scratch.deleteTree(Paths.get(outDir, name))
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write
            .mode("overwrite").parquet(s"$outDir/$name")
        }
      case Plan(sfDir, out, _) =>
        each("plan") { name =>
          // explainString is explain("formatted") without the console
          // print, so a plan file is exactly the formatted artifact
          val txt = SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(FormattedMode)
          out match {
            case Some((dir, suffix)) => Files.writeString(Files
              .createDirectories(Paths.get(dir)).resolve(s"$name$suffix.txt"), txt)
            case None => println(s"== $name ==\n$txt")
          }
        }
      case Probe(sfDir, _) =>
        each("probe") { name =>
          // wall_s times the action Bench times, a listener-free count(),
          // so it predicts the gate's Bench seconds; the audit run after
          // it gives the shuffle and drain figures
          SparkEntry.queries(name)(spark, sfDir).count() // warm
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          val wallS = (System.nanoTime() - t0) / 1e9
          val (rows, bytes, records) =
            audit(spark, sfDir, name, Some(DrainLines))
          val per = if (records > 0) f"${bytes.toDouble / records}%.1f" else "-"
          println(f"$name: wall_s=$wallS%.2f rows=$rows " +
            s"shuffle_bytes=$bytes shuffle_records=$records " +
            s"bytes_per_record=$per")
        }
    }
  }

  /** One warm run, then one measured run with a stage tally (and
    * `progress`, if given) attached; returns the measured run's
    * (result rows, shuffle bytes written, shuffle records written).
    *
    * Two measurement traps are handled explicitly. The run executes via
    * `queryExecution.toRdd` — a `count()` on top would let Catalyst prune
    * columns through the final aggregate and understate the bytes the
    * gate's real output shuffles. And the listener bus is drained (a true
    * barrier, not a sleep-poll) both before attaching — so the warm run's
    * still-queued events cannot leak into the tally — and after the
    * measured run, so every event has arrived before reading it.
    */
  def audit(spark: SparkSession, dir: String, name: String,
      progress: Option[StreamingQueryListener] = None): (Long, Long, Long) = {
    val sc = spark.sparkContext
    SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count() // warm
    GraftListenerBridge.drain(sc)
    // shuffle writes keyed by stage, keeping the LATEST attempt: a retried
    // stage completes once per attempt, and summing both would
    // double-count its shuffle writes
    val byStage = new ConcurrentHashMap[Int, (Int, Long, Long)]()
    val tally = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(e.stageInfo.taskMetrics).foreach { m =>
          byStage.merge(e.stageInfo.stageId, (e.stageInfo.attemptNumber,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten),
            (old, nw) => if (nw._1 >= old._1) nw else old)
        }
    }
    sc.addSparkListener(tally)
    progress.foreach(spark.streams.addListener)
    try {
      val rows =
        SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      GraftListenerBridge.drain(sc)
      val stages = byStage.values.asScala
      (rows, stages.map(_._2).sum, stages.map(_._3).sum)
    } finally {
      progress.foreach(spark.streams.removeListener)
      sc.removeSparkListener(tally)
    }
  }

  /** Prints each streaming micro-batch's `durationMs` breakdown, each
    * stateful operator's commit time and any commit-latency custom
    * metrics (RocksDB): the per-component split of a drain that the
    * gate's wall time alone cannot give.
    */
  private object DrainLines extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      println(s"[probe] query started: ${e.name}")
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).fold(-1L)(_.longValue)
      println(s"[probe] batch=${p.batchId} rows=${p.numInputRows} " +
        s"trigger=${d("triggerExecution")} addBatch=${d("addBatch")} " +
        s"getBatch=${d("getBatch")} latestOffset=${d("latestOffset")} " +
        s"plan=${d("queryPlanning")} wal=${d("walCommit")} " +
        s"commitOffsets=${d("commitOffsets")}")
      p.stateOperators.foreach { so =>
        println(s"[probe]   state op=${so.operatorName} " +
          s"rowsTotal=${so.numRowsTotal} updated=${so.numRowsUpdated} " +
          s"commitMs=${so.commitTimeMs} updatesMs=${so.allUpdatesTimeMs} " +
          s"removalsMs=${so.allRemovalsTimeMs} memBytes=${so.memoryUsedBytes}")
        val commits = so.customMetrics.asScala.toSeq.sortBy(_._1).filter {
          case (k, _) => Seq("commit", "flush", "checkpoint", "snapshot",
            "filesync").exists(k.toLowerCase.contains)
        }
        if (commits.nonEmpty) println("[probe]     " +
          commits.map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
