package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.util.Json

/** `gates`: repeated warm passes over a fixed gate list, ingest and serving
  * idle. The first pass warms up; the passes after it are measured. Each
  * gate is timed in three parts: the gate function (build),
  * `queryExecution.executedPlan` (plan) and the collecting action
  * (execute). Every pass's rows are checked against the first pass's, and
  * every pass must start the same number of jobs; the first pass's rows
  * are written out for the DuckDB oracle check in `gate_check.py`.
  */
final class Gates(a: Args) extends Workload {
  import Gates._

  private val dir = a.dataDir

  /** Prestage only: the first, unmeasured pass of `run` is the warm-up. */
  def setUp(spark: SparkSession): Unit = graft.SparkEntry.prestage(spark, dir)

  private final case class GateRun(build: Double, plan: Double, exec: Double,
      rows: Array[Row], schema: StructType, tally: Option[Tally])

  private def runGate(spark: SparkSession, name: String,
      tally: Option[EngineTally], spans: Spans): GateRun = {
    val fn = graft.SparkEntry.queries(name)
    val before = tally.map(_.snapshot())
    spans(s"gates.$name") {
      val t0 = System.nanoTime()
      val df = spans(s"gates.$name.build")(fn(spark, dir))
      val t1 = System.nanoTime()
      spans(s"gates.$name.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = spans(s"gates.$name.exec")(df.collect())
      val t3 = System.nanoTime()
      GateRun((t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, rows,
        df.schema,
        before.map(b => tally.get.snapshot() - b))
    }
  }

  /** One pass over the gate list, in job group `group`. */
  private final case class Pass(runs: Seq[(String, GateRun)], wall: Double,
      cpu: Double, jobs: Int, tally: Option[Tally])

  private def pass(spark: SparkSession, r: Report, ctx: RunContext,
      group: String, counted: Boolean): Pass = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val c0 = Stats.processCpuSeconds()
    val tally0 = ctx.tally.map(_.snapshot())
    val runs = try ctx.spans("gates.pass") {
      GateList.map { g =>
        if (counted) r.attempted += 1
        try g -> runGate(spark, g, ctx.tally, ctx.spans)
        catch {
          case e: Throwable =>
            if (counted) r.failed += 1
            throw new RuntimeException(s"gate $g failed", e)
        }
      }
    } finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Stats.processCpuSeconds() - c0
    val tally = tally0.map(b => ctx.tally.get.snapshot() - b)
    // jobs the pass started from this thread (streaming queries run
    // their micro-batches under their own group), once the listener
    // bus has delivered every job start posted so far
    org.apache.spark.GraftListenerBridge.drain(sc)
    Pass(runs, wall, cpu, sc.statusTracker.getJobIdsForGroup(group).length, tally)
  }

  /** `gates.*` of the traced run: per-gate medians over `passes`. */
  private def reportLayer(r: Report, passes: Seq[Pass]): Unit = {
    r.layerMetric("gates.jobs_per_pass", passes.last.jobs.toDouble, "count")
    GateList.foreach { g =>
      val runs = passes.map(_.runs.find(_._1 == g).get._2)
      r.layerMetric(s"gates.$g.build_ms", Stats.median(runs.map(_.build)), "ms")
      r.layerMetric(s"gates.$g.plan_ms", Stats.median(runs.map(_.plan)), "ms")
      r.layerMetric(s"gates.$g.exec_ms", Stats.median(runs.map(_.exec)), "ms")
      r.layerMetric(s"gates.$g.jobs",
        Stats.median(runs.flatMap(_.tally).map(_.jobs.toDouble)), "count")
      r.layerMetric(s"gates.$g.task_cpu_ms",
        Stats.median(runs.flatMap(_.tally).map(_.cpuNs / 1e6)), "ms")
    }
  }

  def run(spark: SparkSession, r: Report, ctx: RunContext): Unit = {
    val passes = scala.collection.mutable.ArrayBuffer[Pass]()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    // the first pass warms the gates' plans and code; the passes after it
    // are measured, so a run makes at least two
    do passes += pass(spark, r, ctx, s"perfbench-gates-pass-${passes.size}",
      counted = true)
    while (passes.size < 2 || System.nanoTime() < deadline)
    Phase.log(s"gates: ${passes.size} passes")

    // an operation is one gate execution
    val measured = passes.drop(1).toSeq
    r.metric("ops_per_s", GateList.size / Stats.median(measured.map(_.wall)), "1/s")
    r.metric("cpu_ms_per_op",
      Stats.median(measured.map(_.cpu)) * 1000.0 / GateList.size, "ms")
    r.metric("heap_mb", Stats.liveHeapMb(), "MB")

    r.check("gates.jobs_per_pass_repeat", passes.map(_.jobs).distinct.size == 1,
      s"job counts per pass differ: ${passes.map(_.jobs).mkString(",")}")
    // every pass returns the same rows as the first; the first pass is
    // checked against the oracles by gate_check.py
    GateList.foreach { g =>
      val first = canonical(passes.head.runs.find(_._1 == g).get._2.rows)
      val same = passes.tail.forall(p =>
        canonical(p.runs.find(_._1 == g).get._2.rows) == first)
      r.check(s"gates.$g.repeatable", same,
        s"$g returned different rows across ${passes.size} passes")
    }
    writeResults(spark, passes.head.runs)

    if (r.trace) {
      val tallies = measured.flatMap(_.tally)
      tallies.reduce(_ + _).report(r, tallies.size.toDouble)
      reportLayer(r, measured)
      Layers.pipelineProbe(spark, r, ctx, a.work, a.seed)
    }
  }

  /** The `gates` probe of the other workloads' traced runs: prestage and
    * one (cold) pass, reported as `gates.*`; its rows are written for the
    * oracle check.
    */
  def probe(spark: SparkSession, r: Report, ctx: RunContext): Unit = {
    ctx.spans("gates.prestage")(setUp(spark))
    val p = pass(spark, r, ctx, "perfbench-gates-probe", counted = false)
    reportLayer(r, Seq(p))
    writeResults(spark, p.runs)
  }

  /** Run one gate once and write its rows and oracle (the smoke run). */
  def writeOne(spark: SparkSession, gate: String): Unit =
    writeResults(spark, Seq(gate -> runGate(spark, gate, None, new Spans(false))))

  /** Rows as sorted strings: pass-to-pass equality, order-insensitive. */
  private def canonical(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The collected rows of each gate, as parquet, plus its oracle SQL. */
  private def writeResults(spark: SparkSession,
      pass: Seq[(String, GateRun)]): Unit = {
    val out = s"${a.work}/gate_results"
    pass.foreach { case (g, gr) =>
      spark.createDataFrame(java.util.Arrays.asList(gr.rows: _*), gr.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
    }
    val sql = pass.map(_._1).map(g =>
      Json.str(g) + ":" + Json.str(graft.SparkEntry.oracleSql(g)))
      .mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Gates {
  /** The probe table's nine gates: one per cost family the roadmap's
    * directions target (see README.md for the reasons).
    */
  val GateList: Seq[String] = Seq("q1_pricing_summary", "x_rag_bm25",
    "x_graph_pagerank", "x_dedup_clusters_lss", "p_lake_concurrent",
    "p_stream_join", "p_stream_join_rocks", "p_schema_evolve", "p_asof_exec")
}
