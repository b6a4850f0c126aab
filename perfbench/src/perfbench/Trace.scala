package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.util.Json

/** Engine totals at one instant; differences attribute work to a phase. */
final case class Tally(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    runMs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long) {
  private def zip(o: Tally)(f: (Long, Long) => Long): Tally = Tally(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
    f(cpuNs, o.cpuNs), f(runMs, o.runMs), f(gcMs, o.gcMs),
    f(shuffleWrite, o.shuffleWrite), f(shuffleRead, o.shuffleRead),
    f(spill, o.spill))
  def -(o: Tally): Tally = zip(o)(_ - _)
  def +(o: Tally): Tally = zip(o)(_ + _)

  def report(r: Report, per: Double = 1.0): Unit = {
    val mb = 1024.0 * 1024.0
    r.layerMetric("engine.jobs", jobs / per, "count")
    r.layerMetric("engine.stages", stages / per, "count")
    r.layerMetric("engine.tasks", tasks / per, "count")
    r.layerMetric("engine.task_cpu_s", cpuNs / 1e9 / per, "s")
    r.layerMetric("engine.task_run_s", runMs / 1e3 / per, "s")
    r.layerMetric("engine.gc_s", gcMs / 1e3 / per, "s")
    r.layerMetric("engine.shuffle_write_mb", shuffleWrite / mb / per, "MB")
    r.layerMetric("engine.shuffle_read_mb", shuffleRead / mb / per, "MB")
    r.layerMetric("engine.spill_mb", spill / mb / per, "MB")
  }
}

/** The traced run's SparkListener: running totals of jobs, stages, tasks
  * and task metrics. Read it through [[snapshot]], which first drains the
  * listener bus so the totals include every event posted so far.
  */
final class EngineTally(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, cpuNs, runMs, gcMs, shW, shR, spill =
    new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Tally = {
    org.apache.spark.GraftListenerBridge.drain(sc)
    Tally(jobs.get, stages.get, tasks.get, cpuNs.get, runMs.get, gcMs.get,
      shW.get, shR.get, spill.get)
  }
}

object EngineTally {
  def attach(sc: SparkContext): EngineTally = {
    val t = new EngineTally(sc)
    sc.addSparkListener(t)
    t
  }
}

/** In-memory spans of the traced run: name, start, end, parent and request
  * id, in epoch microseconds. Nesting follows the calling thread.
  * Written out once, at the end of the run.
  */
final class Spans(enabled: Boolean) {
  final case class Span(id: Long, name: String, startUs: Long, endUs: Long,
      parent: Long, request: Long)

  private val all = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  private def nowUs(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  }

  def apply[T](name: String, request: Long = 0L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = nowUs()
      try f
      finally {
        all.add(Span(id, name, t0, nowUs(), parent, request))
        current.set(parent)
      }
    }

  /** A span whose times were observed elsewhere (a micro-batch). */
  def record(name: String, startMs: Long, endMs: Long,
      request: Long = 0L): Unit =
    if (enabled) all.add(Span(ids.incrementAndGet(), name, startMs * 1000L,
      endMs * 1000L, 0L, request))

  def writeTo(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = all.asScala.toSeq.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"parent":${s.parent},"request":${s.request}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** One committed micro-batch as the progress listener saw it; `query` is
  * the query's id.
  */
final case class Batch(query: String, batchId: Long, startMs: Long,
    endMs: Long, rows: Long, durations: Map[String, Long],
    stateCommitMs: Long, stateRows: Long, stateBytes: Long)

/** Progress listener: records every committed micro-batch of every query.
  * The freshness metrics need it, so it is attached in untraced runs too;
  * it only copies the progress object Spark already builds.
  */
final class ForkProgress extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val ops = p.stateOperators
    batches.add(Batch(p.id.toString, p.batchId,
      start, start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum))
  }

  /** Batches of one query in batch order. */
  def of(query: String): Seq[Batch] =
    batches.asScala.filter(_.query == query).toSeq.sortBy(_.batchId)

  /** Input rows the query has committed so far. */
  def committedRows(query: String): Long = of(query).map(_.rows).sum

  /** End time of the first batch of `query` whose cumulative input rows
    * reach `cumulative`, if it has committed.
    */
  def visibleAt(query: String, cumulative: Long): Option[Long] = {
    var acc = 0L
    of(query).find { b => acc += b.rows; acc >= cumulative }.map(_.endMs)
  }
}
