package perfbench

import scala.collection.mutable

import graft.util.Json

/** What one run hands back to `run.py`: end-to-end metrics, per-layer
  * metrics (filled only when tracing), operation counts and the outcome
  * of every correctness check. Written as one JSON object.
  */
final class Report(val trace: Boolean) {
  private val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  private val layer = mutable.LinkedHashMap[String, (Double, String)]()
  private val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    e2e(name) = (value, unit)

  /** A per-layer figure; dropped unless the run is traced. */
  def layerMetric(name: String, value: => Double, unit: String): Unit =
    if (trace) layer(name) = (value, unit)

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  def allChecksPass: Boolean = checks.nonEmpty && checks.forall(_._2)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]) =
    m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")

  def json: String = {
    val cs = checks.map { case (n, ok, d) =>
      s"{\"name\":${Json.str(n)},\"ok\":$ok,\"detail\":${Json.str(d)}}"
    }.mkString("[", ",", "]")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${metricsJson(e2e)},"per_layer":${metricsJson(layer)},""" +
      s""""checks":$cs}"""
  }
}

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method), q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def processCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Live heap after a full, stop-the-world collection, in MB. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc()
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
