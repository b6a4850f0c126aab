package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** One generated station reading. `kind` 0 is valid, 1 is malformed JSON on
  * the wire, 2 carries an invalid battery value.
  */
final case class Reading(station: Long, sNo: Long, battery: String,
    tsMs: Long, humidity: Int, temperature: Int, wind: Int, kind: Int) {
  def valid: Boolean = kind == 0

  /** Event-time order of the latest table: (status_timestamp, s_no). */
  def key: (Long, Long) = (tsMs, sNo)

  def wire: String = {
    val json = s"""{"stationId":$station,"sequenceNumber":$sNo,""" +
      s""""batteryStatus":"$battery","statusTimestamp":$tsMs,""" +
      s""""weather":{"humidity":$humidity,"temperature":$temperature,""" +
      s""""wind_speed":$wind}}"""
    if (kind != 1) json
    else (sNo % 3).toInt match {
      case 0 => "not json {"
      case 1 => json.replace("{\"stationId\"", "{stationId") // unquoted key
      case _ => json.dropRight(2) // cut short
    }
  }
}

/** Seeded reading generator for a fleet of stations `1..fleet`. Readings
  * of one station carry increasing sequence numbers; event times start at
  * a seed-chosen instant just before an hour boundary, so the lake's
  * `date=/hour=` layout is exercised. Shares: 3 % malformed, 2 % invalid
  * battery, and (when `lateShare` > 0) readings delivered 1-4 slots late.
  */
final class WireGen(seed: Long, val fleet: Int, lateShare: Double) {
  private val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + fleet)
  private val seq = new Array[Long](fleet + 1)
  private val late = scala.collection.mutable.Map[Int, List[Reading]]()

  /** 2024-03-01..28 at 11:58:00 UTC, by seed. */
  val baseMs: Long = java.time.Instant.parse("2024-03-01T11:58:00Z")
    .toEpochMilli + (seed.abs % 28) * 86400000L

  private val badBattery = Array("BROKEN", "full", "")

  /** The next reading of `station`; `clean` ones are always valid. */
  def reading(station: Long, tsMs: Long, clean: Boolean = false): Reading = {
    seq(station.toInt) += 1
    val u = rng.nextDouble()
    val kind = if (clean) 0 else if (u < 0.03) 1 else if (u < 0.05) 2 else 0
    val b = rng.nextInt(10)
    val battery =
      if (kind == 2) badBattery(rng.nextInt(badBattery.length))
      else if (b < 3) "LOW" else if (b < 7) "MEDIUM" else "HIGH"
    Reading(station, seq(station.toInt), battery, tsMs,
      10 + rng.nextInt(91), -10 + rng.nextInt(50), rng.nextInt(60), kind)
  }

  /** Readings of slot `slot` (4 slots per second): stations whose id is
    * congruent to the slot mod 4 report, a share of them is held back for
    * a later slot, and earlier held-back readings due now are appended.
    */
  def slot(slot: Int): Seq[Reading] = {
    val tsMs = baseMs + slot * 250L
    val own = (1 to fleet).filter(_ % 4 == slot % 4).map(s => reading(s, tsMs))
    val (delayed, now) = own.partition(_ => rng.nextDouble() < lateShare)
    delayed.foreach { r =>
      val due = slot + 1 + rng.nextInt(4)
      late(due) = r :: late.getOrElse(due, Nil)
    }
    now ++ late.remove(slot).getOrElse(Nil).reverse
  }

  /** `n` readings of stations drawn by `pick` at event time `tsMs`. */
  def some(n: Int, tsMs: Long, pick: () => Long): Seq[Reading] =
    Seq.fill(n)(reading(pick(), tsMs))

  def nextInt(n: Int): Int = rng.nextInt(n)
  def nextDouble(): Double = rng.nextDouble()
}

/** A wire file the producer dropped: when, how many lines, and the input
  * row count up to and including it (what the forks' progress reports).
  */
final case class Dropped(index: Int, createdMs: Long, lines: Int,
    cumulative: Long, readings: Seq[Reading])

/** Writes wire-JSON files into the watched directory: written aside, then
  * renamed in, so a micro-batch never sees half a file.
  */
final class Dropper(dir: Path) {
  Files.createDirectories(dir)
  private val aside = Files.createDirectories(dir.resolveSibling(
    dir.getFileName.toString + ".staging"))
  private var total = 0L
  private var n = 0
  val dropped = scala.collection.mutable.ArrayBuffer[Dropped]()

  def drop(readings: Seq[Reading]): Dropped = {
    val created = System.currentTimeMillis()
    val name = f"part-$n%06d.json"
    val tmp = aside.resolve(name)
    Files.write(tmp, readings.map(_.wire).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    total += readings.size
    val d = Dropped(n, created, readings.size, total, readings)
    dropped += d
    n += 1
    d
  }

  def totalLines: Long = total
}

/** The open-loop producer's timetable: file `i` is due at a seeded offset
  * inside the `i`-th 250 ms slot after `startMs`. Offsets are drawn per
  * slot so file drops do not lock to the forks' micro-batch cadence (with
  * evenly spaced drops the whole run shares one phase, and a run's
  * freshness percentiles move with it).
  */
final class Schedule(seed: Long, startMs: Long) {
  private val rng = new java.util.SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
  private val offsets = scala.collection.mutable.ArrayBuffer[Long]()

  def dueMs(i: Int): Long = {
    while (offsets.size <= i) offsets += rng.nextLong(250L)
    startMs + i * 250L + offsets(i)
  }

  def await(i: Int): Unit = {
    val wait = dueMs(i) - System.currentTimeMillis()
    if (wait > 0) Thread.sleep(wait)
  }
}
