package graft.util

import java.nio.file.{Files, Paths}
import scala.util.Try

/** Readers for the Linux `/proc` files Bench samples: one file reader and
  * one parser per format. A parser takes the file's text (so a fixture
  * tests it) and answers None for text not in its format; a missing file
  * reads as None too, so a sample never fails a run.
  */
object Proc {

  def read(path: String): Option[String] =
    Try(Files.readString(Paths.get(path))).toOption

  /** The 1, 5 and 15-minute load averages of `/proc/loadavg`, as written. */
  def loadavg(text: String): Option[Seq[String]] =
    Some(text.trim.split("\\s+").take(3).toSeq).filter(_.length == 3)

  /** The `avg10` stall percentage of the `kind` ("some" or "full") line of a
    * `/proc/pressure` file, as written.
    */
  def avg10(text: String, kind: String): Option[String] =
    text.linesIterator.find(_.startsWith(kind)).flatMap(
      _.split("\\s+").collectFirst {
        case kv if kv.startsWith("avg10=") => kv.stripPrefix("avg10=")
      })

  /** Cumulative (steal, total) CPU ticks from `/proc/stat`'s aggregate
    * line (user nice system idle iowait irq softirq STEAL ...).
    */
  def cpuTicks(text: String): Option[(Long, Long)] = Try {
    val f = text.linesIterator.find(_.startsWith("cpu ")).get
      .trim.split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }.toOption

  // stacked, memory-backed or network block devices: their I/O is either
  // already counted on the disk beneath them or never touches a local disk
  private val virtualPrefixes = Seq("loop", "ram", "zram", "dm-", "md", "nbd")

  /** Cumulative (sectors read, sectors written, ms doing I/O) from
    * `/proc/diskstats`, summed over whole disks only. A partition repeats
    * its disk's counts; the kernel names it after the disk plus its
    * number, with a `p` between when the disk's name ends in a digit
    * (`vda1` of `vda`, `nvme0n1p1` of `nvme0n1`, while `nvme0n10` is a
    * disk of its own). Loop, ram, zram, device-mapper, md and nbd devices
    * sit on a disk, on memory or on the network, so none of them is added.
    */
  def diskTotals(text: String): Option[(Long, Long, Long)] = Try {
    val rows = text.linesIterator.map(_.trim.split("\\s+"))
      .filter(_.length >= 13).toSeq
    val names = rows.map(_(2)).toSet
    def partition(n: String): Boolean = names.exists(d => n.startsWith(d) &&
      n.drop(d.length).matches(if (d.last.isDigit) "p\\d+" else "\\d+"))
    val disks = rows.filterNot(f =>
      virtualPrefixes.exists(f(2).startsWith) || partition(f(2)))
    (disks.map(_(5).toLong).sum, disks.map(_(9).toLong).sum,
      disks.map(_(12).toLong).sum)
  }.toOption
}
