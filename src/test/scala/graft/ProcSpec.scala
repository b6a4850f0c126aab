package graft

import graft.util.Proc
import org.scalatest.funsuite.AnyFunSuite

class ProcSpec extends AnyFunSuite {

  test("diskTotals counts whole disks only, never partitions or loop devices") {
    // major minor name reads merged SECTORS_READ ms writes merged
    // SECTORS_WRITTEN ms in_flight IO_MS ...
    val diskstats =
      """   7       0 loop0 40 0 800 3 0 0 0 0 0 7 3 0 0 0 0 0 0
        | 254       0 vda 10445 5399 2638722 108875 5927 10785 1143456 4608 0 29872 113861 1959 2 837528 318 1032 58
        | 254       1 vda1 10000 5000 2600000 100000 5900 10700 1140000 4600 0 29000 110000 0 0 0 0 0 0
        | 259       0 nvme0n1 10 0 100 1 20 0 200 2 0 30 3 0 0 0 0 0 0
        | 259       1 nvme0n1p1 9 0 90 1 19 0 190 2 0 29 3 0 0 0 0 0 0
        | 259       2 nvme0n10 1000 0 7000 1 2000 0 8000 2 0 900 3 0 0 0 0 0 0
        | 259       3 nvme0n10p1 999 0 6990 1 1999 0 7990 2 0 899 3 0 0 0 0 0 0
        |  43       0 nbd0 4 0 40 0 4 0 40 0 0 4 0 0 0 0 0 0 0
        | 253       0 zram0 5 0 50 0 5 0 50 0 0 5 0 0 0 0 0 0 0
        |""".stripMargin
    assert(Proc.diskTotals(diskstats) ==
      Some((2638722L + 100L + 7000L, 1143456L + 200L + 8000L,
        29872L + 30L + 900L)))
    assert(Proc.diskTotals("") == Some((0L, 0L, 0L)))
    assert(Proc.diskTotals(" 8 0 sda 1 2 x 4 5 6 7 8 9 10 11 12") == None)
  }

  test("cpu, load and pressure parsers read the fields Bench reports") {
    val stat = "cpu  101586 0 9899 2736194 4687 0 4773 13368 0 0\n" +
      "cpu0 1 2 3 4 5 6 7 8 0 0\n"
    assert(Proc.cpuTicks(stat) ==
      Some((13368L, 101586L + 9899 + 2736194 + 4687 + 4773 + 13368)))
    assert(Proc.cpuTicks("intr 1 2 3") == None)
    assert(Proc.loadavg("1.99 0.55 0.18 5/246 16609\n") ==
      Some(Seq("1.99", "0.55", "0.18")))
    assert(Proc.loadavg("") == None)
    val psi = "some avg10=1.25 avg60=0.00 avg300=0.00 total=18653010\n" +
      "full avg10=0.50 avg60=0.00 avg300=0.00 total=18420718\n"
    assert(Proc.avg10(psi, "some") == Some("1.25"))
    assert(Proc.avg10(psi, "full") == Some("0.50"))
    assert(Proc.avg10("some total=1", "some") == None)
    assert(Proc.read("/no/such/proc/file") == None)
  }
}
