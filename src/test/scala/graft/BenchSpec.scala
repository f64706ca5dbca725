package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's capture self-adjudication, replayed against the REAL
  * committed capture history: every quiet same-code capture must read
  * clean, every loaded-window artifact must flag itself — including the
  * pure-wall-inflation windows (flat cpu, quiet load, sub-ceiling steal).
  * No Spark session needed — the predicate is pure.
  */
class BenchSpec extends AnyFunSuite {

  test("contaminatedCapture replays the committed capture history") {
    // quiet same-code captures (docs/bench_passes_*.csv headers:
    // cpu, entries, start/end 1-min loadavg)
    assert(!Bench.contaminatedCapture(1169.7, 255, "sf0.1", 1.12, 1.75)) // r11p
    assert(!Bench.contaminatedCapture(1227.5, 268, "sf0.1", 1.61, 2.90)) // r12b
    assert(!Bench.contaminatedCapture(1299.3, 279, "sf0.1", 1.15, 2.73,
      wallSec = 186.9)) // r12e, the slowest clean capture (0.670 wall/query)
    assert(!Bench.contaminatedCapture(1482.9, 281, "sf0.1", 0.89, 1.93)) // r13
    // the loaded-window artifacts BENCH_r11.json and BENCH_r12.json:
    // the CPU-inflated signature (loadavg looked ordinary)
    assert(Bench.contaminatedCapture(4207.9, 255, "sf0.1", 2.4, 2.9))
    assert(Bench.contaminatedCapture(3035.3, 279, "sf0.1", 2.2, 1.9))
    // the DELIBERATELY loaded r13 rerun (40 memory-churn hogs,
    // docs/bench_passes_r13b.csv): wall 383 s vs 217 quiet, process CPU
    // still IN band — the wall-inflated signature only loadavg catches
    assert(Bench.contaminatedCapture(1325.9, 281, "sf0.1", 31.2, 42.9))
    // the slice-stolen signature: quiet cpu and load, but /proc/stat
    // steal in double digits over the run (shared-physical-host
    // neighbors — idle steal on this box reads ~2.3%)
    assert(Bench.contaminatedCapture(1400.0, 281, "sf0.1", 2.0, 2.0,
      stealPct = 25.0))
    assert(!Bench.contaminatedCapture(1400.0, 281, "sf0.1", 2.0, 2.0,
      stealPct = 2.3))
    // the wall-inflated signature at flat cpu, quiet load and low steal:
    // BENCH_r14.json (=r14g, 202.8 s / 289 = 0.70 wall/query) and r14d
    // (233.0 s / 288 = 0.81) flag on the wall axis alone
    assert(Bench.contaminatedCapture(1378.5, 289, "sf0.1", 1.67, 1.83,
      stealPct = 1.5, wallSec = 202.8), "r14g must flag on wall")
    assert(Bench.contaminatedCapture(1339.2, 288, "sf0.1", 2.57, 2.00,
      stealPct = 4.4, wallSec = 233.0), "r14d must flag on wall")
  }

  test("fixed ceilings reproduce the verdict on every committed sf0.1 capture") {
    // parse each docs/bench_passes_r*.csv the way its header and BestSec
    // column read: absent telemetry is -1 (unknown, never incriminating)
    val files = Option(new java.io.File("docs").listFiles).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("bench_passes_r") &&
        f.getName.endsWith(".csv"))
    val captures = files.toSeq.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      val head = lines.get(0)
      if (!head.contains("sf0.1")) None else {
        def d(re: String): Double = re.r.findFirstMatchIn(head)
          .map(_.group(1).toDouble).getOrElse(-1.0)
        val rows = (2 until lines.size).map(lines.get(_).split(",", -1))
        val wall = rows.map(_(3).toDouble).sum
        val name = f.getName.stripPrefix("bench_passes_").stripSuffix(".csv")
        val flagged = Bench.contaminatedCapture(d("procCpuSec=([0-9.]+)"),
          rows.size, "sf0.1", d("start_loadavg=\\[([0-9.]+)"),
          d("end_loadavg=\\[([0-9.]+)"), d("stealPct=(-?[0-9.]+)"), wall)
        Some((name, flagged, head.contains("contaminated=true")))
      }
    }
    assert(captures.size == 70)
    val expected = ("r08 r10 r11f r11g r11j r11q r12 r12c r12d r12f r13 r13b " +
      "r13d r13e r14b r14c r14d r14e r14f r14g r15 r15c r15e r15f r15g r15h " +
      "r15i r15j r15k r15l r15m r15n r15o r15p r15q r15r r15t r15u r15v r16 " +
      "r16b r16e r16g r17").split(" ").toSet
    assert(expected.size == 44)
    assert(captures.filter(_._2).map(_._1).toSet == expected)
    // every capture that stamped itself contaminated still reads so
    val stamped = captures.filter(_._3).map(_._1)
    assert(stamped.size == 22)
    assert(stamped.forall(expected), stamped.filterNot(expected))
  }

  test("cleanestIndex: min-wall clean attempt wins, else least-poisoned") {
    // two clean attempts: the one with less wall ships
    assert(Bench.cleanestIndex(Seq(false, false),
      Seq(4.6, 4.7), Seq(0.70, 0.61)) == 1)
    // a contaminated first attempt followed by a clean rerun ships the rerun
    assert(Bench.cleanestIndex(Seq(true, false),
      Seq(12.0, 4.6), Seq(1.2, 0.62)) == 1)
    assert(Bench.cleanestIndex(Seq(false), Seq(4.6), Seq(0.6)) == 0)
    // all attempts contaminated: ship the one that burned least cpu/query,
    // still flagged honestly by its own telemetry
    assert(Bench.cleanestIndex(Seq(true, true, true),
      Seq(12.0, 9.1, 10.4), Seq(1.0, 1.3, 1.1)) == 1)
  }

  test("contaminatedCapture is calibrated at sf0.1 only and total-safe") {
    assert(!Bench.contaminatedCapture(4207.9, 255, "sf0.01", 31.0, 31.0,
      wallSec = 400.0))
    assert(!Bench.contaminatedCapture(4207.9, 255, "sf0.001", 2.0, 2.0))
    assert(!Bench.contaminatedCapture(100.0, 0, "sf0.1", 2.0, 2.0))
    // unreadable proc files (-1 samples) are unknown, not incriminating,
    // and a negative wallSec skips the wall axis
    assert(!Bench.contaminatedCapture(1400.0, 281, "sf0.1", -1.0, -1.0,
      stealPct = -1.0, wallSec = -1.0))
  }
}
