package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Bench's history reader: one read of the file, keyed by corpus, core
  * count and heap, and the three folds the tripwire and the guard line
  * take from it. No Spark session is needed. */
class BenchHistorySpec extends AnyFunSuite {

  private def row(corpus: String, cpus: Int, total: Double, a: Double,
      b: Double, spin: Double, partial: Boolean = false): String = {
    val p = if (partial) ""","partial":true""" else ""
    s"""{"at":1,"bench":{"metric":"total","value":$total,""" +
      s""""queries":{"a":$a,"b":$b},"floor":{"spin_ms":$spin},""" +
      s""""corpus":"$corpus","cpus":$cpus,"heap_bytes":1024$p}}"""
  }

  test("rows are keyed by corpus, cpus and heap; folds skip partial runs " +
      "and failed probes") {
    val lines = Seq(
      row("c1", 4, total = 10.0, a = 1.0, b = 5.0, spin = 300.0),
      "{not json",
      row("c2", 4, total = 99.0, a = 9.0, b = 9.0, spin = 900.0),
      row("c1", 8, total = 88.0, a = 8.0, b = 8.0, spin = 800.0),
      // no cpus or heap: written before the host key was recorded
      """{"bench":{"value":77.0,"queries":{"a":7.0},"corpus":"c1"}}""",
      row("c1", 4, total = 12.0, a = 3.0, b = -1.0, spin = -1.0),
      row("c1", 4, total = 2.0, a = 2.0, b = 6.0, spin = 100.0,
        partial = true),
      row("c1", 4, total = 14.0, a = 4.0, b = 7.0, spin = 500.0))
    val f = Files.createTempFile("bench_history", ".jsonl")
    try {
      Files.writeString(f, lines.mkString("\n") + "\n")
      val rows = BenchHistory.read(f, "c1", cpus = 4, heapBytes = 1024L)
      assert(rows.map(_.total) == Seq(Some(10.0), Some(12.0), Some(2.0),
        Some(14.0)))
      // per-query medians take partial runs and drop failed (-1) timings
      assert(BenchHistory.medians(rows, lastRuns = 7) ==
        Map("a" -> 3.0, "b" -> 6.0))
      assert(BenchHistory.medians(rows, lastRuns = 2) ==
        Map("a" -> 4.0, "b" -> 7.0))
      // totals and floors come from full runs only
      assert(BenchHistory.totals(rows, lastRuns = 3) == Seq(10.0, 12.0, 14.0))
      assert(BenchHistory.totals(rows, lastRuns = 2) == Seq(12.0, 14.0))
      // the -1.0 sentinel of a failed probe is no measurement
      assert(BenchHistory.floor(rows, "spin_ms", lastRuns = 7) == 500.0)
      assert(BenchHistory.floor(rows, "stage_ms", lastRuns = 7) == -1.0)
      // another heap matches nothing
      assert(BenchHistory.read(f, "c1", cpus = 4, heapBytes = 2048L).isEmpty)
    } finally Files.delete(f)
  }

  test("a missing history file reads as no rows") {
    val f = Files.createTempFile("bench_history", ".jsonl")
    Files.delete(f)
    assert(BenchHistory.read(f, "c1", cpus = 4, heapBytes = 1024L).isEmpty)
  }
}
