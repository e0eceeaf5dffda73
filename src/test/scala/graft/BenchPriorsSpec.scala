package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s variance guard compares each query with a prior time
  * from a committed snapshot. A prior counts only from a snapshot taken at
  * the run's own task slot count: at 4 slots, a `local[32]` snapshot made
  * unchanged queries read as stalls and spent the whole rerun budget. */
class BenchPriorsSpec extends AnyFunSuite {

  private def write(dir: Path, name: String, body: String): Unit =
    Files.writeString(dir.resolve(name), body)

  /** A round snapshot: the tail of the bench output, front-truncated and
    * escaped inside a "tail" string of a wrapper that carries "cpus". */
  private def wrapper(cpus: Int, times: (String, Double)*): String = {
    val tail = times.map { case (k, v) => s"""\\"$k\\":$v""" }.mkString(",")
    s"""{\n  "n": 16,\n  "rc": 0,\n  "cpus": $cpus,\n  "sf": 0.1,\n  "tail": "$tail}"\n}\n"""
  }

  test("priors come only from snapshots at the run's slot count") {
    val dir = Files.createTempDirectory("bench_priors")
    try {
      write(dir, "BENCH_r9.json", wrapper(4, "q01" -> 2.0, "x51" -> 3.0))
      write(dir, "BENCH_r16.json", wrapper(32, "q01" -> 0.4, "x51" -> 0.5))
      write(dir, "BENCH_r16_c8.json", wrapper(8, "q01" -> 0.6, "x51" -> 0.7))
      write(dir, "BENCH_SF1.json", wrapper(4, "q01" -> 0.1))
      // no "cpus" field: no prior, whatever the run's slot count
      write(dir, "BENCH_LATEST.json",
        """{"metric":"total","value":1,"unit":"sec","queries":{"q01":0.05}}""")
      assert(Bench.priorsAt(dir, 32) == Map("q01" -> 0.4, "x51" -> 0.5))
      assert(Bench.priorsAt(dir, 8) == Map("q01" -> 0.6, "x51" -> 0.7))
      assert(Bench.priorsAt(dir, 4) == Map("q01" -> 2.0, "x51" -> 3.0))
      assert(Bench.priorsAt(dir, 2).isEmpty)
      // a BENCH_LATEST.json at this slot count joins by the per-query minimum
      write(dir, "BENCH_LATEST.json",
        """{"metric":"total","queries":{"q01":0.5,"x51":0.2},"cpus":8,"sf":"sf0.1"}""")
      assert(Bench.priorsAt(dir, 8) == Map("q01" -> 0.5, "x51" -> 0.2))
      assert(Bench.priorsAt(dir, 32) == Map("q01" -> 0.4, "x51" -> 0.5))
    } finally Harness.rmTree(dir)
  }
}
