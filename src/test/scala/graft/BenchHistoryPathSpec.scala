package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's retry guard compares a query's wall time with history taken
  * at the SAME width: a full run writes its width's file and reads its
  * history from that file, so a 4-thread run is never judged against
  * 32-thread timings. No Spark session needed.
  */
class BenchHistoryPathSpec extends AnyFunSuite {

  test("the official 32-thread width keeps bench_detail.json") {
    assert(Bench.historyPath(32) == "bench_detail.json")
  }

  test("every other width reads and writes its own file") {
    for (n <- Seq(1, 4, 8, 16, 64))
      assert(Bench.historyPath(n) == s"bench_detail_c$n.json")
  }

  test("a width with no capture yet has no history, so never retries") {
    val missing = java.nio.file.Files.createTempDirectory("bench-hist")
      .resolve(Bench.historyPath(4)).toString
    assert(Bench.loadHistory(missing).isEmpty)
    assert(Bench.loadHistory(missing, "cpu").isEmpty)
  }

  test("history is read from the width's own capture") {
    val dir = java.nio.file.Files.createTempDirectory("bench-hist")
    val f = dir.resolve(Bench.historyPath(4))
    java.nio.file.Files.write(f,
      """{"metric":"total","queries":{"q_a":1.5,"q_b":0.25},""".getBytes ++
        """"cpu":{"q_a":3.0}}""".getBytes)
    assert(Bench.loadHistory(f.toString) == Map("q_a" -> 1.5, "q_b" -> 0.25))
    assert(Bench.loadHistory(f.toString, "cpu") == Map("q_a" -> 3.0))
  }
}
