package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def samples(n: Int) = (1 to n).map(_.toDouble)

  test("tail is the highest percentile with at least 10 samples beyond it") {
    // 100 samples: p90 is the 90th value and leaves exactly 10 above it
    assert(Stats.tail(samples(100)) == Some(90 -> 90.0))
    // 99 samples: p90 has rank 90 and only 9 above, so p85 (rank 85)
    assert(Stats.tail(samples(99)) == Some(85 -> 85.0))
    // 28 samples: p60 has rank 17 and 11 above; p65 (rank 19) has 9
    assert(Stats.tail(samples(28)) == Some(60 -> 17.0))
    // 1000 samples reach p99
    assert(Stats.tail(samples(1000)) == Some(99 -> 990.0))
  }

  test("tail falls back through the candidates and gives up below 20") {
    assert(Stats.tail(samples(20)) == Some(50 -> 10.0))
    assert(Stats.tail(samples(19)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tail ignores input order") {
    val xs = scala.util.Random.shuffle(samples(250))
    assert(Stats.tail(xs) == Stats.tail(samples(250)))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
