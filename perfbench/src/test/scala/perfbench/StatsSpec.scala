package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail picks the highest ladder percentile with ten samples beyond it") {
    // 1000 samples: p99 leaves exactly 10 beyond, p99.9 only 1
    val t = Stats.tail((1 to 1000).map(_.toDouble)).get
    assert(t.pct == 99.0)
    assert(t.value == 990.0)
    assert(t.beyond == 10)
    assert(t.n == 1000)
  }

  test("tail steps down the ladder as samples get fewer") {
    assert(Stats.tail((1 to 200).map(_.toDouble)).get.pct == 95.0)
    assert(Stats.tail((1 to 100).map(_.toDouble)).get.pct == 90.0)
    assert(Stats.tail((1 to 40).map(_.toDouble)).get.pct == 75.0)
    val t = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(t.pct == 50.0 && t.value == 10.0 && t.beyond == 10)
  }

  test("no tail below twenty samples") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("tail ignores input order") {
    val xs = (1 to 300).map(_.toDouble)
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == Stats.tail(xs))
  }

  test("median and nearest-rank percentile") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 90) == 9.0)
    assert(Stats.percentile((1 to 10).map(_.toDouble), 91) == 10.0)
    assert(Stats.percentile(Seq(5.0), 50) == 5.0)
  }
}
