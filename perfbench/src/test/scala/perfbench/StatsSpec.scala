package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of 3 is the middle value, whatever the order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(9.0, 1.0, 1.5)) == 1.5)
    assert(Stats.median(Seq(4.0, 1.0)) == 2.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("percentile is nearest-rank") {
    val xs = (1 to 40).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 20.0)
    assert(Stats.percentile(xs, 75) == 30.0)
    assert(Stats.percentile(xs, 100) == 40.0)
    assert(Stats.percentile(Seq(7.0), 50) == 7.0)
  }

  test("tail rank is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(140).contains(92))
    assert(Stats.tailPercentile(42).contains(76))
    assert(Stats.tailPercentile(11).contains(9))
    assert(Stats.tailPercentile(10).isEmpty)
    // ten samples really are beyond the chosen rank, and not at the next one
    for (n <- 11 to 300; p <- Stats.tailPercentile(n)) {
      assert(n - math.ceil(p / 100.0 * n).toInt >= 10)
      if (p < 99) assert(n - math.ceil((p + 1) / 100.0 * n).toInt < 10)
    }
  }

  test("fail ratio counts failures against attempts") {
    assert(Stats.failRatio(0, 42) == 0.0)
    assert(Stats.failRatio(3, 12) == 0.25)
    assert(Stats.failRatio(0, 0) == 0.0)
  }

  test("row-count gate is green on equal counts and red on a perturbed one") {
    val recorded = Map("q_a" -> 10L, "q_b" -> 500L)
    assert(Stats.rowCountMismatches(recorded, Map("q_a" -> 10L, "q_b" -> 500L)).isEmpty)
    assert(Stats.rowCountMismatches(recorded, Map("q_a" -> 10L, "q_b" -> 501L)) == Seq("q_b"))
    assert(Stats.rowCountMismatches(recorded, Map("q_a" -> 10L)) == Seq("q_b"))
    assert(Stats.rowCountMismatches(recorded, recorded + ("q_c" -> 1L)) == Seq("q_c"))
  }

  test("the recorded counts cover exactly the board sample") {
    val recorded = Main.readExpected("expected_rows.tsv")
    assert(recorded.keySet == Board.sample.map(_._2.name).toSet)
  }
}
