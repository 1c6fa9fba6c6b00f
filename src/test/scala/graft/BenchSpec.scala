package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's repeats-mode summary — a pure function, pinned so the
  * time `SPARK_GRAFT_BENCH_REPEATS` reports per gate can't silently change.
  */
class BenchSpec extends AnyFunSuite {

  test("upperMedian: odd counts true median, even counts the slower middle") {
    assert(Bench.upperMedian(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Bench.upperMedian(Seq(4.0, 1.0, 2.0, 3.0)) === 3.0)
    assert(Bench.upperMedian(Seq(5.0)) === 5.0)
  }
}
