package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Stats.repCv]] is the one rep-CV definition Bench's `rep_cv` and
  * BenchAB's control and head CVs share. Pure arithmetic, no session. */
class StatsSpec extends AnyFunSuite {

  test("repCv drops the first rep, then is sample sd / mean of the rest") {
    // steady reps 1, 2, 3: mean 2, sample sd 1
    assert(Stats.repCv(Seq(9.0, 1.0, 2.0, 3.0)).contains(0.5))
  }

  test("repCv is 0, not NaN, when the steady reps' mean is 0") {
    assert(Stats.repCv(Seq(1.0, 0.0, 0.0)).contains(0.0))
  }

  test("repCv has no value below 3 reps or when no rep took any time") {
    assert(Stats.repCv(Seq(1.0, 2.0)).isEmpty)
    assert(Stats.repCv(Seq(0.0, 0.0, 0.0)).isEmpty)
  }
}
