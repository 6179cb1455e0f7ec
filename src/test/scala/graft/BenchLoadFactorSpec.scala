package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s load factor compares the probe with its anchor scaled to the
  * session's cores: the anchor was measured on `calibration_cores` cores,
  * and the probe spreads over every core, so an idle host with fewer
  * cores must still read about 1.0.
  */
class BenchLoadFactorSpec extends AnyFunSuite {

  test("the anchor scales by calibration_cores / cores") {
    // 0.35 s at 32 cores is 2.8 s of probe at 4 idle cores
    assert(math.abs(Bench.loadFactor(2.8, 0.35, 32, 4) - 1.0) < 1e-9)
    assert(math.abs(Bench.loadFactor(5.6, 0.35, 32, 4) - 2.0) < 1e-9)
    assert(math.abs(Bench.loadFactor(0.35, 0.35, 32, 32) - 1.0) < 1e-9)
  }

  test("no anchor reads 1.0; an anchor without cores is not scaled") {
    assert(Bench.loadFactor(3.0, 0.0, 32, 4) === 1.0)
    assert(math.abs(Bench.loadFactor(0.7, 0.35, 0, 4) - 2.0) < 1e-9)
  }
}
