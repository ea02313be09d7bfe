package graft

import org.scalatest.funsuite.AnyFunSuite

class GateCheckSpec extends AnyFunSuite {

  test("margin: a NaN recall (0/0) is thin, like one under the buffer") {
    assert(GateCheck.thin(Double.NaN, floor = 0.85, buffer = 0.02))
    assert(GateCheck.thin(0.86, floor = 0.85, buffer = 0.02))
    assert(!GateCheck.thin(0.9, floor = 0.85, buffer = 0.02))
    assert(!GateCheck.thin(1.0, floor = 0.85, buffer = 0.02))
  }
}
