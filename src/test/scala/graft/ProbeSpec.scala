package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Probe`'s settings: a malformed `PROBE_PASSES` stops the run
  * with a message naming the variable.
  */
class ProbeSpec extends AnyFunSuite {
  test("PROBE_PASSES: 3 when unset, a whole number of at least 1 otherwise") {
    assert(Probe.passesFrom(None) == 3)
    assert(Probe.passesFrom(Some(" 2 ")) == 2)
    Seq("x", "1.5", "", "0", "-1").foreach { v =>
      val e = intercept[IllegalArgumentException](Probe.passesFrom(Some(v)))
      assert(e.getMessage.contains("PROBE_PASSES"), e.getMessage)
    }
  }
}
