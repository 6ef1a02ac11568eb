package graft

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS falls back to the caller's default and must be a positive integer") {
    assert(LocalSession.cpus(None, 32) === 32)
    assert(LocalSession.cpus(Some("8"), 32) === 8)
    Seq("0", "-4", "four", "", "4.5").foreach { v =>
      intercept[IllegalArgumentException](LocalSession.cpus(Some(v), 32))
    }
  }
}
