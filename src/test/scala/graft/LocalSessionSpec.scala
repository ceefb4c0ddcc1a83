package graft

import org.scalatest.funsuite.AnyFunSuite

class LocalSessionSpec extends AnyFunSuite {
  private val nproc = Runtime.getRuntime.availableProcessors

  test("SPARK_GRAFT_CPUS unset, non-integer or not positive falls back to " +
      "every available core") {
    for (v <- Seq(None, Some("abc"), Some("0"), Some("-3")))
      assert(LocalSession.parseCpus(v) == nproc, s"for $v")
  }

  test("a positive SPARK_GRAFT_CPUS is the core count") {
    assert(LocalSession.parseCpus(Some("2")) == 2)
  }
}
