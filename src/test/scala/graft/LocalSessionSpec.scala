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

  test("a numeric knob outside [min, max] or malformed falls back to its " +
      "default") {
    for (v <- Seq(None, Some(""), Some("abc"), Some("1.5"), Some("0"),
        Some("-3"), Some("3000000000"), Some("99999999999999999999")))
      assert(LocalSession.parseKnob("SPARK_GRAFT_TEST", v, 37) == 37, s"for $v")
    assert(LocalSession.parseKnob("SPARK_GRAFT_TEST", Some("-1"), 3,
      min = 0) == 3)
  }

  test("a numeric knob inside [min, max] is its value") {
    assert(LocalSession.parseKnob("SPARK_GRAFT_TEST", Some(" 7 "), 37) == 7)
    assert(LocalSession.parseKnob("SPARK_GRAFT_TEST", Some("0"), 3,
      min = 0) == 0)
    assert(LocalSession.parseKnob("SPARK_GRAFT_TEST", Some("3000000000"),
      100000, max = Long.MaxValue) == 3000000000L)
    assert(LocalSession.envKnob("SPARK_GRAFT_UNSET_KNOB", 5) == 5)
  }
}
