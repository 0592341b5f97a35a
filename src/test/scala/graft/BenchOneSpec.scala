package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchOneSpec extends AnyFunSuite {

  test("conf variants: one list per |-group, empty groups are the " +
    "unmodified session") {
    assert(BenchOne.parseVariants("|a=1, b=x=y|") ==
      Seq(Nil, Seq("a" -> "1", "b" -> "x=y"), Nil))
    assert(BenchOne.parseVariants("a=1") == Seq(Seq("a" -> "1")))
    intercept[IllegalArgumentException](BenchOne.parseVariants("a=1|b"))
  }
}
