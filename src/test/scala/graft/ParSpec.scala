package graft

import graft.util.Par
import org.scalatest.funsuite.AnyFunSuite

class ParSpec extends AnyFunSuite {

  test("results come back in order; two failures surface as one with the other suppressed") {
    assert(Par.all(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    val e = intercept[IllegalStateException](Par.all(Seq[() => Int](
      () => throw new IllegalStateException("first"),
      () => 2,
      () => throw new IllegalArgumentException("second"))))
    assert(e.getMessage == "first")
    assert(e.getSuppressed.toSeq.map(s => (s.getClass, s.getMessage)) ==
      Seq((classOf[IllegalArgumentException], "second")))
  }
}
