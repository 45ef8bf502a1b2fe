package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** The fixpoint driver on plain values (no SparkSession). */
class IterateSpec extends AnyFunSuite {

  test("fixpoint stops at convergence and reports the rounds it ran") {
    val seen = scala.collection.mutable.ArrayBuffer[Int]()
    val (s, rounds) = Iterate.fixpoint(0, 10)(_ => "never") { (s, round) =>
      seen += round
      (s + 1, s + 1 == 5)
    }
    assert((s, rounds) == ((5, 5)))
    assert(seen.toSeq == Seq(0, 1, 2, 3, 4))
  }

  test("fixpoint may converge in its last allowed round") {
    val (s, rounds) = Iterate.fixpoint(0, 3)(_ => "never")((s, r) => (s + 1, r == 2))
    assert((s, rounds) == ((3, 3)))
  }

  test("fixpoint throws the operator's message at the cap, never a partial state") {
    val err = intercept[IllegalStateException] {
      Iterate.fixpoint(1, 4)(s => s"op: not converged, state $s")((s, _) => (s * 2, false))
    }
    assert(err.getMessage == "op: not converged, state 16")
  }

  test("fixpoint with no rounds allowed throws without running a step") {
    var steps = 0
    val err = intercept[IllegalStateException] {
      Iterate.fixpoint("s", 0)(s => s"op: cap 0 at $s") { (s, _) => steps += 1; (s, true) }
    }
    assert(err.getMessage == "op: cap 0 at s")
    assert(steps == 0)
  }
}
