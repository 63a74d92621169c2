package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.attempt` books a non-fatal query failure with its cause and lets
  * a fatal error end the run. */
class BenchAttemptSpec extends AnyFunSuite {

  test("a non-fatal failure comes back as <class>: <first message line>") {
    assert(Bench.attempt(()).isEmpty)
    assert(Bench.attempt(throw new IllegalStateException("boom\nstack detail")) ==
      Some("java.lang.IllegalStateException: boom"))
    assert(Bench.attempt(throw new RuntimeException()) ==
      Some("java.lang.RuntimeException: "))
  }

  test("an OutOfMemoryError propagates") {
    intercept[OutOfMemoryError](Bench.attempt(throw new OutOfMemoryError("heap")))
  }
}
