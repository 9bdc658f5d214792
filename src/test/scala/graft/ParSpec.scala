package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Par

class ParSpec extends AnyFunSuite {

  test("a failing task rethrows its error only after its slow sibling has finished") {
    val slowDone = new AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      Par.inParallel(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(err.getMessage === "boom")
    assert(slowDone.get(), "the call returned while a sibling was still running")
  }

  test("inParallelAll returns every value in input order; the first failure in input order wins") {
    assert(Par.inParallelAll(Seq(() => 1, () => 2, () => 3)) === Seq(1, 2, 3))
    val err = intercept[RuntimeException] {
      Par.inParallelAll(Seq[() => Int](
        () => { Thread.sleep(200); throw new RuntimeException("first") },
        () => throw new RuntimeException("second")))
    }
    assert(err.getMessage === "first")
  }
}
