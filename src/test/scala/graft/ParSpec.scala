package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Par

/** Par.all's contract: every step finishes before it returns or throws. */
class ParSpec extends AnyFunSuite {

  test("a failing step is rethrown only after its slow sibling finished") {
    @volatile var slowDone = false
    val e = intercept[IllegalStateException] {
      Par.all(
        () => { Thread.sleep(1000); slowDone = true },
        () => throw new IllegalStateException("step failed"))
    }
    assert(e.getMessage == "step failed")
    assert(slowDone, "Par.all threw while a sibling step was still running")
  }

  test("values come back in step order; the first failure in step order wins") {
    assert(Par.all(() => { Thread.sleep(200); 1 }, () => 2, () => 3) == Seq(1, 2, 3))
    val e = intercept[IllegalStateException] {
      Par.all(
        () => { Thread.sleep(200); throw new IllegalStateException("first") },
        () => throw new IllegalStateException("second"))
    }
    assert(e.getMessage == "first")
  }
}
