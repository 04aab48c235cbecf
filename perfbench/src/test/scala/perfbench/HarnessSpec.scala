package perfbench

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  test("loop: a failing call ends the loop, even before minOps") {
    var calls = 0
    assert(Harness.loop(budgetS = 60.0, minOps = 5) { _ => calls += 1; false } == 1)
    assert(calls == 1)
  }

  test("loop: runs minOps calls when the budget is already spent") {
    assert(Harness.loop(budgetS = 0.0, minOps = 3)(_ => true) == 3)
  }

  test("loop: stops once the budget's wall time has passed") {
    val n = Harness.loop(budgetS = 0.2, minOps = 1) { _ => Thread.sleep(50); true }
    assert(n >= 2 && n <= 4)
  }

  test("loop: passes call indices in order") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    Harness.loop(budgetS = 0.0, minOps = 4) { i => seen += i; i < 2 }
    assert(seen == Seq(0, 1, 2))
  }
}
