package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The engine's one driver pool: order, failure and width contracts. */
class ConcurrentSpec extends AnyFunSuite {

  test("parMap returns results in input order, not completion order") {
    // earlier items sleep longer, so they finish last
    val out = Concurrent.parMap((1 to 6).toList, 3) { i =>
      Thread.sleep((7 - i) * 20L)
      i * 10
    }
    assert(out == Seq(10, 20, 30, 40, 50, 60))
    assert(Concurrent.parMap(Seq.empty[Int], 4)(identity).isEmpty)
  }

  test("parMap rethrows the first failure unwrapped") {
    val err = intercept[IllegalStateException] {
      Concurrent.parMap(Seq(1, 2, 3), 3) { i =>
        if (i >= 2) throw new IllegalStateException(s"item $i")
        i
      }
    }
    assert(err.getMessage == "item 2")
    val pair = intercept[ArithmeticException] {
      Concurrent.inParallel(1, throw new ArithmeticException("leg b"))
    }
    assert(pair.getMessage == "leg b")
  }

  test("parMap runs no more than width items at once") {
    val running = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    Concurrent.parMap(1 to 12, 3) { _ =>
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(50)
      running.decrementAndGet()
    }
    assert(peak.get() <= 3)
    assert(peak.get() > 1) // the items really overlapped
  }

  test("inParallel returns both results") {
    assert(Concurrent.inParallel("a", 2L) == (("a", 2L)))
  }
}
