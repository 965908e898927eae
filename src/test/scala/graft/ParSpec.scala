package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

/** Par's overlap discipline (VERDICT r13 items 1-2): in-flight cap,
  * nested-fan-out reentry, and failure propagation. Pure JVM — no
  * SparkSession, so the suite stays milliseconds-cheap.
  */
class ParSpec extends AnyFunSuite {

  test("two/three/four/five return the legs in declaration order") {
    assert(Par.two(1, 2) === ((1, 2)))
    assert(Par.three("a", "b", "c") === (("a", "b", "c")))
    assert(Par.four(1, 2, 3, 4) === ((1, 2, 3, 4)))
    assert(Par.five(1, 2, 3, 4, 5) === ((1, 2, 3, 4, 5)))
  }

  test("all preserves thunk order") {
    assert(Par.all((1 to 7).map(i => () => i * 10)) === (1 to 7).map(_ * 10))
  }

  test("a failing leg rethrows on the caller") {
    val boom = intercept[RuntimeException] {
      Par.two({ Thread.sleep(5); 1 }, throw new RuntimeException("leg-b"))
    }
    assert(boom.getMessage === "leg-b")
    val boomA = intercept[RuntimeException] {
      Par.two[Int, Int](throw new RuntimeException("leg-a"), 2)
    }
    assert(boomA.getMessage === "leg-a")
  }

  /** A caller that handles a leg's failure (CatalogStore.commit's
    * cleanup of its staging dirs) must not race a sibling leg that is
    * still running: that leg's output would land after the cleanup.
    */
  test("a failing leg rethrows only after every other leg has finished") {
    def slowLeg(done: AtomicBoolean): Int = {
      Thread.sleep(200)
      done.set(true)
      2
    }
    val twoDone = new AtomicBoolean(false)
    val boom = intercept[RuntimeException] {
      Par.two[Int, Int](throw new RuntimeException("leg-a"), slowLeg(twoDone))
    }
    assert(boom.getMessage === "leg-a")
    assert(twoDone.get, "the second leg was still running")
    val allDone = new AtomicBoolean(false)
    val boomAll = intercept[RuntimeException] {
      Par.all(Seq(() => throw new RuntimeException("thunk-0"),
        () => slowLeg(allDone)))
    }
    assert(boomAll.getMessage === "thunk-0")
    assert(allDone.get, "the second thunk was still running")
  }

  /** The r13 deadlock shape: more outer legs than pool threads, each
    * reaching a NESTED fan-out (CatalogStore.commit's per-table
    * staging writes ride Par.all from inside a gate leg). With the
    * r13 global 6-wide pool this blocked every pool thread in
    * Await.result while the children queued behind them — permanent.
    * The reentry rule (nested fan-outs run inline on the pool thread)
    * must let this complete.
    */
  test("nested fan-outs wider than the pool complete (no deadlock)") {
    val ran = new AtomicInteger(0)
    val outer = (1 to 6).map { i => () =>
      Par.all((1 to 3).map { j => () =>
        Thread.sleep(2)
        ran.incrementAndGet()
        i * 10 + j
      })
    }
    val done = scala.concurrent.Await.result(
      scala.concurrent.Future(Par.all(outer))(
        scala.concurrent.ExecutionContext.global),
      scala.concurrent.duration.Duration(30, "s"))
    assert(ran.get() === 18)
    assert(done.map(_.sum) === (1 to 6).map(i => i * 30 + 6))
  }

  test("in-flight legs never exceed 3 (caller + 2 pool threads)") {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    def leg(v: Int): Int = {
      val now = inFlight.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      Thread.sleep(10)
      inFlight.decrementAndGet()
      v
    }
    assert(Par.five(leg(1), leg(2), leg(3), leg(4), leg(5))
      === ((1, 2, 3, 4, 5)))
    assert(Par.all((1 to 8).map(i => () => leg(i))) === (1 to 8))
    assert(peak.get() <= 3, s"peak in-flight was ${peak.get()}")
  }
}
