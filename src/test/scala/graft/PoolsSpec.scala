package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Pools

/** `Pools.runAll`: ordered results, and the failure rule an enclosing
  * JobTxn relies on — the first failure is rethrown only after every
  * running sibling has finished (never interrupted), and a task that
  * had not started when it failed never starts. */
class PoolsSpec extends AnyFunSuite {

  test("results come back in task order, whatever order tasks finish in") {
    val out = Pools.runAll("order", 3)((0 until 6).map { i =>
      s"t$i" -> (() => { Thread.sleep((6 - i) * 15L); i })
    })
    assert(out === (0 until 6))
  }

  test("a fast failure is rethrown with its original cause") {
    val boom = new IllegalStateException("boom")
    val e = intercept[RuntimeException] {
      Pools.runAll("group", 2)(Seq(
        "slow" -> (() => { Thread.sleep(200); 1 }),
        "fast" -> (() => throw boom)))
    }
    assert(e.getCause eq boom)
    assert(e.getMessage.contains("group task 'fast' failed"))
    assert(e.getMessage.contains("boom"))
  }

  test("a slow sibling has finished, uninterrupted, when runAll throws") {
    val finished = new AtomicBoolean(false)
    val interrupted = new AtomicBoolean(false)
    val slowStarted = new CountDownLatch(1)
    intercept[RuntimeException] {
      // the failing task comes first, so joining in task order alone
      // would not wait for the slow one
      Pools.runAll("join", 2)(Seq(
        "fast" -> (() => {
          slowStarted.await()
          sys.error("fails first")
        }),
        "slow" -> (() => {
          slowStarted.countDown()
          try { Thread.sleep(400); finished.set(true) }
          catch { case _: InterruptedException => interrupted.set(true) }
        })))
    }
    assert(finished.get, "runAll must join the running sibling first")
    assert(!interrupted.get, "a running sibling must not be interrupted")
  }

  test("a queued task never starts once a sibling failed") {
    // width 2: the first two tasks to start hold both permits until
    // they fail, so the other two are still queued at the first failure
    val started = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      Pools.runAll("queue", 2)((0 until 4).map { i =>
        s"t$i" -> (() => {
          started.incrementAndGet()
          Thread.sleep(100)
          sys.error(s"t$i failed")
        })
      })
    }
    assert(started.get === 2)
    // the other running task's failure rides along as suppressed
    assert(e.getSuppressed.length === 1)
  }
}
