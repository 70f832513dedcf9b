package graft.table

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

/** The driver IO pool (FsIO.parMap): in-flight bound, failures surfacing
  * as themselves, and no task outliving the call. */
class FsIOSpec extends AnyFunSuite {

  test("parMap keeps order, bounds the tasks in flight and rethrows the " +
      "first failure as itself") {
    val inFlight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val out = FsIO.parMap(0 until 100) { i =>
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      Thread.sleep(2L)
      inFlight.decrementAndGet()
      i * 2
    }
    assert(out == (0 until 100).map(_ * 2))
    assert(peak.get <= FsIO.MaxInFlight, s"peak in flight ${peak.get}")
    val boom = new java.io.IOException("boom")
    val e = intercept[java.io.IOException](FsIO.parMap(0 until 40) { i =>
      if (i == 3) throw boom
      i
    })
    assert(e eq boom)
  }

  test("an interrupted caller starts no further item and returns only " +
      "after every started item has ended") {
    val started = new AtomicInteger(0)
    val ended = new AtomicInteger(0)
    val release = new CountDownLatch(1)
    val endedAtThrow = new AtomicInteger(-1)
    val outcome = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try {
        FsIO.parMap(0 until 4 * FsIO.MaxInFlight) { _ =>
          started.incrementAndGet()
          // an IO call that does not answer interrupts
          while (!release.await(1L, TimeUnit.SECONDS)) ()
          ended.incrementAndGet()
        }
        ()
      } catch {
        case t: Throwable => endedAtThrow.set(ended.get); outcome.set(t)
      })
    caller.start()
    val t0 = System.nanoTime()
    while (started.get < FsIO.MaxInFlight && System.nanoTime() - t0 < 10e9)
      Thread.sleep(5L)
    assert(started.get == FsIO.MaxInFlight)
    caller.interrupt()
    Thread.sleep(200L)
    assert(caller.isAlive, "the call returned while its items still ran")
    release.countDown()
    caller.join(10000L)
    assert(!caller.isAlive)
    assert(outcome.get.isInstanceOf[InterruptedException], s"${outcome.get}")
    assert(started.get == FsIO.MaxInFlight, "no item starts after the interrupt")
    assert(endedAtThrow.get == FsIO.MaxInFlight,
      "every started item ended before the call threw")
  }
}
