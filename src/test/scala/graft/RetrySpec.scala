package graft

import graft.util.Retry
import java.nio.channels.ClosedByInterruptException
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.TaskKilledException
import org.scalatest.funsuite.AnyFunSuite

/** Retry.withRetries gives way to cancellation: an interrupted or killed
  * thread leaves the retry loop at once, with its interrupt flag set,
  * however much of the try budget and backoff is left. */
class RetrySpec extends AnyFunSuite {

  /** Runs `body` on its own thread, interrupts it after 100 ms and
    * returns (what it threw, its interrupt flag after the throw, the
    * wall ms from interrupt to exit). */
  private def interruptDuring(body: => Unit): (Throwable, Boolean, Long) = {
    val thrown = new AtomicReference[(Throwable, Boolean)]()
    val t = new Thread(() =>
      try body catch { case e: Throwable => thrown.set((e, Thread.currentThread().isInterrupted)) })
    t.start()
    Thread.sleep(100)
    val t0 = System.nanoTime()
    t.interrupt()
    t.join(5000)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(!t.isAlive, "retry loop still running 5 s after the interrupt")
    (thrown.get._1, thrown.get._2, ms)
  }

  test("an interrupt during the body ends the call within 1 s, interrupt flag set") {
    val attempts = new AtomicInteger(0)
    val (err, flag, ms) = interruptDuring {
      Retry.withRetries(tries = 7, onError = Retry.expBackoff()) {
        attempts.incrementAndGet(); Thread.sleep(60000)
      }
    }
    assert(err.isInstanceOf[InterruptedException])
    assert(flag, "interrupt flag must be re-asserted")
    assert(ms < 1000, s"took $ms ms")
    assert(attempts.get === 1)
  }

  test("an interrupt during the backoff sleep ends the call within 1 s, interrupt flag set") {
    val attempts = new AtomicInteger(0)
    val (err, flag, ms) = interruptDuring {
      // first backoff is 2^7 s, capped at 64 s
      Retry.withRetries(tries = 7, onError = Retry.expBackoff()) {
        attempts.incrementAndGet(); throw new java.io.IOException("transient")
      }
    }
    assert(err.isInstanceOf[InterruptedException])
    assert(flag, "interrupt flag must be re-asserted")
    assert(ms < 1000, s"took $ms ms")
    assert(attempts.get === 1)
  }

  test("cancellation errors are never retried, even when the taxonomy says retryable") {
    for (cancel <- Seq[Throwable](new ClosedByInterruptException,
        new TaskKilledException("killed"), new InterruptedException)) {
      var attempts = 0
      var hooks = 0
      val caught = intercept[Throwable] {
        Retry.withRetries(tries = 5, onError = (_, _) => hooks += 1, retryable = _ => true) {
          attempts += 1; throw cancel
        }
      }
      // the re-asserted flag belongs to this test thread: clear it
      assert(Thread.interrupted(), s"${cancel.getClass.getSimpleName} must re-assert the flag")
      assert(caught eq cancel)
      assert(attempts === 1 && hooks === 0, cancel.getClass.getSimpleName)
    }
  }

  test("fatal errors are not retried") {
    var attempts = 0
    intercept[StackOverflowError] {
      Retry.withRetries(tries = 5) { attempts += 1; throw new StackOverflowError() }
    }
    assert(attempts === 1)
    assert(!Thread.currentThread().isInterrupted)
  }
}
