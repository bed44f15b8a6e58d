package graft

import graft.util.Retry
import java.nio.channels.ClosedByInterruptException
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import org.apache.spark.TaskKilledException

/** Retry.withRetries gives way to cancellation: an interrupted or killed
  * thread leaves the retry loop at once, with its interrupt flag set,
  * however much of the try budget and backoff is left. A task killed
  * without an interrupt leaves it too. */
class RetrySpec extends SparkSpec {

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

  /** Runs a one-task local job whose body always throws an IOException
    * under `withRetries(tries, onError)`, cancels its job group with
    * `interruptOnCancel = false` once the first attempt has failed, and
    * returns (the wall ms from cancel to the retry loop's exit, the
    * attempts made). */
  private def killWithoutInterrupt(tries: Int, onError: (Throwable, Int) => Unit): (Long, Int) = {
    import RetrySpec.{attempts, exitedNs}
    attempts.set(0); exitedNs.set(0L)
    val sc = spark.sparkContext
    val group = "retry-kill-" + System.nanoTime()
    val job = new Thread(() => {
      sc.setJobGroup(group, "always-failing retry loop", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).foreach { _ =>
        try Retry.withRetries(tries, onError) {
          attempts.incrementAndGet(); throw new java.io.IOException("transient")
        } finally exitedNs.set(System.nanoTime())
      } catch { case _: Exception => () }
    })
    job.start()
    val deadline = System.nanoTime() + 30000000000L
    while (attempts.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(attempts.get > 0, "the task never started")
    Thread.sleep(200)
    val t0 = System.nanoTime()
    sc.cancelJobGroup(group)
    while (exitedNs.get == 0L && System.nanoTime() - t0 < 5000000000L) Thread.sleep(10)
    assert(exitedNs.get != 0L, "retry loop still running 5 s after the kill")
    job.join(5000)
    ((exitedNs.get - t0) / 1000000, attempts.get)
  }

  test("a task killed without an interrupt leaves the backoff sleep within 1 s") {
    // the first backoff of a 7-try budget is 64 s
    val (ms, n) = killWithoutInterrupt(tries = 7, onError = Retry.expBackoff())
    assert(ms < 1000, s"took $ms ms")
    assert(n === 1)
  }

  test("a task killed without an interrupt stops retrying within 1 s") {
    // a backoff hook that knows nothing of kills, 50 s of budget in all
    val (ms, n) = killWithoutInterrupt(tries = 1000, onError = (_, _) => Thread.sleep(50))
    assert(ms < 1000, s"took $ms ms")
    assert(n < 100, s"$n attempts")
  }
}

object RetrySpec {
  /** Shared with the local-mode task, which runs in this JVM. */
  val attempts = new AtomicInteger(0)
  val exitedNs = new AtomicLong(0L)
}
