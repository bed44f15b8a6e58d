package graft.util

import java.nio.channels.ClosedByInterruptException
import org.apache.spark.TaskKilledException
import scala.annotation.tailrec
import scala.util.control.NonFatal

/** Bounded-retry combinator — the Spark-side twin of the reference's
  * generic `withRetries` (reference package.scala:8-17: tail-recursive,
  * fixed try budget, caller-supplied error hook) with the exponential
  * backoff hook the reference sink installs
  * (reference KinesisGraphStage.scala:92-98: 2^n seconds per retry).
  * The sleeper is injectable so specs run without wall-clock waits.
  *
  * Cancellation always wins over the retry budget: a killed task or a
  * stopped query interrupts its thread, and a retry loop that swallowed
  * the interrupt would keep the thread busy for minutes of backoff.
  */
object Retry {

  /** The calling thread is being cancelled: never retried, and the
    * interrupt flag is re-asserted before the error is rethrown (a
    * thrown InterruptedException has already cleared it). */
  private def cancelled(err: Throwable): Boolean = err match {
    case _: InterruptedException | _: ClosedByInterruptException | _: TaskKilledException => true
    case _ => Thread.currentThread().isInterrupted
  }

  private def rethrow(err: Throwable): Nothing = {
    if (cancelled(err)) Thread.currentThread().interrupt()
    throw err
  }

  /** Runs the error hook (the backoff sleep), so an interrupt there
    * also re-asserts the flag on its way out. */
  private def backoff(onError: (Throwable, Int) => Unit, err: Throwable, tries: Int): Unit =
    try onError(err, tries) catch { case e: Throwable => rethrow(e) }

  /** @param retryable error taxonomy (reference KinesisSource.scala:
    *   290-302): transient/service errors retry, client errors (bad
    *   request, auth) fail fast — retrying them can never succeed. Only
    *   non-fatal, non-cancellation errors reach it. */
  @tailrec
  def withRetries[T](tries: Int = 7, onError: (Throwable, Int) => Unit = (_, _) => (),
                     retryable: Throwable => Boolean = _ => true)(f: => T): T =
    try f catch {
      case err: Throwable =>
        if (!NonFatal(err) || cancelled(err) || tries < 1 || !retryable(err)) rethrow(err)
        backoff(onError, err, tries)
        withRetries(tries - 1, onError, retryable)(f)
    }

  /** 2^n-seconds backoff hook (n = remaining tries, as in the reference),
    * capped so a full 7-try budget can't sleep past `capMs` per wait.
    * The exponent is clamped BEFORE the power: 2^n·1000 wraps negative
    * past n=53, and min(negative, cap) would hand Thread.sleep a
    * negative duration — an IllegalArgumentException thrown from inside
    * the retry hook, aborting every remaining retry on large budgets. */
  def expBackoff(sleeper: Long => Unit = Thread.sleep, capMs: Long = 64000L): (Throwable, Int) => Unit =
    (_, n) => sleeper(
      if (n >= 20) capMs
      else math.min(math.pow(2, n).toLong * 1000L, capMs))
}
