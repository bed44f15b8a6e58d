package graft.streaming

import graft.util.Retry
import scala.collection.mutable

/** Buffering, batching record writer — the Spark-side re-expression of
  * the reference's publishing stage (reference KinesisGraphStage.scala).
  * Used per partition inside `foreachBatch`/`mapPartitions`, so every
  * executor core runs one independent sink instance (the reference runs
  * one per stream materialization).
  *
  * Reference semantics preserved:
  *   - buffer up to `maxBufferSize` (=500, the AWS hard cap), flush once
  *     `sendingThreshold` (=250) is reached or upstream completes
  *     (KinesisGraphStage.scala:24-26, 57-74);
  *   - the whole flush goes through bounded retry with exponential
  *     backoff (KinesisGraphStage.scala:92-98 + package.scala:8-17);
  *   - per-record result routing (KinesisGraphStage.scala:110-125):
  *     throttled records are re-queued into the buffer for the next
  *     flush, other failures emit `Left(error)`, successes emit
  *     `Right(record)` — the dead-letter channel. Unlike the reference,
  *     the requeue is bounded: a record throttled more than `maxTries`
  *     times emits `Left(PutError(record, ThrottledCode))`, so a
  *     writer that throttles forever cannot hang the sink;
  *   - rate-limit self-throttling off the hot path: a flush that saw
  *     throttling sleeps `throttleBackoffMs` (=800) before returning
  *     (KinesisGraphStage.scala:100-108).
  */
object BatchingSink {
  val ThrottledCode = "ProvisionedThroughputExceededException"

  /** Client-side errors that can never succeed on retry — the fail-fast
    * arm of the reference's error taxonomy. */
  final class ClientException(message: String) extends RuntimeException(message)

  /** Transport result for one record (None = success). */
  final case class PutResult(errorCode: Option[String])
  /** A failed record with its error code — the `Left` channel. */
  final case class PutError[A](record: A, errorCode: String)

  final case class Config(
      sendingThreshold: Int = 250,
      maxBufferSize: Int = 500,
      maxTries: Int = 7,
      throttleBackoffMs: Long = 800L)

  /** Sink wired to an injected client ([[RecordWriter]], the
    * [[Transport]] seam) — the analog of the reference's `withClient`
    * entry point (KinesisGraphStage.scala:28-30), which takes the AWS
    * client and runs the same buffer/flush/requeue machinery over its
    * `putRecords`. */
  def over[A: ToRecord](
      writer: RecordWriter,
      config: Config = Config(),
      sleeper: Long => Unit = Thread.sleep): BatchingSink[A] =
    serialized[A](writer.putRecords, config, sleeper)

  /** Sink over a byte-level transport, records serialized through the
    * ToRecord typeclass (reference ToPutRecordsRequest.scala). */
  def serialized[A: ToRecord](
      putBytes: Seq[(String, Array[Byte])] => Seq[PutResult],
      config: Config = Config(),
      sleeper: Long => Unit = Thread.sleep): BatchingSink[A] = {
    val enc = ToRecord[A]
    new BatchingSink[A](
      batch => putBytes(batch.map(a => (enc.partitionKey(a), enc.payload(a)))),
      config, sleeper)
  }
}

class BatchingSink[A](
    put: Seq[A] => Seq[BatchingSink.PutResult],
    config: BatchingSink.Config = BatchingSink.Config(),
    sleeper: Long => Unit = Thread.sleep) extends Serializable {
  import BatchingSink._

  // The flush-batch bound: a batch is at most sendingThreshold records
  // (fills stop at the threshold; requeued throttles never exceed the
  // previous batch, so the bound holds inductively), and the transport's
  // per-call cap is maxBufferSize — so the cap is enforced here, at
  // construction, not per flush. An unchecked threshold > cap would send
  // batches the transport rejects wholesale (AWS caps PutRecords at 500).
  require(config.sendingThreshold >= 1 &&
    config.sendingThreshold <= config.maxBufferSize,
    s"sendingThreshold ${config.sendingThreshold} must be in [1, maxBufferSize ${config.maxBufferSize}]")

  /** Drain `records`, emitting the success/failure channel in completion
    * order. Lazily pulls from upstream only when the buffer has room —
    * the iterator-pull analog of the reference's demand-driven `pull(in)`
    * (KinesisGraphStage.scala:70-74) — and emits INCREMENTALLY, flush by
    * flush: each downstream pull advances upstream just far enough to
    * justify one flush and yields that flush's channel, matching the
    * reference's per-flush `emitMultiple` (KinesisGraphStage.scala:
    * 110-125). Peak state is therefore one buffer (≤ maxBufferSize) plus
    * one flush's results — O(batch), not O(partition); the previous form
    * accumulated the whole partition's Either channel before returning,
    * which at a fat 100 TB partition is an O(partition) heap hold. */
  def run(records: Iterator[A]): Iterator[Either[PutError[A], A]] = {
    // each buffered record with the number of times it was throttled
    val buffer = mutable.Queue.empty[(A, Int)]

    def flush(): Seq[Either[PutError[A], A]] = {
      if (buffer.isEmpty) Seq.empty
      else {
        val batch = buffer.dequeueAll(_ => true).toSeq
        val results = Retry.withRetries(
          tries = config.maxTries,
          onError = Retry.expBackoff(sleeper),
          // service errors retry with backoff; client errors fail fast
          // (reference KinesisSource.scala:290-302 taxonomy)
          retryable = !_.isInstanceOf[ClientException]) {
          put(batch.map(_._1))
        }
        require(results.length == batch.length,
          s"transport returned ${results.length} results for ${batch.length} records")
        val out = mutable.ArrayBuffer.empty[Either[PutError[A], A]]
        var throttled = 0
        results.lazyZip(batch).foreach { case (r, (a, throttles)) =>
          r.errorCode match {
            case Some(ThrottledCode) =>
              throttled += 1
              if (throttles < config.maxTries) buffer.enqueue((a, throttles + 1))
              else out += Left(PutError(a, ThrottledCode))
            case Some(code) => out += Left(PutError(a, code))
            case None => out += Right(a)
          }
        }
        if (throttled > 0) sleeper(config.throttleBackoffMs)
        out.toSeq
      }
    }

    val flushes = new Iterator[Seq[Either[PutError[A], A]]] {
      override def hasNext: Boolean = records.hasNext || buffer.nonEmpty
      override def next(): Seq[Either[PutError[A], A]] = {
        // fill until the flush point (threshold, or upstream close);
        // requeued throttles left >= threshold flush before new pulls,
        // so the buffer never outgrows maxBufferSize
        while (records.hasNext && buffer.length < config.sendingThreshold)
          buffer.enqueue((records.next(), 0))
        flush()
      }
    }
    flushes.flatten
  }
}
