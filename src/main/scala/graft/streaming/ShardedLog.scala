package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** A sharded append-only record log as a Structured Streaming DSv2
  * source — the Spark-native re-expression of the reference's
  * backpressured sharded-stream reader (reference KinesisSource.scala).
  *
  * Layout: `<path>/<shard>/<seq>.rec` (a batch of UTF-8 line records)
  * or `<seq>.recb` (length-prefixed binary payloads — the reference is
  * serialization-format agnostic and streams raw ByteBuffers, reference
  * KinesisSource.scala:68-70), appended atomically; `<seq>` is a
  * zero-padded per-shard sequence number. Mapping of reference
  * semantics:
  *
  *   - iterator types (KinesisSource.scala:29-35) → `startingPosition`
  *     option: `trim_horizon` (oldest retained), `latest` (only records
  *     after query start), `at_timestamp` with `timestampMs` — capped at
  *     "now" exactly like the reference (KinesisSource.scala:99-102);
  *   - shard discovery + resharding (KinesisSource.scala:115-141,
  *     147-163): shard directories are re-listed every micro-batch; a
  *     shard that appears mid-query (a child of a split) is read from
  *     its own trim horizon so no record is lost — the reference's
  *     `iteratorForReshard` rule;
  *   - iterator reissue / resume (KinesisSource.scala:43-65, 279-284):
  *     the offset is a per-shard consumed-sequence map, serialized into
  *     Spark's checkpoint offset log, so restart resumes after the last
  *     delivered record per shard;
  *   - backpressure (demand-driven fetch) → `maxFilesPerTrigger` caps
  *     how far `latestOffset` advances each shard per micro-batch;
  *   - per-shard ordering: one input partition per shard per batch,
  *     files and lines read in sequence order.
  *
  * Scale: shards are the unit of parallelism (shard→partition), state
  * per query is O(#shards) longs, and record payloads stay on executors.
  */
object ShardedLog {
  val Schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("value", StringType, nullable = false),
    // the byte-exact payload (the reference delivers raw ByteBuffers,
    // KinesisSource.scala:68-70); `value` is its UTF-8 text view, lossy
    // for non-UTF-8 records — binary consumers select value_bin
    StructField("value_bin", BinaryType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  val Format = "graft.streaming.ShardedLogProvider"

  /** Append one record file atomically (write temp + move) so readers
    * never observe partial files; replacing an existing seq is allowed so
    * an epoch replay (checkpoint recovery) is idempotent, not
    * duplicating. Returns the file's path. */
  private val ShardName = "[A-Za-z0-9_-]+".r
  def append(root: Path, shard: String, seq: Long, lines: Seq[String]): Path = {
    require(ShardName.matches(shard),
      s"shard name '$shard' must match ${ShardName.regex} (it is a directory name and a JSON offset key)")
    val dir = root.resolve(shard)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".tmp", ".rec")
    Files.write(tmp, lines.asJava, StandardCharsets.UTF_8)
    Files.move(tmp, dir.resolve(f"$seq%08d.rec"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Binary sibling of [[append]] for payloads that do not survive the
    * line-oriented UTF-8 layout (the reference's stream is raw
    * ByteBuffers, KinesisSource.scala:68-70): `<seq>.recb`, each record a
    * 4-byte big-endian length followed by its exact bytes. Same
    * atomicity and idempotent-replace contract as the text form; one
    * file holds one flush, so the per-shard sequence space is shared
    * with `.rec` files. */
  def appendBinary(root: Path, shard: String, seq: Long,
                   payloads: Seq[Array[Byte]]): Path = {
    require(ShardName.matches(shard),
      s"shard name '$shard' must match ${ShardName.regex} (it is a directory name and a JSON offset key)")
    val dir = root.resolve(shard)
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".tmp", ".recb")
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(tmp)))
    try payloads.foreach { p => out.writeInt(p.length); out.write(p) }
    finally out.close()
    Files.move(tmp, dir.resolve(f"$seq%08d.recb"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Files.list returns an open directory stream that MUST be closed:
    * these listings run on the driver every micro-batch (initialOffset,
    * latestOffset, planInputPartitions), so leaking them until GC walks
    * a fast-trigger stream into the fd ulimit. */
  private def withDirStream[T](dir: Path)(f: Iterator[Path] => T): T = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  private[streaming] def listShards(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else withDirStream(root)(_.filter(Files.isDirectory(_)).toSeq)
      .sortBy(_.getFileName.toString)

  /** (seq, path, mtimeMicros) of record files in a shard, seq-ascending.
    * Covers both layouts: `.rec` (UTF-8 lines) and `.recb`
    * (length-prefixed binary payloads, [[appendBinary]]). */
  private[streaming] def listFiles(shardDir: Path): Seq[(Long, Path, Long)] =
    withDirStream(shardDir) {
      _.flatMap { p =>
        val n = p.getFileName.toString
        val stem =
          if (n.startsWith(".")) None
          else if (n.endsWith(".recb")) Some(n.stripSuffix(".recb"))
          else if (n.endsWith(".rec")) Some(n.stripSuffix(".rec"))
          else None
        stem.flatMap(_.toLongOption).map(seq =>
          (seq, p, Files.getLastModifiedTime(p).toMillis * 1000L))
      }.toSeq
    }.sortBy(_._1)

  /** Declare `child` as the product of resharding `parent`: the source
    * will not admit the child's records until every parent record
    * present at a batch's start has been delivered — the reference's
    * parent-before-child reshard ordering (reference
    * KinesisSource.scala:115-141: ancestors drain oldest-first).
    * Layout: `<child>/.parent` holds the parent shard name. */
  def declareParent(root: Path, child: String, parent: String): Unit =
    declareParents(root, child, Seq(parent))

  /** Multi-parent variant for MERGE reshards: a merged child has TWO
    * parents (the reference's `parentShardId` + `adjacentParentShardId`,
    * KinesisSource.scala:135-141), and admission is gated on ALL of them
    * being drained — otherwise the child could deliver while the second
    * parent still holds undelivered records (order inversion).
    * Layout: `<child>/.parent`, one parent shard name per line. */
  def declareParents(root: Path, child: String, parents: Seq[String]): Unit = {
    require(parents.nonEmpty, "declareParents needs at least one parent")
    (child +: parents).foreach(n => require(ShardName.matches(n),
      s"shard name '$n' must match ${ShardName.regex}"))
    val dir = root.resolve(child)
    Files.createDirectories(dir)
    Files.write(dir.resolve(".parent"), parents.asJava, StandardCharsets.UTF_8)
  }

  private[streaming] def parentsOf(root: Path, shard: String): Seq[String] = {
    val f = root.resolve(shard).resolve(".parent")
    if (!Files.isRegularFile(f)) Nil
    else Files.readAllLines(f, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** The reference's read-path error taxonomy (reference
    * KinesisSource.scala:290-302): client-class errors — the file is
    * gone or unreadable by construction — fail the task fast (retrying
    * can never succeed), anything else I/O-shaped is treated as
    * transient (an object-store throttle / flaky NFS in real life) and
    * retried with exponential backoff. */
  private val retryableRead: Throwable => Boolean = {
    case _: java.nio.file.NoSuchFileException | _: java.nio.file.AccessDeniedException => false
    case _: java.io.IOException => true
    case _ => false
  }

  /** Read one record file's lines, retried per [[retryableRead]]. */
  def readRecLines(
      p: Path, tries: Int = 7,
      onError: (Throwable, Int) => Unit = graft.util.Retry.expBackoff()): Seq[String] =
    graft.util.Retry.withRetries(tries, onError, retryableRead)(
      Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq)

  /** Read one record file as byte-exact payloads, whichever layout it
    * uses: `.recb` → length-prefixed frames; `.rec` → UTF-8 lines
    * re-encoded (lossless for that layout — its writer only accepts
    * round-trippable text). Same retry taxonomy as [[readRecLines]]. */
  def readRecPayloads(
      p: Path, tries: Int = 7,
      onError: (Throwable, Int) => Unit = graft.util.Retry.expBackoff()): Seq[Array[Byte]] =
    if (!p.getFileName.toString.endsWith(".recb"))
      readRecLines(p, tries, onError).map(_.getBytes(StandardCharsets.UTF_8))
    else graft.util.Retry.withRetries(tries, onError, retryableRead) {
      val bytes = Files.readAllBytes(p)
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val out = Seq.newBuilder[Array[Byte]]
      while (bb.remaining() >= 4) {
        val n = bb.getInt()
        if (n < 0 || n > bb.remaining())
          // a torn frame cannot happen under the atomic-move write
          // contract — a malformed file is corruption, the fail-fast arm
          // (IllegalStateException is non-retryable in the taxonomy)
          throw new IllegalStateException(
            s"$p: corrupt binary record frame (len=$n, remaining=${bb.remaining()})")
        val a = new Array[Byte](n); bb.get(a); out += a
      }
      if (bb.remaining() != 0)
        throw new IllegalStateException(
          s"$p: trailing ${bb.remaining()} bytes after last frame")
      out.result()
    }
}

/** Per-shard consumed-sequence offset ("everything up to and including
  * seq N of shard S has been delivered"). */
case class ShardedLogOffset(consumed: Map[String, Long]) extends Offset {
  // shard ids come from transport implementations and are unconstrained
  // (only the file log validates its names), so quotes/backslashes MUST
  // be escaped — an unescaped name would corrupt the checkpointed
  // offset and silently reset that shard's position on restart
  override def json(): String =
    consumed.toSeq.sortBy(_._1)
      .map { case (s, n) =>
        "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\":" + n
      }
      .mkString("{", ",", "}")
}

object ShardedLogOffset {
  private val Entry = """"((?:[^"\\]|\\.)*)":(-?\d+)""".r
  def fromJson(json: String): ShardedLogOffset =
    ShardedLogOffset(Entry.findAllMatchIn(json)
      .map(m => m.group(1).replaceAll("""\\(.)""", "$1") -> m.group(2).toLong)
      .toMap)
}

class ShardedLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sharded-log"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ShardedLog.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ShardedLogTable(new CaseInsensitiveStringMap(properties))
}

class ShardedLogTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "sharded_log(" +
    Option(options.get("transport")).map("transport=" + _)
      .getOrElse(options.get("path")) + ")"
  override def schema(): StructType = ShardedLog.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = ShardedLog.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ShardedLogMicroBatchStream(options)
      override def toBatch: Batch = throw new UnsupportedOperationException(
        "sharded-log is a streaming source; use readStream")
    }
}

class ShardedLogMicroBatchStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import ShardedLog._

  /** Trigger.AvailableNow contract: snapshot the frontier at query start
    * and drain exactly up to it — still in rate-limited batches — then
    * let the engine terminate. Without this the engine would run ONE
    * capped batch and stop, silently dropping the rest of the snapshot.
    * (A shard appearing after the snapshot waits for the next run, the
    * same way Kinesis consumers treat a reshard during a bounded drain.) */
  @volatile private var availableNowCap: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(currentMax())
  }

  /** The per-shard max this run may advance to: the AvailableNow
    * snapshot when set, else the live listing. */
  private def frontier(): Map[String, Long] =
    availableNowCap.getOrElse(currentMax())

  /** The injected client surface ([[Transport]] seam): a registered
    * transport when the option names one, else the file-layout reader
    * over `path`. Everything below compiles against the trait only, so
    * swapping the backing client never touches offset/admission logic. */
  private val reader: ShardReader =
    Option(options.get("transport")).map(TransportRegistry.get).getOrElse {
      new FileShardReader(Option(options.get("path")).getOrElse(
        throw new IllegalArgumentException(
          "sharded-log requires a 'path' option (or a registered 'transport')")))
    }
  private val startingPosition: String =
    Option(options.get("startingposition")).getOrElse("trim_horizon").toLowerCase
  private val timestampMs: Option[Long] =
    Option(options.get("timestampms")).map(_.toLong)
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxfilespertrigger")).map(_.toInt)

  /** One describeShards pass → (per-shard frontier, per-shard parents);
    * the maxes half is the admission frontier, the parents half feeds
    * reshard gating. A reader that carries the frontier inline
    * (ShardInfo.maxSeq) costs exactly one client call per trigger;
    * per-shard maxSequence is only the fallback. */
  private def currentState(): (Map[String, Long], Map[String, Seq[String]]) = {
    val infos = reader.describeShards()
    (infos.map(si =>
        si.shardId -> si.maxSeq.getOrElse(reader.maxSequence(si.shardId))).toMap,
      infos.map(si => si.shardId -> si.parents).toMap)
  }

  private def currentMax(): Map[String, Long] = currentState()._1

  override def initialOffset(): Offset = {
    val init = startingPosition match {
      case "trim_horizon" => currentMax().map { case (s, _) => s -> 0L }
      case "latest" => currentMax()
      case "at_timestamp" =>
        val ts = timestampMs.getOrElse(throw new IllegalArgumentException(
          "at_timestamp requires 'timestampMs'"))
        // capped at "now", mirroring reference KinesisSource.scala:99-102
        val effectiveUs = math.min(ts, System.currentTimeMillis()) * 1000L
        reader.describeShards().map(si =>
          si.shardId -> reader.sequenceAtTimestamp(si.shardId, effectiveUs)).toMap
      case other => throw new IllegalArgumentException(
        s"unknown startingPosition '$other' (trim_horizon | latest | at_timestamp)")
    }
    ShardedLogOffset(init)
  }

  // Admission-control path: the engine hands us the start offset, so the
  // per-trigger cap is stateless. Shards unseen in `start` (a reshard
  // split) enter at their trim horizon — reference
  // KinesisSource.scala:147-163 + iteratorForReshard — but a child that
  // DECLARED its parents (declareParent/declareParents) is held back
  // until EVERY declared parent is fully drained as of this batch's
  // start, so every remaining parent record lands in an earlier
  // micro-batch than the child's first (reference
  // KinesisSource.scala:115-141 ancestor ordering; a MERGE child gates
  // on both parentShardId and adjacentParentShardId, reference
  // KinesisSource.scala:135-141). An undeclared child keeps the
  // no-loss-but-unordered behavior.
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ShardedLogOffset].consumed
    val (liveMaxes, parents) = currentState()
    val maxes = availableNowCap.getOrElse(liveMaxes)
    val capped = maxes.flatMap { case (shard, maxSeq) =>
      val s = from.getOrElse(shard, 0L)
      val gatedByParent = s == 0L && parents.getOrElse(shard, Nil).exists { p =>
        maxes.get(p).exists(pMax => from.getOrElse(p, 0L) < pMax)
      }
      if (gatedByParent) None
      else {
        val to = maxFilesPerTrigger.fold(maxSeq)(m => math.min(maxSeq, s + m))
        Some(shard -> math.max(s, to))
      }
    }
    // a consumed position must NEVER leave the offset just because its
    // shard is absent from this trigger's listing (transient partial
    // listing, unmounted shard dir): dropping it would re-read the
    // whole shard from the trim horizon when it reappears — duplicate
    // delivery of every committed record
    val preserved = from.filter { case (shard, _) => !maxes.contains(shard) }
    ShardedLogOffset(preserved ++ capped)
  }

  /** True (uncapped) latest, so processAllAvailable keeps triggering
    * until the rate-limited batches catch up (bounded by the
    * AvailableNow snapshot when one is armed). */
  override def reportLatestOffset(): Offset = ShardedLogOffset(frontier())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardedLogOffset].consumed
    val e = end.asInstanceOf[ShardedLogOffset].consumed
    e.toSeq.sortBy(_._1).flatMap { case (shard, endSeq) =>
      val startSeq = s.getOrElse(shard, 0L)
      // one partition per shard per batch (shard = unit of parallelism);
      // the range fetch itself runs executor-side through the reader
      if (endSeq <= startSeq) None
      else Some(ShardedLogPartition(shard, startSeq, endSeq, reader): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new ShardedLogReader(partition.asInstanceOf[ShardedLogPartition])

  override def deserializeOffset(json: String): Offset =
    ShardedLogOffset.fromJson(json)

  override def commit(end: Offset): Unit =
    // release per-position reader state below the committed frontier
    // (bounds the Kinesis adapter's ledger to the unconsumed backlog)
    end.asInstanceOf[ShardedLogOffset].consumed.foreach { case (shard, seq) =>
      reader.prune(shard, seq)
    }
  override def stop(): Unit = ()
}

/** A shard's sequence range `(afterSeq, toSeq]` plus the transport that
  * can fetch it — the serialized task payload. */
case class ShardedLogPartition(shard: String, afterSeq: Long, toSeq: Long,
                               reader: ShardReader) extends InputPartition

/** Streams a shard's records in sequence order through the injected
  * [[ShardReader]] — the per-shard ordering guarantee. The file-backed
  * reader's IO goes through the retrying, taxonomy-aware
  * ShardedLog.readRecLines. */
class ShardedLogReader(partition: ShardedLogPartition) extends PartitionReader[InternalRow] {
  private val rows: Iterator[InternalRow] =
    partition.reader.read(partition.shard, partition.afterSeq, partition.toSeq).map { r =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(r.shard), r.seq, UTF8String.fromString(r.value),
        r.payload, r.tsUs))
    }
  private var current: InternalRow = _
  override def next(): Boolean = { if (rows.hasNext) { current = rows.next(); true } else false }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
